"""Plan-shape snapshot diff (PLAN_FINGERPRINTS.json): relative plan
regressions — a broadcast degrading to sort-merge, an extra exchange,
a duplicated scan — stay legal for the static audit but multiply cost
at 100 TB. Every key's strategy-level fingerprint is committed; this
test re-derives a representative subset live and diffs.

After an INTENTIONAL plan change: `python scripts/plan_fingerprints.py`
and commit the JSON diff — the diff is the review artifact.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from movierecommender_sentimentanalysissytem_spark.plans.audit import audit_plans
from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
    _counted,
)
from tests.conftest import SF_SMALL

STORED = json.loads(
    (Path(__file__).resolve().parents[1] / "PLAN_FINGERPRINTS.json").read_text()
)

# Strategy-bearing representatives: every join algorithm, the cached /
# broadcast / window / explode shapes, the scale-critical rewrites, and
# the bench headline set.
SUBSET = [
    "join_broadcast",
    "join_star_multiway",
    "join_inner_equi",
    "join_left_anti",
    "join_range_binned",
    "join_interval_overlap",
    "join_asof",
    "join_bucketed_colocated",
    "join_temporal_snapshot",
    "join_fuzzy_levenshtein",
    "geo_grid_proximity_join",
    "join_dynamic_partition_pruning",
    "maintenance_snapshot_diff",
    "agg_groupby",
    "agg_skew_salted",
    "agg_grouping_sets",
    "win_row_number_topk",
    "win_ntile_percent",
    "win_running_sum",
    "sort_multikey",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "sim_cosine_pairwise",
    "sim_topk_neighbors",
    "text_tfidf",
    "text_keyword_cooccurrence",
    "ml_batch_scoring",
    "ml_feature_scaling",
    "ml_eval_rmse",
    "rec_item_similarity",
    # caches nested in caches: each cached operator counts once
    "rec_association_rules",
    "rec_multihop_expansion",
    "graph_triangle_count",
    "quality_benford_digits",
    "quality_expectation_suite",
    "embedding_random_projection",
    "events_dau_rolling",
    "sessionize_batch",
    "curation_chunk_overlap",
    "stream_tumbling_window",
    "stream_windowed_topk",
    "join_hint_shuffle_hash",
    "ml_kmeans_lloyd",
    "stats_kaplan_meier",
]


def test_subset_is_covered_by_snapshot():
    missing = [k for k in SUBSET if k not in STORED]
    assert not missing, f"regenerate PLAN_FINGERPRINTS.json: {missing}"


@pytest.fixture(scope="module")
def live(spark):
    return audit_plans(spark, SF_SMALL, keys=set(SUBSET))[0]


@pytest.mark.parametrize("key", SUBSET)
def test_plan_fingerprint_unchanged(live, key):
    assert live[key] == STORED[key], (
        f"{key}: plan shape drifted.\n  stored: {STORED[key]}\n  "
        f"live:   {live[key]}\nIf intentional, regenerate "
        f"PLAN_FINGERPRINTS.json (scripts/plan_fingerprints.py) and "
        f"commit the diff."
    )


def test_fingerprint_counts_longest_prefix():
    """``SortAggregate`` is not a ``Sort`` and ``WindowGroupLimit`` is
    not a ``Window``: each name counts under its longest prefix. A scan
    of a catalog table (a dotted name) is a ``Scan parquet`` too."""
    assert {
        name: _counted(name)
        for name in (
            "AdaptiveSparkPlan",
            "SortAggregate",
            "Sort",
            "Window",
            "WindowGroupLimit",
            "Exchange",
            "BroadcastExchange",
            "ReusedExchange",
            "SortMergeJoin",
            "Scan parquet ",
            "Scan parquet spark_catalog.default.mrsas_bkt_lineitem",
        )
    } == {
        "AdaptiveSparkPlan": None,
        "SortAggregate": "SortAggregate",
        "Sort": "Sort",
        "Window": "Window",
        "WindowGroupLimit": "WindowGroupLimit",
        "Exchange": "Exchange",
        "BroadcastExchange": "BroadcastExchange",
        "ReusedExchange": None,
        "SortMergeJoin": "SortMergeJoin",
        "Scan parquet ": "Scan parquet",
        "Scan parquet spark_catalog.default.mrsas_bkt_lineitem": "Scan parquet",
    }


def _object_counts(spark, plan) -> dict[str, int]:
    """Ground truth for ``fingerprint``: a plain walk over the physical
    plan OBJECTS (through adaptive plans, query stages and cached
    plans), counting each object once by identity and naming it by its
    ``_COUNTED`` prefix. It keeps no parents and no preorder, so it
    checks ``plan_nodes``' dedup, descent and codegen pass-through
    independently of how that walker is written."""
    ident = spark._jvm.java.lang.System.identityHashCode
    seen: set[int] = set()
    counts: dict[str, int] = {}
    stack = [plan]
    while stack:
        node = stack.pop()
        if ident(node) in seen:
            continue
        seen.add(ident(node))
        cls = node.getClass().getSimpleName()
        prefix = _counted(node.nodeName())
        if prefix is not None and cls not in ("WholeStageCodegenExec", "InputAdapter"):
            counts[prefix] = counts.get(prefix, 0) + 1
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return counts


@pytest.mark.parametrize(
    "key", ["rec_association_rules", "rec_multihop_expansion", "graph_triangle_count"]
)
def test_fingerprint_matches_the_physical_plan_objects(spark, key):
    """Caches nested in caches are where the walk has most to get right;
    there ``fingerprint`` must equal a plain count over the plan objects
    themselves."""
    from movierecommender_sentimentanalysissytem_spark import registry
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        fingerprint,
    )

    df = registry.queries()[key](spark, SF_SMALL)
    truth = _object_counts(spark, df._jdf.queryExecution().executedPlan())
    assert fingerprint(df) == truth
