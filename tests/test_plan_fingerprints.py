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

from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
    collect,
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
    "rec_association_rules",
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
    return collect(spark, SF_SMALL, keys=set(SUBSET))


@pytest.mark.parametrize("key", SUBSET)
def test_plan_fingerprint_unchanged(live, key):
    assert live[key] == STORED[key], (
        f"{key}: plan shape drifted.\n  stored: {STORED[key]}\n  "
        f"live:   {live[key]}\nIf intentional, regenerate "
        f"PLAN_FINGERPRINTS.json (scripts/plan_fingerprints.py) and "
        f"commit the diff."
    )


def test_fingerprint_parser_on_synthetic_plan():
    """The fingerprint must count tree nodes by strategy name and
    ignore ids, arguments, and the repeated detail blocks — otherwise
    a 'snapshot unchanged' result could be vacuous."""
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        fingerprint,
    )

    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)
   +- Exchange (7)
      +- HashAggregate (6)
         +- Project (5)
            +- SortMergeJoin Inner (4)
               :- Sort (3)
               :  +- Exchange (2)
               :     +- Scan parquet  (1)
               +- Sort (10)
                  +- Exchange (2)
                     +- Scan parquet  (1)

(1) Scan parquet
Output: [a]

(7) Exchange
Arguments: SinglePartition
"""
    fp = fingerprint(plan)
    # ids dedup repeated references: the shared Exchange (2) / Scan (1)
    # subtree under both join sides is ONE physical subtree, printed
    # twice — counting it per reference (the pre-r14 behavior) inflated
    # every cached/reused lineage by its fan-out and drowned real
    # regressions in reference-count noise.
    assert fp == {
        "HashAggregate": 2,
        "Exchange": 2,
        "SortMergeJoin": 1,
        "Sort": 2,
        "Scan parquet": 1,
    }


def test_fingerprint_skips_initial_plan_and_dedups_cache_references():
    """A MATERIALIZED InMemoryRelation (scoped_persist is eager since
    r14) prints its inner AdaptiveSparkPlan as a Final+Initial pair
    under EVERY reference. The fingerprint must count the final inner
    plan once and ignore the Initial copy (fresh ids, same shape)."""
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        fingerprint,
    )

    plan = """== Physical Plan ==
AdaptiveSparkPlan (20)
+- HashAggregate (19)
   +- Exchange (18)
      +- SortMergeJoin Inner (17)
         :- InMemoryTableScan (1)
         :     +- InMemoryRelation (2)
         :           +- AdaptiveSparkPlan (12)
                        +- == Final Plan ==
                           ResultQueryStage (11)
                           +- * HashAggregate (10)
                              +- ShuffleQueryStage (9)
                                 +- Exchange (8)
                                    +- * Scan parquet  (7)
                        +- == Initial Plan ==
                           HashAggregate (6)
                           +- Exchange (5)
                              +- Scan parquet  (7)
         +- InMemoryTableScan (13)
               +- InMemoryRelation (14)
                     +- AdaptiveSparkPlan (12)
                        +- == Final Plan ==
                           ResultQueryStage (11)
                           +- * HashAggregate (10)
                              +- ShuffleQueryStage (9)
                                 +- Exchange (8)
                                    +- * Scan parquet  (7)
                        +- == Initial Plan ==
                           HashAggregate (6)
                           +- Exchange (5)
                              +- Scan parquet  (7)

(7) Scan parquet
Output: [a]
"""
    fp = fingerprint(plan)
    assert fp == {
        "HashAggregate": 2,  # outer (19) + cached final (10), once
        "Exchange": 2,  # outer (18) + cache-build (8), once
        "SortMergeJoin": 1,
        "InMemoryTableScan": 2,  # two genuine references
        "Scan parquet": 1,  # inside the cache, built once
    }


def test_fingerprint_counts_longest_prefix():
    """``SortAggregate`` is not a ``Sort`` and ``WindowGroupLimit`` is
    not a ``Window``: each name counts under its longest prefix."""
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        fingerprint,
    )

    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- SortAggregate (8)
   +- Sort (7)
      +- Window (6)
         +- WindowGroupLimit (5)
            +- Sort (4)
               +- Exchange (3)
                  +- SortMergeJoin LeftOuter (2)
                     +- Scan parquet  (1)
"""
    assert fingerprint(plan) == {
        "SortAggregate": 1,
        "Sort": 2,
        "Window": 1,
        "WindowGroupLimit": 1,
        "Exchange": 1,
        "SortMergeJoin": 1,
        "Scan parquet": 1,
    }


def test_fingerprint_scopes_id_dedup_to_each_plan_section():
    """Ids are deduplicated within one printed section only: two
    different caches whose inner plans reuse the same ids (or reuse an
    outer-tree id) are all counted, while a repeated printing of one
    cache's inner plan is still counted once."""
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        fingerprint,
    )

    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- SortMergeJoin Inner (8)
   :- InMemoryTableScan (1)
   :     +- InMemoryRelation (2)
   :           +- HashAggregate (3)
   :              +- Exchange (2)
   :                 +- Scan parquet  (1)
   :- InMemoryTableScan (4)
   :     +- InMemoryRelation (5)
   :           +- HashAggregate (3)
   :              +- Exchange (2)
   :                 +- Scan parquet  (1)
   +- InMemoryTableScan (6)
         +- InMemoryRelation (7)
               +- Sort (3)
                  +- Exchange (2)
                     +- Scan parquet  (1)
"""
    assert fingerprint(plan) == {
        "SortMergeJoin": 1,
        "InMemoryTableScan": 3,
        "HashAggregate": 1,  # one cache, printed twice
        "Sort": 1,  # a second cache reusing ids (3), (2), (1)
        "Exchange": 2,
        "Scan parquet": 2,
    }


def test_fingerprint_walks_a_cache_nested_in_a_cache():
    """A cache built on another cache prints the inner cache's
    Final/Initial sections at columns that ignore the enclosing
    indentation (here 21, shallower than the outer relation's 39), and
    the outer plan then resumes where a child of the inner Initial
    plan's last leaf would sit (BroadcastQueryStage (15) under
    ``Scan parquet (5)``). The walk must count the inner cache's final
    plan once, skip both Initial plans, and give the BroadcastQueryStage
    subtree back to its real parent, the BroadcastHashJoin."""
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        fingerprint,
    )

    plan = """== Physical Plan ==
AdaptiveSparkPlan (20)
+- HashAggregate (19)
   +- InMemoryTableScan (1)
         +- InMemoryRelation (2)
               +- AdaptiveSparkPlan (18)
                  +- == Final Plan ==
                     ResultQueryStage (17)
                     +- * BroadcastHashJoin Inner BuildRight (16)
                        :- InMemoryTableScan (3)
                        :     +- InMemoryRelation (4)
                        :           +- AdaptiveSparkPlan (9)
                  +- == Final Plan ==
                     ResultQueryStage (7)
                     +- Exchange (6)
                        +- * Scan parquet  (5)
                  +- == Initial Plan ==
                     Exchange (8)
                     +- Scan parquet  (5)
                        +- BroadcastQueryStage (15)
                           +- BroadcastExchange (14)
                              +- * Scan parquet  (13)
                  +- == Initial Plan ==
                     BroadcastHashJoin Inner BuildRight (12)
                     :- Scan parquet  (10)
                     +- BroadcastExchange (11)
                        +- Scan parquet  (13)

(1) InMemoryTableScan
Output: [a]
"""
    assert fingerprint(plan) == {
        "HashAggregate": 1,
        "InMemoryTableScan": 2,
        "BroadcastHashJoin": 1,
        "Exchange": 1,  # (6); (8) is an Initial plan's
        "Scan parquet": 2,  # (5) and (13)
        "BroadcastExchange": 1,
    }


def _object_counts(spark, plan) -> dict[str, int]:
    """Ground truth for ``fingerprint``: walk the physical plan OBJECTS
    (through adaptive plans, query stages and cached plans), count each
    object once by identity, and name it as the fingerprint would."""
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        _counted,
    )

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
        name = node.nodeName()
        prefix = _counted("Scan parquet" if name.startswith("Scan parquet") else name)
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
    """Caches nested in caches are where the printed tree is hardest to
    read; there the text fingerprint must equal a count over the plan
    objects themselves."""
    import contextlib
    import io

    from movierecommender_sentimentanalysissytem_spark import registry
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        fingerprint,
    )

    df = registry.queries()[key](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    truth = _object_counts(spark, df._jdf.queryExecution().executedPlan())
    assert fingerprint(buf.getvalue()) == truth
