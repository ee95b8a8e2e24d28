"""Plan-shape snapshot diff (PLAN_FINGERPRINTS.json) and the static
plan audit, from one sweep over the registry: relative plan
regressions — a broadcast degrading to sort-merge, an extra exchange,
a duplicated scan — stay legal for the static audit but multiply cost
at 100 TB. Every key's strategy-level fingerprint is committed; the
sweep (``plans/audit.audit_plans``) builds each key once, re-derives
every fingerprint live and diffs, and checks the audit's flags.

After an INTENTIONAL plan change: `python scripts/plan_fingerprints.py`
and commit the JSON diff — the diff is the review artifact.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from movierecommender_sentimentanalysissytem_spark import registry
from movierecommender_sentimentanalysissytem_spark.plans.audit import (
    SKIP,
    audit_plans,
)
from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
    _counted,
)
from tests.conftest import SF_SMALL

STORED = json.loads(
    (Path(__file__).resolve().parents[1] / "PLAN_FINGERPRINTS.json").read_text()
)


@pytest.fixture(scope="module")
def sweep(spark):
    return audit_plans(spark, SF_SMALL)


@pytest.mark.slow
def test_sweep_covers_the_snapshot(sweep):
    """Every key outside SKIP builds, and the snapshot holds exactly
    those keys. SKIP keys are rows-only, so the sweep's output-type
    rule reaches every key with an oracle."""
    live = sweep[0]
    errors = {k: v["__error__"] for k, v in live.items() if "__error__" in v}
    assert not errors, errors
    assert set(live) == set(STORED), (
        f"regenerate PLAN_FINGERPRINTS.json: {sorted(set(live) ^ set(STORED))}"
    )
    assert not SKIP & set(registry.oracle_sql())


@pytest.mark.slow
@pytest.mark.parametrize("key", sorted(STORED))
def test_plan_fingerprint_unchanged(sweep, key):
    live = sweep[0]
    assert live.get(key) == STORED[key], (
        f"{key}: plan shape drifted.\n  stored: {STORED[key]}\n  "
        f"live:   {live.get(key)}\nIf intentional, regenerate "
        f"PLAN_FINGERPRINTS.json (scripts/plan_fingerprints.py) and "
        f"commit the diff."
    )


@pytest.mark.slow
def test_audit_flags_nothing(sweep):
    assert not sweep[1], "\n".join(sweep[1])


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
