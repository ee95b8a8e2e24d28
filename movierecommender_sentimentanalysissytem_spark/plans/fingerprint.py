"""Physical-plan fingerprints: a compact, environment-stable summary of
each query's plan shape, for snapshot-diff regression testing.

The static audit (plans/audit.py) catches absolute pathologies
(CartesianProduct, unreviewed nested loops, single-partition sorts); a
fingerprint catches RELATIVE regressions the audit is blind to — a
broadcast join silently degrading to sort-merge, an extra exchange
appearing in a lineage, a scan duplicating because a cache stopped
being reused. Those are exactly the changes that keep a plan "legal"
while multiplying its cost at 100 TB.

Both checks read the plan from the JVM physical-plan objects through
one walker, ``plan_nodes``, never from ``explain`` text. The walk goes
into adaptive plans, query stages and cached plans, and visits every
node once by object identity, so a cache read by four branches counts
its inner operators once, and an adaptive plan's initial plan (a
fresh copy of the same shape) is never reached. A fingerprint counts
node names only — never partition counts, paths or statistics — so it
is stable across runs, shuffle-partition settings and fixture scale
factors, while still pinning the strategy-level shape.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator
from typing import Any, NamedTuple

from pyspark.sql import DataFrame

# Node-name prefixes that define the fingerprint. Keep strategy-level:
# join algorithms, exchanges, scans, generates, windows, sorts.
_COUNTED = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange",
    "BroadcastExchange",
    "Scan parquet",
    "InMemoryTableScan",
    "Generate",
    "Window",
    "WindowGroupLimit",
    "Sort",
    "TakeOrderedAndProject",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Expand",
)

# Code-generation wrappers: formatted explain hides them, and so does
# the walk (their children report the wrapper's parent as theirs).
_PASS_THROUGH = frozenset({"WholeStageCodegenExec", "InputAdapter"})


def _wrapper(cls: str) -> bool:
    """Adaptive-execution wrappers: walked and yielded, but their
    children report the wrapper's parent as theirs, so an exchange
    inside a materialized stage names the operator that reads it."""
    return cls.endswith("QueryStageExec") or cls == "AQEShuffleReadExec"


def _counted(name: str) -> str | None:
    """The longest ``_COUNTED`` prefix of a node name, so that
    ``SortAggregate`` counts as itself rather than as ``Sort``,
    ``WindowGroupLimit`` rather than ``Window``, and every
    ``Scan parquet <table>`` as ``Scan parquet``. Join subtypes
    (Inner/LeftOuter/...) normalize away: the STRATEGY is the
    fingerprint, the type is the query's semantics and already
    oracle-checked."""
    return max(
        (p for p in _COUNTED if name.startswith(p)), key=len, default=None
    )


class PlanNode(NamedTuple):
    name: str  # nodeName(), e.g. "SortMergeJoin", "Scan parquet t"
    cls: str  # JVM class simple name, e.g. "ShuffleExchangeExec"
    parent: str  # nearest non-wrapper parent's name ("" at the root)
    obj: Any  # the py4j handle, for node-specific reads


def plan_nodes(df: DataFrame) -> Iterator[PlanNode]:
    """Every node of ``df``'s executed physical plan, once, in preorder.

    The walk enters an ``AdaptiveSparkPlanExec``'s current plan, a
    query stage's plan and an ``InMemoryTableScanExec``'s cached plan,
    besides ordinary children. Nodes are deduplicated by JVM reference
    identity (a ``java.util.IdentityHashMap``), so a subtree reached
    through several references — one cache scanned by two branches —
    is visited once; two distinct nodes are never merged."""
    jvm = df.sparkSession._jvm
    seen = jvm.java.util.IdentityHashMap()
    stack: list[tuple[Any, str]] = [
        (df._jdf.queryExecution().executedPlan(), "")
    ]
    while stack:
        node, parent = stack.pop()
        if seen.put(node, True) is not None:
            continue
        cls = node.getClass().getSimpleName()
        if cls in _PASS_THROUGH:
            below = parent
        else:
            name = node.nodeName()
            yield PlanNode(name, cls, parent, node)
            below = parent if _wrapper(cls) else name
        children = node.children()
        kids = [children.apply(i) for i in range(children.size())]
        if cls == "AdaptiveSparkPlanExec":
            kids.insert(0, node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            kids.insert(0, node.plan())
        elif cls == "InMemoryTableScanExec":
            kids.insert(0, node.relation().cachedPlan())
        stack.extend((kid, below) for kid in reversed(kids))


def tally(nodes) -> dict[str, int]:
    """Count walked nodes by their ``_COUNTED`` prefix."""
    return dict(Counter(p for n in nodes if (p := _counted(n.name)) is not None))


def fingerprint(df: DataFrame) -> dict[str, int]:
    """Strategy-level node counts of ``df``'s physical plan."""
    return tally(plan_nodes(df))
