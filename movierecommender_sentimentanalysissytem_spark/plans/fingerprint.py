"""Physical-plan fingerprints: a compact, environment-stable summary of
each query's plan shape, for snapshot-diff regression testing.

The static audit (plans/audit.py) catches absolute pathologies
(CartesianProduct, unreviewed nested loops, single-partition sorts); a
fingerprint catches RELATIVE regressions the audit is blind to — a
broadcast join silently degrading to sort-merge, an extra exchange
appearing in a lineage, a scan duplicating because a cache stopped
being reused. Those are exactly the changes that keep a plan "legal"
while multiplying its cost at 100 TB.

A fingerprint's OUTPUT is derived only from plan-tree node names —
never from partition counts, temp paths, or statistics — so it is
stable across runs, shuffle-partition settings, and fixture scale
factors, while still pinning the strategy-level shape. Node ids are
consulted for exactly one thing: deduplicating repeated printings of
the same physical node within one printed plan section (cached subplans
are printed once per reference); they never reach the fingerprint
itself.
"""

from __future__ import annotations

import re

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


# The printed tree leaves one ambiguity: the last line of a nested
# cache's sections is a leaf, and the next line (a child of some
# ancestor) can sit exactly where that leaf's child or inner child
# would. So only these nodes, besides InMemoryRelation, take inner
# children (printed two levels down): a cache scan's relation and a
# recursive CTE's loop body. And leaves (by the first word of their
# name: ``Scan parquet``, ``BatchScan <source>``) take no children.
_INNER_PARENTS = ("InMemoryTableScan", "UnionLoop")
_LEAVES = frozenset({
    "Scan", "BatchScan", "InMemoryTableScan", "LocalTableScan",
    "OneRowRelation", "Range", "ReusedExchange", "UnionLoopRef",
})

_NODE_RE = re.compile(
    r"^[:+\-| ]*\*?\s*\(?\d*\)?\s*([A-Za-z][\w ]*?)\s*\((\d+)\)"
)


def _content_col(raw: str) -> int:
    j = 0
    while j < len(raw) and raw[j] in ":+-| ":
        j += 1
    return j


def _counted(name: str) -> str | None:
    """The longest ``_COUNTED`` prefix of a node name, so that
    ``SortAggregate`` counts as itself rather than as ``Sort`` and
    ``WindowGroupLimit`` rather than ``Window``. Join subtypes
    (Inner/LeftOuter/...) normalize away: the STRATEGY is the
    fingerprint, the type is the query's semantics and already
    oracle-checked."""
    return max(
        (p for p in _COUNTED if name.startswith(p)), key=len, default=None
    )


def fingerprint(plan: str) -> dict[str, int]:
    """Summarize a ``explain("formatted")`` string into node counts.

    Only the tree section is parsed (the detail blocks repeat node
    names); arguments are ignored. Two normalizations keep the counts
    meaningful in the presence of cached subplans (r14):

    - every node is counted ONCE per plan id within its printed plan
      section — an InMemoryRelation's inner plan is printed verbatim
      under each of its references (same text, SAME node ids), so
      without the dedup a 4-reference cache inflated every inner
      operator 4x and drowned real regressions in reference-count
      noise;
    - ``== Initial Plan ==`` sections are skipped — a MATERIALIZED
      cache (scoped_persist is eager since r14) prints its
      AdaptiveSparkPlan as final+initial plan pairs, and the initial
      copy duplicates the final one with fresh node ids.
    """
    tree = plan.split("\n\n")[0].splitlines()
    return _PlanWalk([_Line(raw) for raw in tree]).counts


class _Line:
    """One tree line: content column, text after the tree-drawing
    prefix, and whether the prefix marks the last child (``+-``)."""

    def __init__(self, raw: str) -> None:
        self.col = _content_col(raw)
        self.text = raw[self.col:]
        self.last = raw[: self.col].endswith("+- ")


class _PlanWalk:
    """Walk the printed tree by its structure, not by column alone.

    Spark prints a node's inner children (an InMemoryTableScan's
    relation, an InMemoryRelation's cached plan) two levels (6 columns)
    under it and its children one level (3 columns) under it; the last
    child's prefix is ``+-``, earlier siblings' ``:-``. An
    AdaptiveSparkPlan is followed by ``== Final Plan ==`` /
    ``== Initial Plan ==`` headers whose column ignores the enclosing
    indentation, and each section's tree restarts at the header's
    column. So a cache nested in a cache prints its sections at columns
    SHALLOWER than its parent's, and a plain dedent test cannot tell
    where a cached block ends; this recursive walk can.

    Ids are deduplicated per printed section: the outer tree is one
    section and each InMemoryRelation's inner plan is another, with a
    fresh seen set, so an id reused by another cache's numbering (or
    by the outer tree) never hides a distinct operator. A cache
    referenced twice prints the same inner block twice; a block whose
    counted lines were already counted is not counted again.
    """

    def __init__(self, lines: list[_Line]) -> None:
        self.lines = lines
        self.i = 0
        self.counts: dict[str, int] = {}
        self.blocks: set[tuple[str, ...]] = set()
        self.counted: list[str] = []  # text of every counted line, in order
        outer: set[tuple[str, str]] = set()
        while self.i < len(lines):
            if self._node_at(lines[self.i].col):
                self._node(outer, self.counts)
            else:  # the "== Physical Plan ==" banner
                self.i += 1

    def _node_at(self, col: int) -> bool:
        """Whether the next line is a node (not a section header) at
        ``col``. Nodes without a plan id, e.g. the ``Aggregate
        (unknown)`` under an ``EmptyRelation``, are nodes too."""
        if self.i >= len(self.lines):
            return False
        line = self.lines[self.i]
        return line.col == col and bool(line.text) and not line.text.startswith("==")

    def _subtrees(
        self,
        parent: _Line,
        inner: bool,
        seen: set[tuple[str, str]],
        counts: dict[str, int] | None,
    ) -> None:
        """Consume ``parent``'s children (``inner``: its inner children),
        up to and including the last one."""
        col = parent.col + (6 if inner else 3)
        while self._node_at(col):
            if self._node(seen, counts):
                break

    def _node(
        self, seen: set[tuple[str, str]], counts: dict[str, int] | None
    ) -> bool:
        """Consume the node at ``self.i`` and its whole subtree, adding
        to ``counts`` (``None``: consume without counting). Returns
        whether the node was its parent's last child."""
        line = self.lines[self.i]
        self.i += 1
        m = _NODE_RE.match(line.text)
        name, node_id = (m.group(1).strip(), m.group(2)) if m else ("", "")
        if counts is not None:
            self.counted.append(line.text)
            if m and (name, node_id) not in seen:
                seen.add((name, node_id))
                prefix = _counted(name)
                if prefix is not None:
                    counts[prefix] = counts.get(prefix, 0) + 1
        if name == "InMemoryRelation":
            start = len(self.counted)
            block = None if counts is None else {}
            self._subtrees(line, True, set(), block)
            text = tuple(self.counted[start:])
            if block is not None and text not in self.blocks:
                self.blocks.add(text)
                for k, v in block.items():
                    counts[k] = counts.get(k, 0) + v
        if name in _INNER_PARENTS:
            self._subtrees(line, True, seen, counts)
        if name == "AdaptiveSparkPlan":
            # at most one Final/Current section, then its Initial twin;
            # a later header belongs to an enclosing AdaptiveSparkPlan
            for header, section_counts in (
                ("== Final", counts),
                ("== Current", counts),
                ("== Initial", None),
            ):
                if self.i < len(self.lines) and self.lines[self.i].text.startswith(
                    header
                ):
                    hcol = self.lines[self.i].col
                    self.i += 1
                    if self._node_at(hcol):  # a section has one root
                        self._node(seen, section_counts)
        if name.split(" ", 1)[0] not in _LEAVES:
            self._subtrees(line, False, seen, counts)
        return line.last


def collect(spark, sf_dir: str, keys=None) -> dict[str, dict[str, int]]:
    """Fingerprint every (non-skipped) registered query."""
    import contextlib
    import io

    from movierecommender_sentimentanalysissytem_spark import registry
    from movierecommender_sentimentanalysissytem_spark.plans.audit import SKIP

    qs = registry.queries()
    out: dict[str, dict[str, int]] = {}
    for key in sorted(qs):
        if key in SKIP or (keys is not None and key not in keys):
            continue
        try:
            df = qs[key](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            out[key] = fingerprint(buf.getvalue())
        except Exception as exc:  # noqa: BLE001
            out[key] = {"__error__": str(exc)[:80]}
    return out
