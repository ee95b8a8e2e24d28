"""Scoped persistence: per-query caches that a sequential sweep
(driver correctness pass, parity harness, bench) releases automatically.

Several operators persist an intermediate read multiple times within
one query (n-gram Jaccard's shingle sets, connected-components label
generations). Spark never auto-unpersists these from Python, so a
134-key sweep would accumulate one cached plan per caching query —
slow eviction churn at best, executor-memory pressure at 100 TB.

``scoped_persist(df)`` persists and registers the DataFrame;
``release_scoped_caches()`` unpersists everything registered. The
registry wraps every query so each *build* first releases the caches
of the previously built query — a sweep therefore holds at most one
query's caches at any time.

Release contract (two tiers):
- ``scoped_persist`` frames: releasing is ALWAYS safe — an unpersisted
  DataFrame silently recomputes from lineage.
- ``scoped_local_checkpoint`` frames: releasing DESTROYS the data (the
  checkpoint truncated the lineage, so there is nothing to recompute
  from). A query whose result derives from a scoped checkpoint must be
  fully consumed before the next registry build — which the driver
  sweep, parity harness, and bench all guarantee (collect/write, then
  build the next query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SCOPED: list[DataFrame] = []
# (scala SparkContext, rdd id) pairs backing scoped local checkpoints
_SCOPED_CP: list[tuple[object, int]] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for release at the next query
    build (or an explicit ``release_scoped_caches()``).

    The cache is materialized immediately by writing it to the
    ``noop`` sink: one job that computes and stores every partition
    (a ``count()`` under AQE ran three: the cache stage, the
    partial-count shuffle and the result job). A
    lazily-persisted frame is NOT computed once under AQE: adaptive
    execution submits independent query stages of one action
    concurrently, and every stage that scans the InMemoryRelation
    before its blocks exist recomputes the full lineage itself (r14
    stage profile: rec_item_similarity's pair join and both norm
    branches each re-read the parquet scans — 39.3 MB of input for an
    11.2 MB lineage — exactly the 3x rederivation the
    persist was added to prevent). Materializing first both guarantees
    single computation and lets downstream planning SEE the cache's
    partitioning/ordering, which elides the ENSURE_REQUIREMENTS
    exchanges+sorts that a lazy cache forces (measured r14: wall
    3.2-9.5 s -> 2.7-2.8 s on rec_item_similarity at sf0.1; input
    39.3 -> 28.1 MB). It also removes a latent hazard: two consumers
    racing a NON-DETERMINISTIC lineage could observe different data."""
    out = df.persist()
    _SCOPED.append(out)
    out.write.format("noop").mode("overwrite").save()
    return out


def _persistent_ids(jsc) -> set[int]:
    ids: set[int] = set()
    it = jsc.getPersistentRDDs().keysIterator()
    while it.hasNext():
        ids.add(it.next())
    return ids


def scoped_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly local-checkpoint ``df`` — TRUNCATING its lineage — and
    register the backing RDD for release with the scoped caches.

    This is the tool for iterative algorithms: a loop whose next
    generation references the previous one more than once grows its
    logical plan EXPONENTIALLY in rounds (each reference embeds the
    full upstream plan), which OOMs the driver during analysis long
    before executors see data. A checkpoint resets the plan to a leaf
    each round. ``localCheckpoint`` stores partitions on executors
    (block manager) — no distributed-FS round trip; at 100 TB with
    executor loss concerns, reliable ``checkpoint(dir)`` swaps in with
    the same semantics. DataFrame.unpersist does NOT free checkpoint
    RDDs, so release happens at the RDD level.

    Attribution: the backing RDD ids are captured as the diff of
    ``getPersistentRDDs`` around the eager checkpoint job. Any LAZY
    cache that first materializes during that job lands in the same
    capture set — so callers that intend to early-release a
    superseded generation (``release_local_checkpoint``) must
    materialize their plain caches (e.g. ``df.count()``) BEFORE the
    first checkpoint, keeping each capture set exactly one
    generation's RDDs. All persists in this codebase go through the
    scoped system, so a mis-captured id is at worst an early cache
    drop (recomputes), never data loss.

    The captured ids are attached to the returned frame
    (``_mrsas_cp_ids``) for targeted early release."""
    sc = df.sparkSession.sparkContext
    jsc = sc._jsc.sc()
    before = _persistent_ids(jsc)
    cp = df.localCheckpoint(eager=True)
    ids = _persistent_ids(jsc) - before
    for rid in ids:
        _SCOPED_CP.append((jsc, rid))
    cp._mrsas_cp_ids = (jsc, tuple(ids))
    return cp


def release_local_checkpoint(cp: DataFrame) -> None:
    """Early-release one scoped checkpoint's backing RDDs (for a
    SUPERSEDED generation in an iterative loop — the caller must have
    already materialized everything derived from it). Idempotent with
    the deferred release in ``release_scoped_caches``."""
    jsc, ids = getattr(cp, "_mrsas_cp_ids", (None, ()))
    for rid in ids:
        try:
            m = jsc.getPersistentRDDs()
            if m.contains(rid):
                m.apply(rid).unpersist(False)
        except Exception:  # noqa: BLE001 — context may already be gone
            pass


def release_scoped_caches() -> None:
    """Unpersist every registered DataFrame and checkpoint RDD
    (idempotent, never raises on an already-released or dead
    SparkContext cache)."""
    while _SCOPED:
        df = _SCOPED.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — context may already be gone
            pass
    while _SCOPED_CP:
        jsc, rid = _SCOPED_CP.pop()
        try:
            m = jsc.getPersistentRDDs()
            if m.contains(rid):
                m.apply(rid).unpersist(False)
        except Exception:  # noqa: BLE001 — context may already be gone
            pass
