"""Join operators (SURVEY.md §2.3) — the full join matrix.

Scale design notes (the 100 TB point):
- Equi-joins on fact tables shuffle on the join key; Catalyst + AQE pick
  sort-merge vs shuffled-hash and coalesce/skew-split partitions at
  runtime. We express only logical joins and keep keys un-transformed so
  pushdown and join reordering stay available.
- ``region``/``nation`` are fixed-cardinality dims → always broadcast
  (explicit ``F.broadcast``), eliminating their shuffle entirely.
- The theta/range join is bounded to a broadcastable side — an unbounded
  BroadcastNestedLoopJoin over two fact tables would be O(n²) and is
  deliberately avoided.
- The as-of join is expressed as the standard window formulation
  (candidates ≤ key, rank 1) which shuffles once per side — the same
  plan a native ASOF physical operator would produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
from movierecommender_sentimentanalysissytem_spark.registry import query
from movierecommender_sentimentanalysissytem_spark.sources.tables import (
    literal_table,
    table,
)


@query(
    "join_inner_equi",
    oracle="""
    SELECT o_orderkey, c_custkey, c_name, c_mktsegment,
           ROUND(o_totalprice, 4) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'O'
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dim equi-join; Catalyst picks the physical strategy
    (broadcast-hash at this SF; sort-merge+AQE at 100 TB)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .select(
            "o_orderkey",
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.round("o_totalprice", 4).alias("total"),
        )
    )


@query(
    "join_star_multiway",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'AMERICA', 'EUROPE', 'AFRICA', 'MIDDLE EAST')
      AND o_orderstatus <> 'P'
    GROUP BY n_name
    """,
)
def join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-like star join: lineitem⋈orders⋈customer⋈nation⋈region.

    nation/region are broadcast explicitly; the lineitem⋈orders and
    orders⋈customer joins shuffle on their keys — at scale AQE coalesces
    the post-shuffle partitions and converts to broadcast when a side
    fits after filtering.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "AMERICA", "EUROPE", "AFRICA", "MIDDLE EAST")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 4) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ tiny dim with an explicit broadcast hint — zero shuffle on
    the join itself (plan-asserted in tests/test_plans.py)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, o_orderkey,
           ROUND(COALESCE(o_totalprice, 0.0), 4) AS total
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderstatus = 'F'
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with a join-side predicate (kept in the ON clause so
    unmatched customers survive null-extended)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_orderstatus == "F"), "left"
    ).select(
        "c_custkey",
        "o_orderkey",
        F.round(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), 4).alias("total"),
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, o_orderkey, o_orderstatus
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "o_orderkey", "o_orderstatus"
    )


@query(
    "join_full_outer",
    oracle="""
    WITH hi_cust AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 8000),
         hi_ord  AS (SELECT o_custkey, COUNT(*) AS n_orders
                     FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey)
    SELECT COALESCE(c_custkey, o_custkey) AS custkey,
           ROUND(COALESCE(c_acctbal, -1.0), 4) AS acctbal,
           COALESCE(n_orders, 0) AS n_orders
    FROM hi_cust FULL JOIN hi_ord ON c_custkey = o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two filtered sets with null-extension on both
    sides (each side has keys the other lacks)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 8000).select(
        "c_custkey", "c_acctbal"
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        F.coalesce(c.c_custkey, o.o_custkey).alias("custkey"),
        F.round(F.coalesce(F.col("c_acctbal"), F.lit(-1.0)), 4).alias("acctbal"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one big order (semi join — probe side
    never duplicated, only existence checked)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all (anti join)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded cross product (5 × 25). Cross joins are only ever safe on
    provably tiny inputs — never on fact tables."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle="""
    SELECT p_partkey, l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 4) AS price
    FROM part JOIN lineitem
      ON l_partkey = p_partkey
     AND l_extendedprice BETWEEN p_retailprice * 20 AND p_retailprice * 30
    WHERE p_size <= 3
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid equi + range predicate: the equi part keeps it a hash join
    (scales), the BETWEEN runs as a post-join filter — the scalable way
    to express banded joins; a pure theta join would be O(n·m)."""
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 3)
    li = table(spark, sf_dir, "lineitem")
    return (
        p.join(
            li,
            (li.l_partkey == p.p_partkey)
            & li.l_extendedprice.between(
                p.p_retailprice * 20, p.p_retailprice * 30
            ),
        )
        .select(
            "p_partkey",
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 4).alias("price"),
        )
    )


@query(
    "join_asof",
    oracle="""
    WITH candidates AS (
        SELECT o_orderkey, e.event_id, e.value,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderkey
                   ORDER BY date_trunc('second', e.ts) DESC, e.event_id DESC) AS rn
        FROM (SELECT * FROM orders WHERE o_orderkey % 100 = 0) o
        JOIN events e
          ON e.user_id = o.o_custkey % 150
         AND date_trunc('second', e.ts)
             <= TIMESTAMP '2024-01-15 00:00:00' + INTERVAL (o.o_orderkey % 14) DAY
    )
    SELECT o_orderkey, event_id, ROUND(value, 4) AS last_value
    FROM candidates WHERE rn = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest event per (mapped) user at a per-order cutoff.

    Batch Spark has no native ASOF; the idiomatic formulation is
    candidates ≤ cutoff → row_number() → rn=1, which is exactly one
    shuffle per side plus a window — the same data movement a native
    as-of merge join needs. The oracle mirrors the identical windowed
    SQL (not DuckDB's ASOF JOIN) so the semantics are pinned.
    """
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 150).alias("u_key"),
            (
                F.to_timestamp(F.lit("2024-01-15 00:00:00"))
                + (F.col("o_orderkey") % 14).cast("int") * F.expr("INTERVAL 1 DAY")
            ).alias("cutoff"),
        )
    )
    e = table(spark, sf_dir, "events").withColumn(
        "ts_s", F.date_trunc("second", F.col("ts"))
    )
    cand = o.join(e, (e.user_id == o.u_key) & (e.ts_s <= o.cutoff))
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("ts_s").desc(), F.col("event_id").desc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "event_id", F.round("value", 4).alias("last_value"))
    )


@query(
    "join_self",
    oracle="""
    SELECT a.event_id AS prev_id, b.event_id AS next_id, a.user_id,
           a.event_type AS prev_type, b.event_type AS next_type
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND b.event_id = a.event_id + 1
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join on consecutive event ids per user (view→purchase
    conversion pairs)."""
    e = table(spark, sf_dir, "events")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.event_id") == F.col("a.event_id") + 1),
        )
        .filter(
            (F.col("a.event_type") == "view")
            & (F.col("b.event_type") == "purchase")
        )
        .select(
            F.col("a.event_id").alias("prev_id"),
            F.col("b.event_id").alias("next_id"),
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_type").alias("prev_type"),
            F.col("b.event_type").alias("next_type"),
        )
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT l_returnflag, o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag, o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted join — the skew-mitigation pattern for a hot
    join key that AQE can't split (e.g. one customer with 10% of all
    rows). The fact side carries a deterministic salt; the build side
    is replicated once per salt value (explode of a literal range), and
    the join runs on (key, salt) so the hot key spreads across
    SALT_BUCKETS reducers. Result is provably identical to the plain
    join — the oracle IS the plain join. Sums are integer-valued, so
    re-association is exact.
    """
    n_salt = 8
    li = table(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.col("l_linenumber") % n_salt).cast("int")
    )
    o = table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


@query(
    "join_runtime_prefilter",
    oracle="""
    SELECT l_orderkey, l_linenumber, o_orderpriority,
           ROUND(l_extendedprice, 4) AS price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 450000
    """,
)
def join_runtime_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern, made explicit: collect the (bounded,
    highly selective) build side's join keys at the driver and push an
    IN predicate into the fact scan — the scan's PushedFilters then
    prunes row groups before the shuffle, which is mechanically what
    Spark's DPP / InjectRuntimeFilter do. The result is provably
    identical to the plain join (the filter is a superset-safe prune),
    so the oracle IS the plain join.

    Guard rails: only applied when the build side stays under a small
    key budget — an IN-list is a driver-memory and codegen liability
    past a few thousand literals, so over budget this falls back to the
    plain join and lets Spark's own InjectRuntimeFilter / DPP handle
    the prune (a Bloom-filter pushdown would be the manual alternative;
    ``bloom_filter_agg`` is not exposed as a SQL function in Spark 4.1).
    """
    max_keys = 5_000
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    keys = [r[0] for r in o.select("o_orderkey").distinct().limit(max_keys + 1).collect()]
    li = table(spark, sf_dir, "lineitem")
    if len(keys) <= max_keys:
        li = li.filter(F.col("l_orderkey").isin(keys))
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "o_orderpriority",
        F.round("l_extendedprice", 4).alias("price"),
    )


@query(
    "join_lateral",
    oracle="""
    SELECT c.c_custkey, l.o_orderkey, l.total
    FROM customer c, LATERAL (
        SELECT o_orderkey,
               FLOOR(o_totalprice * 10000 + 0.5) / 10000 AS total
        FROM orders WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) l
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 orders per customer, written
    as the per-row subquery users actually type. Catalyst decorrelates
    it into a row_number window + equi-join (verified in the physical
    plan) — the same shape as win_row_number_topk, so the per-row
    subquery NEVER executes per row; at 100 TB it is one windowed
    shuffle, not N queries. The deterministic o_orderkey tiebreaker
    keeps both engines' top-2 identical."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("mrsas_lat_c")
    table(spark, sf_dir, "orders").createOrReplaceTempView("mrsas_lat_o")
    return spark.sql(
        """
        SELECT c.c_custkey, l.o_orderkey, l.total
        FROM mrsas_lat_c c, LATERAL (
            SELECT o_orderkey,
                   FLOOR(o_totalprice * 10000 + 0.5) / 10000 AS total
            FROM mrsas_lat_o WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) l
        """
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT a.event_id AS event_a, b.event_id AS event_b,
           FLOOR(ABS(a.value - b.value) * 10000 + 0.5) / 10000 AS diff
    FROM events a JOIN events b
      ON a.event_type = 'purchase' AND b.event_type = 'purchase'
     AND a.event_id < b.event_id
     AND ABS(a.value - b.value) <= 0.1
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi key) via BINNING — the scale path for
    interval/band predicates: each left row is exploded to its value
    bucket ± 2 (width = band), the join runs as an ordinary hash
    equi-join on the bucket, and the exact band predicate filters
    inside the join. O(n·k) with k = rows per bucket, instead of the
    O(n²) nested-loop a naive theta join plans. The ±2 overcover
    absorbs float-rounding at bucket edges; each (a, b) pair matches
    exactly once because the probe side keeps its single true bucket.

    The oracle is the NAIVE theta formulation — proving the binned
    rewrite is result-identical, which is the whole point."""
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "value")
    )
    band = 0.1
    probe = e.select(
        F.col("event_id").alias("event_b"),
        F.col("value").alias("value_b"),
        F.floor(F.col("value") / band).alias("bucket"),
    )
    build = e.select(
        F.col("event_id").alias("event_a"),
        F.col("value").alias("value_a"),
        F.explode(
            F.array(*[F.floor(F.col("value") / band) + d for d in range(-2, 3)])
        ).alias("bucket"),
    )
    return (
        build.join(probe, "bucket")
        .filter(
            (F.col("event_a") < F.col("event_b"))
            & (F.abs(F.col("value_a") - F.col("value_b")) <= band)
        )
        .select(
            "event_a",
            "event_b",
            round4(F.abs(F.col("value_a") - F.col("value_b"))).alias("diff"),
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH segs AS (
        SELECT nullif(c_mktsegment, 'BUILDING') AS s, COUNT(*) AS n
        FROM customer GROUP BY 1
    )
    SELECT COALESCE(s, '<null>') AS seg, MAX(n) AS n_dim,
           COUNT(*) AS n_joined
    FROM customer c JOIN segs
      ON nullif(c.c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM s
    GROUP BY s
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match NULL keys — the join-operator counterpart of the scalar
    three-valued-logic surface in fn_null_semantics. One segment is
    nulled out (BUILDING → NULL) and the dimension is derived from the
    same data, so a plain ``=`` join would silently drop that whole
    group; the null-safe join keeps it (n_dim = n_joined for every
    row proves no fan-out and no loss). Spark still plans this as a
    hash join — ``<=>`` is an equi-key, not a theta condition; at
    scale it shuffles exactly like ``=`` (nulls hash to one bucket,
    so a null-heavy key would need the same salting as any hot key)."""
    c = table(spark, sf_dir, "customer")
    key = F.expr("nullif(c_mktsegment, 'BUILDING')")
    segs = c.groupBy(key.alias("s")).agg(F.count(F.lit(1)).alias("n"))
    return (
        c.join(F.broadcast(segs), key.eqNullSafe(F.col("s")))
        .groupBy("s")
        .agg(
            F.max("n").alias("n_dim"),
            F.count(F.lit(1)).alias("n_joined"),
        )
        .select(
            F.coalesce(F.col("s"), F.lit("<null>")).alias("seg"),
            "n_dim",
            "n_joined",
        )
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH candidates AS (
        SELECT o_orderkey, e.event_id, e.value,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderkey
                   ORDER BY date_trunc('second', e.ts) ASC, e.event_id ASC) AS rn
        FROM (SELECT * FROM orders WHERE o_orderkey % 100 = 0) o
        JOIN events e
          ON e.user_id = o.o_custkey % 150
         AND date_trunc('second', e.ts)
             >= TIMESTAMP '2024-01-15 00:00:00' + INTERVAL (o.o_orderkey % 14) DAY
         AND date_trunc('second', e.ts)
             <  TIMESTAMP '2024-01-18 00:00:00' + INTERVAL (o.o_orderkey % 14) DAY
    )
    SELECT o_orderkey, event_id, ROUND(value, 4) AS next_value
    FROM candidates WHERE rn = 1
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: the FIRST event at-or-after
    each order's cutoff, looking ahead at most 3 days — the
    direction='forward' / tolerance= surface of an as-of API (the
    backward twin is join_asof). The tolerance bound is what makes
    forward as-of scale-safe: without it every probe row buffers the
    entire future of its key; with it the candidate set per key is
    time-bounded, so the join stays one shuffle + one window whatever
    the history length."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 150).alias("uf_key"),
            (
                F.to_timestamp(F.lit("2024-01-15 00:00:00"))
                + (F.col("o_orderkey") % 14).cast("int") * F.expr("INTERVAL 1 DAY")
            ).alias("cutoff"),
        )
        .withColumn("cutoff_hi", F.col("cutoff") + F.expr("INTERVAL 3 DAYS"))
    )
    e = table(spark, sf_dir, "events").withColumn(
        "ts_s", F.date_trunc("second", F.col("ts"))
    )
    cand = o.join(
        e,
        (e.user_id == o.uf_key) & (e.ts_s >= o.cutoff) & (e.ts_s < o.cutoff_hi),
    )
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("ts_s").asc(), F.col("event_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "event_id", F.round("value", 4).alias("next_value"))
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT o_custkey AS cust, l_orderkey AS okey,
               CAST(FLOOR(epoch(MIN(l_shipdate)) / 86400) AS BIGINT) AS s,
               CAST(FLOOR(epoch(MAX(l_shipdate)) / 86400) AS BIGINT) AS e
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_orderkey
    )
    SELECT a.cust AS cust, a.okey AS order_a, b.okey AS order_b,
           CAST(LEAST(a.e, b.e) - GREATEST(a.s, b.s) + 1 AS BIGINT)
               AS overlap_days
    FROM iv a JOIN iv b
      ON a.cust = b.cust AND a.okey < b.okey
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (the shape Spark has no native operator
    for): pairs of one customer's orders whose shipping intervals
    [min ship day, max ship day] overlap — "concurrent open orders".

    Scale mechanism: intervals are exploded into their covered
    30-day bins and the join runs as a hash EQUI-join on
    (customer, bin); the exact overlap predicate filters inside the
    join. A pair sharing k bins would match k times, so the join also
    requires bin == greatest(start-bin(a), start-bin(b)) — each
    overlapping pair matches exactly once, in the first bin both
    cover, with no post-join distinct. Work is Σ|bin block|², never
    the O(n²) per-customer nested loop, and a long interval costs
    length/W probe rows (bounded fan-out, tunable via W).

    The oracle is the NAIVE inequality self-join — proving the binned
    rewrite result-identical is the point. Day arithmetic is exact
    integer math, hash-safe cross-engine.

    The interval table feeds BOTH self-join sides, so Catalyst would
    re-derive the fact join + aggregate twice; ``scoped_persist``
    materializes it once (the round-7 shared-lineage rule — at 100 TB
    the saving is a full redundant fact-join pass).
    """
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        scoped_persist,
    )

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    day = F.floor(F.unix_timestamp(F.col("l_shipdate")) / 86400).cast("long")
    iv = scoped_persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("l_orderkey").alias("okey"),
        )
        .agg(F.min(day).alias("s"), F.max(day).alias("e"))
    )
    return _binned_interval_overlap(iv)


def _binned_interval_overlap(iv: DataFrame, w_days: int = 30) -> DataFrame:
    """Binned equi-join rewrite of the interval-overlap self-join over
    an interval table (cust, okey, s, e). The RESULT is provably
    independent of ``w_days`` (the bin width only trades probe-row
    fan-out against bin-block size) — pinned across widths against the
    naive theta join in tests/test_operators.py."""
    a = iv.select(
        F.col("cust"),
        F.col("okey").alias("order_a"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
        F.explode(
            F.sequence(
                F.expr(f"s div {w_days}"), F.expr(f"e div {w_days}")
            )
        ).alias("bin"),
    )
    b = iv.select(
        F.col("cust").alias("cust_b"),
        F.col("okey").alias("order_b"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
        F.explode(
            F.sequence(
                F.expr(f"s div {w_days}"), F.expr(f"e div {w_days}")
            )
        ).alias("bin_b"),
    )
    return (
        a.join(
            b,
            (F.col("cust") == F.col("cust_b"))
            & (F.col("bin") == F.col("bin_b"))
            & (F.col("order_a") < F.col("order_b"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
            & (
                F.col("bin")
                == F.greatest(
                    F.expr(f"sa div {w_days}"), F.expr(f"sb div {w_days}")
                )
            ),
        )
        .select(
            "cust",
            "order_a",
            "order_b",
            (
                F.least(F.col("ea"), F.col("eb"))
                - F.greatest(F.col("sa"), F.col("sb"))
                + 1
            )
            .cast("bigint")
            .alias("overlap_days"),
        )
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH candidates AS (
        SELECT o_orderkey, e.event_id, e.value,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderkey
                   ORDER BY abs(CAST(epoch(date_trunc('second', e.ts)) AS BIGINT)
                               - CAST(epoch(
                                   TIMESTAMP '2024-01-15 00:00:00'
                                   + INTERVAL (o_orderkey % 14) DAY) AS BIGINT))
                            ASC, e.event_id ASC) AS rn
        FROM (SELECT * FROM orders WHERE o_orderkey % 100 = 0) o
        JOIN events e
          ON e.user_id = o.o_custkey % 150
         AND abs(CAST(epoch(date_trunc('second', e.ts)) AS BIGINT)
                 - CAST(epoch(TIMESTAMP '2024-01-15 00:00:00'
                              + INTERVAL (o_orderkey % 14) DAY) AS BIGINT))
             <= 86400
    )
    SELECT o_orderkey, event_id, ROUND(value, 4) AS nearest_value
    FROM candidates WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join with tolerance: the event CLOSEST in time to
    each order's cutoff, in either direction, within ±1 day — the
    direction='nearest' surface completing the as-of family (backward
    = join_asof, forward = join_asof_forward). Sensor/feed alignment
    is this shape: match each reading to the closest reference tick,
    not merely the last one before it.

    Scale mechanism: the ± tolerance bounds the candidate window on
    both sides, so candidates come from one equi-join on the series
    key plus the time band, then a per-probe-row window picks the
    minimum |Δt| (deterministic integer seconds, event_id tiebreak) —
    one shuffle + one partitioned window regardless of history length.
    Unbounded nearest (no tolerance) is deliberately not offered: it
    cannot bound per-key state at scale."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 150).alias("un_key"),
            (
                F.to_timestamp(F.lit("2024-01-15 00:00:00"))
                + (F.col("o_orderkey") % 14).cast("int") * F.expr("INTERVAL 1 DAY")
            ).alias("cutoff"),
        )
    )
    e = table(spark, sf_dir, "events").withColumn(
        "ts_s", F.date_trunc("second", F.col("ts"))
    )
    dt = F.abs(
        F.unix_timestamp(F.col("ts_s")) - F.unix_timestamp(F.col("cutoff"))
    )
    cand = o.join(
        e,
        (e.user_id == o.un_key)
        & (e.ts_s >= o.cutoff - F.expr("INTERVAL 1 DAY"))
        & (e.ts_s <= o.cutoff + F.expr("INTERVAL 1 DAY")),
    ).filter(dt <= 86400)
    w = Window.partitionBy("o_orderkey").orderBy(
        dt.asc(), F.col("event_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey", "event_id", F.round("value", 4).alias("nearest_value")
        )
    )


@query(
    "join_fuzzy_levenshtein",
    oracle="""
    WITH t AS (SELECT DISTINCT p_name AS ty FROM part),
    blocked AS (
        SELECT ty, string_split(ty, ' ')[-1] AS blk FROM t
    )
    SELECT a.ty AS type_a, b.ty AS type_b,
           CAST(levenshtein(a.ty, b.ty) AS INTEGER) AS dist
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.ty < b.ty
    WHERE levenshtein(a.ty, b.ty) <= 3
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string self-join: near-identical part names (edit distance
    ≤ 3) — the entity-resolution primitive behind catalog/title
    matching. The scalable shape is block-then-verify: candidates are
    generated by an EQUI-join on a cheap blocking key (the last
    token — the noun of the "color noun" name convention), and the
    O(len²) Levenshtein verification runs only inside blocks —
    Σ|block|² pairs instead of n²/2. The pair space is also built over
    the DISTINCT value vocabulary, not the row count, so a 100×
    fact-table scale-up leaves the join size unchanged (the vocabulary
    is bounded); a < b dedups the symmetric pair. Both engines
    implement classic unweighted edit distance, verified equal
    cross-engine in tests."""
    t = table(spark, sf_dir, "part").select(
        F.col("p_name").alias("ty")
    ).distinct()
    blocked = t.select(
        "ty", F.element_at(F.split(F.col("ty"), " "), -1).alias("blk")
    )
    a = blocked.select(F.col("ty").alias("type_a"), F.col("blk").alias("ba"))
    b = blocked.select(F.col("ty").alias("type_b"), F.col("blk").alias("bb"))
    return (
        a.join(
            b,
            (F.col("ba") == F.col("bb"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .withColumn("dist", F.levenshtein("type_a", "type_b").cast("int"))
        .filter(F.col("dist") <= 3)
        .select("type_a", "type_b", "dist")
    )


@query(
    "geo_grid_proximity_join",
    oracle="""
    WITH c AS (
        SELECT c_custkey,
               ((c_custkey * 131) % 1000) / 10.0 AS x,
               ((c_custkey * 197) % 1000) / 10.0 AS y
        FROM customer
    ),
    s AS (
        SELECT s_suppkey,
               ((s_suppkey * 173) % 1000) / 10.0 AS x,
               ((s_suppkey * 89) % 1000) / 10.0 AS y
        FROM supplier
    ),
    sx AS (
        SELECT s_suppkey, x, y,
               CAST(FLOOR(x / 2.0) AS BIGINT) + dx.o AS cx,
               CAST(FLOOR(y / 2.0) AS BIGINT) + dy.o AS cy
        FROM s
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) dx
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) dy
    )
    SELECT c_custkey, s_suppkey,
           FLOOR(((c.x - sx.x) * (c.x - sx.x)
                  + (c.y - sx.y) * (c.y - sx.y)) * 10000 + 0.5) / 10000
               AS dist2
    FROM c JOIN sx
      ON CAST(FLOOR(c.x / 2.0) AS BIGINT) = sx.cx
     AND CAST(FLOOR(c.y / 2.0) AS BIGINT) = sx.cy
    WHERE (c.x - sx.x) * (c.x - sx.x) + (c.y - sx.y) * (c.y - sx.y) <= 4.0
    """,
)
def geo_grid_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity join via uniform grid blocking: every
    (customer, supplier) pair within planar distance 2 on a synthetic
    100×100 coordinate field (coordinates derived from the keys by
    exact integer arithmetic — the fixture has no geo columns, and
    trig-based haversine would risk cross-engine libm ulps; the
    BLOCKING pattern is the thing under test). Cell size = radius, so
    each probe point checks exactly its 3×3 neighborhood: the supplier
    side is replicated 9× by an explode of literal offsets, then ONE
    hash equi-join on the cell id with a row-local residual distance
    filter. That is the textbook distributed spatial join — O(n·density)
    candidate pairs instead of the n² cross join, and the replication
    factor is a constant 9 regardless of scale. All arithmetic is
    products/sums of small-integer-derived doubles, bit-identical on
    both engines; dist2 carries the stable 4-dp round only for
    projection hygiene."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (((F.col("c_custkey") * 131) % 1000) / 10.0).alias("x"),
        (((F.col("c_custkey") * 197) % 1000) / 10.0).alias("y"),
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 173) % 1000) / 10.0).alias("sx_"),
        (((F.col("s_suppkey") * 89) % 1000) / 10.0).alias("sy_"),
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    sxp = (
        s.withColumn("dx", off)
        .withColumn("dy", off)
        .select(
            "s_suppkey",
            "sx_",
            "sy_",
            (F.floor(F.col("sx_") / 2.0).cast("bigint") + F.col("dx")).alias(
                "cx"
            ),
            (F.floor(F.col("sy_") / 2.0).cast("bigint") + F.col("dy")).alias(
                "cy"
            ),
        )
    )
    d2 = (F.col("x") - F.col("sx_")) * (F.col("x") - F.col("sx_")) + (
        F.col("y") - F.col("sy_")
    ) * (F.col("y") - F.col("sy_"))
    return (
        c.join(
            sxp,
            (F.floor(F.col("x") / 2.0).cast("bigint") == F.col("cx"))
            & (F.floor(F.col("y") / 2.0).cast("bigint") == F.col("cy")),
        )
        .filter(d2 <= 4.0)
        .select("c_custkey", "s_suppkey", round4(d2).alias("dist2"))
    )


@query(
    "join_hint_shuffle_hash",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control: the SHUFFLE_HASH hint forces a
    ShuffledHashJoin where Catalyst's cost model would default to
    sort-merge (or broadcast, below the threshold). The result is by
    construction identical to the plain equi-join — what this key
    pins is the STRATEGY lever itself (plan shape asserted in
    tests/test_plans.py and frozen in PLAN_FINGERPRINTS.json): at
    100 TB, hash-join-ing a medium build side that fits per-partition
    memory skips both sort passes of SMJ — the right call when one
    side is much smaller but still over the broadcast threshold.
    The hint is advisory-but-honored for equi-joins; a strategy
    regression here (hint silently ignored) multiplies cost, which
    is why the fingerprint diff matters more than the values."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


@query(
    "join_full_outer_using",
    oracle=f"""
    WITH clicks AS (
        SELECT {{sec}} // 86400 AS day, COUNT(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    purchases AS (
        SELECT {{sec}} // 86400 AS day, COUNT(*) AS n_purchases
        FROM events WHERE event_type = 'purchase' AND value > 180
        GROUP BY 1
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(COALESCE(n_clicks, 0) AS BIGINT) AS n_clicks,
           CAST(COALESCE(n_purchases, 0) AS BIGINT) AS n_purchases,
           (n_clicks IS NULL) AS click_side_missing,
           (n_purchases IS NULL) AS purchase_side_missing
    FROM clicks FULL OUTER JOIN purchases USING (day)
    """.format(
        sec="CAST(epoch(date_trunc('second', ts)) AS BIGINT)"
    ),
)
def join_full_outer_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN with USING-style key coalescing: daily click
    counts against daily purchase counts, where a day may exist on
    either side only. The semantic this key pins is the KEY COLUMN
    itself: under join(df, [key], 'full') Spark emits ONE coalesced
    key column (as USING does in DuckDB) — whereas an explicit
    ON-condition full outer leaves two key columns, each NULL on its
    missing side, and naive consumers read the left one and see NULL
    days (join_full_outer pins the explicit-ON form; this is the
    other convention, and migrating between them silently changes the
    key column's NULL behavior). Both sides are O(days) rollups of
    the same scan lineage; the join shuffles on day."""
    e = table(spark, sf_dir, "events").withColumn(
        "sec", F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    )
    day = F.floor(F.col("sec") / 86400).alias("day")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(day)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 180))
        .select(day)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    j = clicks.join(purchases, ["day"], "full")
    return j.select(
        F.col("day").cast("bigint").alias("day"),
        F.coalesce(F.col("n_clicks"), F.lit(0))
        .cast("bigint")
        .alias("n_clicks"),
        F.coalesce(F.col("n_purchases"), F.lit(0))
        .cast("bigint")
        .alias("n_purchases"),
        F.col("n_clicks").isNull().alias("click_side_missing"),
        F.col("n_purchases").isNull().alias("purchase_side_missing"),
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH probe AS (
        SELECT o_orderkey, o_custkey % 150 AS u_key,
               TIMESTAMP '2024-01-15 00:00:00'
                   + INTERVAL (o_orderkey % 14) DAY AS cutoff
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    best AS (
        SELECT o_orderkey, event_id,
               CAST(epoch(cutoff) - epoch(date_trunc('second', e.ts))
                    AS BIGINT) AS gap_s,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderkey
                   ORDER BY date_trunc('second', e.ts) DESC,
                            e.event_id DESC) AS rn
        FROM probe p JOIN events e
          ON e.user_id = p.u_key
         AND date_trunc('second', e.ts) <= p.cutoff
         AND date_trunc('second', e.ts) >= p.cutoff - INTERVAL 6 HOUR
    )
    SELECT p.o_orderkey, b.event_id, b.gap_s
    FROM probe p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
      ON p.o_orderkey = b.o_orderkey
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas merge_asof's
    ``tolerance=``): the latest event at-or-before each probe cutoff,
    but only within the trailing 6 hours — beyond that the match is
    NULL rather than an arbitrarily stale row, which is the
    correctness difference between 'most recent sensor reading' and
    'a reading from last month presented as current'. Completes the
    as-of family (backward/forward/nearest/tolerance). The bound also
    CHANGES THE SCALE STORY: candidates are [cutoff − tol, cutoff],
    so per-probe fan-in is capped by tolerance-window activity
    instead of the user's whole history — the binned candidate
    generation the unbounded variants need becomes a single bounded
    range predicate. Unmatched probes are preserved by the final
    LEFT join (NULL event, NULL gap)."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 150).alias("u_key"),
            (
                F.to_timestamp(F.lit("2024-01-15 00:00:00"))
                + (F.col("o_orderkey") % 14).cast("int")
                * F.expr("INTERVAL 1 DAY")
            ).alias("cutoff"),
        )
    )
    e = table(spark, sf_dir, "events").withColumn(
        "ts_s", F.date_trunc("second", F.col("ts"))
    )
    cand = o.join(
        e,
        (e.user_id == o.u_key)
        & (e.ts_s <= o.cutoff)
        & (e.ts_s >= o.cutoff - F.expr("INTERVAL 6 HOUR")),
    )
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("ts_s").desc(), F.col("event_id").desc()
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_orderkey").alias("bk"),
            "event_id",
            (
                F.unix_timestamp("cutoff") - F.unix_timestamp("ts_s")
            )
            .cast("bigint")
            .alias("gap_s"),
        )
    )
    return o.join(best, o.o_orderkey == best.bk, "left").select(
        "o_orderkey", "event_id", "gap_s"
    )


# Shared polygon constants for geo_point_in_polygon: integer-valued
# vertices (exact double literals on both engines). One Python source
# generates BOTH the Spark literal array and the DuckDB struct-list SQL
# so the two sides cannot desynchronize. Shapes chosen to exercise the
# ray-cast parity logic: a triangle, an axis-aligned rectangle, and a
# NON-convex chevron (whose notch is exactly what bounding-box tests
# get wrong and ray casting gets right).
_PIP_POLYGONS: list[tuple[int, list[tuple[float, float]]]] = [
    (1, [(10.0, 10.0), (40.0, 10.0), (25.0, 35.0)]),
    (2, [(50.0, 50.0), (90.0, 50.0), (90.0, 80.0), (50.0, 80.0)]),
    (3, [(10.0, 60.0), (25.0, 75.0), (40.0, 60.0), (40.0, 90.0), (10.0, 90.0)]),
]


def _pip_bbox(verts: list[tuple[float, float]]) -> tuple[float, float, float, float]:
    xs = [v[0] for v in verts]
    ys = [v[1] for v in verts]
    return min(xs), max(xs), min(ys), max(ys)


def _pip_duck_polys() -> str:
    """DuckDB constant relation: polygon_id, vs (list of {px, py}), bbox."""
    rows = []
    for pid, verts in _PIP_POLYGONS:
        lst = ", ".join(
            "{'px': %.1f, 'py': %.1f}" % (px, py) for px, py in verts
        )
        x0, x1, y0, y1 = _pip_bbox(verts)
        rows.append(
            f"SELECT {pid} AS polygon_id, [{lst}] AS vs, "
            f"{x0:.1f} AS bx0, {x1:.1f} AS bx1, "
            f"{y0:.1f} AS by0, {y1:.1f} AS by1"
        )
    return " UNION ALL ".join(rows)


# Ray cast: count edges whose half-open y-span covers the point's y and
# whose x-intercept at that y lies strictly right of the point; odd
# count = inside. The division is reached ONLY inside the outer CASE
# branch (where vi.py != vj.py is guaranteed by the span test) — an
# AND-form would evaluate both conjuncts and die on DIVIDE_BY_ZERO
# under ANSI mode for horizontal edges. 1-based indexing on both
# engines; vj wraps via (i % n) + 1.
_PIP_SPARK_INSIDE = """
aggregate(sequence(1, size(vs)), 0, (acc, i) -> acc +
  CASE WHEN (element_at(vs, i).py > y)
            != (element_at(vs, (i % size(vs)) + 1).py > y)
       THEN CASE WHEN x < element_at(vs, i).px
                 + (element_at(vs, (i % size(vs)) + 1).px
                    - element_at(vs, i).px)
                 * (y - element_at(vs, i).py)
                 / (element_at(vs, (i % size(vs)) + 1).py
                    - element_at(vs, i).py)
                 THEN 1 ELSE 0 END
       ELSE 0 END) % 2 = 1
"""

_PIP_DUCK_INSIDE = """
list_reduce(list_prepend(0, list_transform(range(1, len(vs) + 1), i ->
  CASE WHEN (vs[i].py > y) != (vs[(i % len(vs)) + 1].py > y)
       THEN CASE WHEN x < vs[i].px
                 + (vs[(i % len(vs)) + 1].px - vs[i].px)
                 * (y - vs[i].py)
                 / (vs[(i % len(vs)) + 1].py - vs[i].py)
                 THEN 1 ELSE 0 END
       ELSE 0 END)), (a, b) -> a + b) % 2 = 1
"""


@query(
    "geo_point_in_polygon",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey,
               ((c_custkey * 131) % 1000) / 10.0 AS x,
               ((c_custkey * 197) % 1000) / 10.0 AS y
        FROM customer
    ),
    polys AS ({_pip_duck_polys()})
    SELECT c_custkey, polygon_id,
           FLOOR(x * 10000 + 0.5) / 10000 AS x,
           FLOOR(y * 10000 + 0.5) / 10000 AS y
    FROM pts JOIN polys
      ON x >= bx0 AND x <= bx1 AND y >= by0 AND y <= by1
    WHERE {_PIP_DUCK_INSIDE}
    """,
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join via ray casting, entirely in codegen-able
    higher-order functions: which customers (synthetic key-derived
    coordinates on the same 100×100 field as geo_grid_proximity_join)
    fall inside each of three constant polygons — the geofencing /
    region-tagging primitive (triangle, rectangle, and a NON-convex
    chevron whose notch defeats bbox-only classification). The edge-
    crossing count is an in-order integer fold over the vertex array
    (Spark ``aggregate(sequence(...))`` mirrored by DuckDB
    ``list_reduce``), with the x-intercept division guarded by nested
    CASE so ANSI mode never sees a horizontal edge's zero denominator.
    All vertex literals are integer-valued doubles from ONE shared
    Python constant, and the point coordinates are exact small-integer
    arithmetic — every crossing comparison is over bit-identical
    doubles cross-engine.

    Scale design: the polygon relation is a tiny broadcast (the
    standard spatial-join asymmetry: billions of points, thousands of
    fence polygons); each point tests only polygons whose bounding box
    it enters (the join condition — a band join Catalyst executes as
    BroadcastNestedLoop over 3 rows), and the O(vertices) exact test
    runs only on bbox survivors. No shuffle at all on the point side:
    at 100 TB this is a pure map with a broadcast probe."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (((F.col("c_custkey") * 131) % 1000) / 10.0).alias("x"),
        (((F.col("c_custkey") * 197) % 1000) / 10.0).alias("y"),
    )
    poly_rows = []
    for pid, verts in _PIP_POLYGONS:
        x0, x1, y0, y1 = _pip_bbox(verts)
        poly_rows.append(
            (pid, [{"px": px, "py": py} for px, py in verts], x0, x1, y0, y1)
        )
    polys = literal_table(
        spark,
        poly_rows,
        "polygon_id int, vs array<struct<px: double, py: double>>, "
        "bx0 double, bx1 double, by0 double, by1 double",
    )
    return (
        c.join(
            F.broadcast(polys),
            (F.col("x") >= F.col("bx0"))
            & (F.col("x") <= F.col("bx1"))
            & (F.col("y") >= F.col("by0"))
            & (F.col("y") <= F.col("by1")),
        )
        .filter(F.expr(_PIP_SPARK_INSIDE))
        .select(
            "c_custkey",
            "polygon_id",
            round4(F.col("x")).alias("x"),
            round4(F.col("y")).alias("y"),
        )
    )
