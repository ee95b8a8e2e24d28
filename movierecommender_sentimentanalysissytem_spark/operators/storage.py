"""Storage-layout operators: partitioned sinks and bucketed co-located
joins (SURVEY.md §4 — partition pruning and shuffle elimination, the
two layout levers that matter most at 100 TB).
"""

from __future__ import annotations

import glob
import os

from movierecommender_sentimentanalysissytem_spark.scratch import mkscratch

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
from movierecommender_sentimentanalysissytem_spark.registry import query
from movierecommender_sentimentanalysissytem_spark.sources.tables import (
    literal_table,
    table,
)


@query(
    "sink_partitioned_parquet",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition-pruned read-back.

    orders is written partitioned by o_orderstatus; the read-back
    filters one partition — the scan's PartitionFilters prune the other
    directories without opening a single file (asserted in
    tests/test_plans.py). At 100 TB partition layout IS the primary
    index; this is the write side of that contract.
    """
    o = table(spark, sf_dir, "orders")
    out = os.path.join(mkscratch("mrsas_part_"), "orders_by_status")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT l_orderkey, o_orderstatus,
           ROUND(SUM(l_extendedprice), 4) AS line_total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000
    GROUP BY l_orderkey, o_orderstatus
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written with
    ``bucketBy(8, join_key).sortBy(join_key)``, so the sort-merge join
    consumes pre-bucketed, pre-sorted data — NO Exchange on either side
    (asserted in tests/test_plans.py). This is the layout that turns
    the daily fact⋈fact join from the cluster's biggest shuffle into a
    local merge at 100 TB.
    """
    wh = mkscratch("mrsas_bkt_")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    for name, df, key in (
        ("mrsas_bkt_lineitem", li, "l_orderkey"),
        ("mrsas_bkt_orders", o, "o_orderkey"),
    ):
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(wh, name))
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    bli = spark.table("mrsas_bkt_lineitem")
    bo = spark.table("mrsas_bkt_orders").filter(F.col("o_totalprice") > 400000)
    # hint("merge"): at fixture scale Catalyst would broadcast the
    # filtered side and never exercise the bucket layout; at the real
    # fact⋈fact scale SMJ is chosen anyway. The hint pins the
    # production plan shape so the no-Exchange property is testable.
    return (
        bli.join(bo.hint("merge"), bli.l_orderkey == bo.o_orderkey)
        .groupBy("l_orderkey", "o_orderstatus")
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("line_total"))
    )


@query(
    "scd2_history",
    oracle="""
    WITH src AS (
        SELECT o_custkey AS k,
               FLOOR(SUM(o_totalprice) * 10000 + 0.5) / 10000 AS new_bal
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey,
           FLOOR(c.c_acctbal * 10000 + 0.5) / 10000 AS acctbal,
           '2024-01-01' AS valid_from,
           CASE WHEN s.k IS NULL THEN NULL ELSE '2024-02-01' END AS valid_to,
           (s.k IS NULL) AS is_current
    FROM customer c LEFT JOIN src s ON c.c_custkey = s.k
    UNION ALL
    SELECT s.k, s.new_bal, '2024-02-01', NULL, TRUE
    FROM src s JOIN customer c ON c.c_custkey = s.k
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: a day-2 snapshot (per-customer
    spend as the new balance) closes the old version of each changed
    key (valid_to set, is_current false) and opens a new current row;
    untouched keys keep their open row. The dimension-versioning
    pattern every warehouse load needs.

    Scale notes: one key-partitioned join per load; history tables
    should be partitioned by valid_from so current-state reads prune
    to open partitions. SQL-checked across all three row classes.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    src = o.groupBy(F.col("o_custkey").alias("k")).agg(
        round4(F.sum("o_totalprice")).alias("new_bal")
    )
    old = c.join(src, c.c_custkey == src.k, "left").select(
        "c_custkey",
        round4(F.col("c_acctbal")).alias("acctbal"),
        F.lit("2024-01-01").alias("valid_from"),
        F.when(F.col("k").isNotNull(), "2024-02-01").alias("valid_to"),
        F.col("k").isNull().alias("is_current"),
    )
    new = src.join(c, c.c_custkey == src.k).select(
        F.col("k").alias("c_custkey"),
        F.col("new_bal").alias("acctbal"),
        F.lit("2024-02-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return old.unionByName(new)


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           COUNT(o_comment_len) AS n_with_new_col,
           CAST(COALESCE(SUM(o_comment_len), 0) AS BIGINT) AS total_len
    FROM (
        SELECT o_orderpriority, NULL AS o_comment_len
        FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_orderpriority, LENGTH(o_orderpriority) + o_custkey % 10
        FROM orders WHERE o_orderstatus = 'O'
    ) t
    GROUP BY o_orderpriority
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet file generations: generation 1
    lacks a column that generation 2 adds; ``mergeSchema`` unions the
    file schemas and null-fills the missing column — the schema-drift
    reality of any long-lived 100 TB dataset (readers must never
    break on old files). The aggregate proves old rows surface with
    NULL and new rows carry values."""
    o = table(spark, sf_dir, "orders")
    out = os.path.join(mkscratch("mrsas_evo_"), "orders_evo")
    # generation 1: original schema
    o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderpriority"
    ).write.mode("overwrite").parquet(out)
    # generation 2: adds a derived column
    o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey",
        "o_orderpriority",
        (F.length("o_orderpriority") + F.col("o_custkey") % 10).alias(
            "o_comment_len"
        ),
    ).write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_comment_len").alias("n_with_new_col"),
        F.coalesce(F.sum("o_comment_len"), F.lit(0)).alias("total_len"),
    )


@query(
    "maintenance_compact_small_files",
    oracle="""
    SELECT 32 AS files_before, 4 AS files_after,
           COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM orders
    """,
)
def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every
    streaming/incremental 100 TB pipeline runs: many tiny files (here
    32) kill scan throughput via per-file open/footer costs and
    scheduler pressure; rewriting into few right-sized files (here 4)
    restores it. Row count and sum prove the rewrite is lossless;
    actual file counts are asserted against the declared literals so
    the oracle check fails if compaction misbehaves."""
    o = table(spark, sf_dir, "orders")
    base = mkscratch("mrsas_compact_")
    small, big = os.path.join(base, "small"), os.path.join(base, "big")
    o.repartition(32).write.mode("overwrite").parquet(small)
    n_small = len(glob.glob(os.path.join(small, "part-*.parquet")))
    spark.read.parquet(small).repartition(4).write.mode("overwrite").parquet(big)
    n_big = len(glob.glob(os.path.join(big, "part-*.parquet")))
    back = spark.read.parquet(big)
    return back.agg(
        F.lit(n_small).alias("files_before"),
        F.lit(n_big).alias("files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        # integer checksum: exact under any summation order, unlike a
        # float total whose 4th decimal can shift with partitioning
        F.sum("o_orderkey").alias("key_checksum"),
    )


_Z_TERMS = "(((zx >> 0) & 1) << 0) + (((zy >> 0) & 1) << 1) + (((zx >> 1) & 1) << 2) + (((zy >> 1) & 1) << 3) + (((zx >> 2) & 1) << 4) + (((zy >> 2) & 1) << 5) + (((zx >> 3) & 1) << 6) + (((zy >> 3) & 1) << 7) + (((zx >> 4) & 1) << 8) + (((zy >> 4) & 1) << 9) + (((zx >> 5) & 1) << 10) + (((zy >> 5) & 1) << 11) + (((zx >> 6) & 1) << 12) + (((zy >> 6) & 1) << 13) + (((zx >> 7) & 1) << 14) + (((zy >> 7) & 1) << 15)"


@query(
    "sort_zorder_clustering",
    oracle="""
    WITH dims AS (
        SELECT CAST(FLOOR(l_quantity * 5) AS BIGINT) % 256 AS zx,
               CAST(FLOOR(l_extendedprice / 500) AS BIGINT) % 256 AS zy
        FROM lineitem
    ),
    z AS (
        SELECT zx, zy, ((((zx >> 0) & 1) << 0) + (((zy >> 0) & 1) << 1) + (((zx >> 1) & 1) << 2) + (((zy >> 1) & 1) << 3) + (((zx >> 2) & 1) << 4) + (((zy >> 2) & 1) << 5) + (((zx >> 3) & 1) << 6) + (((zy >> 3) & 1) << 7) + (((zx >> 4) & 1) << 8) + (((zy >> 4) & 1) << 9) + (((zx >> 5) & 1) << 10) + (((zy >> 5) & 1) << 11) + (((zx >> 6) & 1) << 12) + (((zy >> 6) & 1) << 13) + (((zx >> 7) & 1) << 14) + (((zy >> 7) & 1) << 15)) AS zval FROM dims
    )
    SELECT zval >> 6 AS z_range,
           COUNT(*) AS n,
           CAST(MIN(zx) AS BIGINT) AS min_zx, CAST(MAX(zx) AS BIGINT) AS max_zx,
           CAST(MIN(zy) AS BIGINT) AS min_zy, CAST(MAX(zy) AS BIGINT) AS max_zy
    FROM z GROUP BY 1
    """,
)
def sort_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the bits of two
    bucketed dimensions so rows close in BOTH dimensions sort near each
    other — the multi-column data-clustering lever behind Delta/Iceberg
    OPTIMIZE ZORDER. Sorting a 100 TB table by this key before writing
    makes row-group min/max pruning effective for filters on EITHER
    dimension (a plain sort only helps its leading column).

    The aggregate proves the locality property the layout relies on:
    each coarse z-range spans a bounded rectangle of (zx, zy), visible
    in the per-range min/max bounds. Bit arithmetic is identical in
    both engines, so the key is SQL-checked exactly."""
    li = table(spark, sf_dir, "lineitem")
    dims = li.select(
        (F.floor(F.col("l_quantity") * 5).cast("bigint") % 256).alias("zx"),
        (F.floor(F.col("l_extendedprice") / 500).cast("bigint") % 256).alias(
            "zy"
        ),
    )
    z = dims.withColumn("zval", F.expr(_Z_TERMS))
    return (
        z.groupBy(F.expr("zval >> 6").alias("z_range"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zx").alias("min_zx"),
            F.max("zx").alias("max_zx"),
            F.min("zy").alias("min_zy"),
            F.max("zy").alias("max_zy"),
        )
    )


@query(
    "join_temporal_snapshot",
    oracle="""
    WITH dim AS (
        SELECT c_custkey AS k,
               FLOOR(c_acctbal * 10000 + 0.5) / 10000 AS bal,
               1 AS version,
               TIMESTAMP '1995-01-01' AS valid_from,
               TIMESTAMP '1998-01-01' AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey,
               FLOOR(c_acctbal * 1.1 * 10000 + 0.5) / 10000,
               2, TIMESTAMP '1998-01-01', NULL
        FROM customer
    )
    SELECT o_orderkey, o_custkey, bal AS bal_asof, version
    FROM orders JOIN dim ON o_custkey = k
    WHERE o_orderdate >= valid_from
      AND (valid_to IS NULL OR o_orderdate < valid_to)
    """,
)
def join_temporal_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal snapshot) join: each order picks the
    dimension VERSION that was valid on its order date — the lookup
    every feature store and SCD2 consumer runs (scd2_history builds
    such a dimension; this is its read side). The versioned dim is
    derived inline (two balance versions split at 1998-01-01). The
    plan is the one that survives 100 TB: an EQUI-join on the entity
    key carries the handful of versions per key, and the validity
    interval is a residual filter on the joined row — never a raw
    range-theta join (which degenerates to a broadcast nested loop).
    With half-open [from, to) intervals partitioning the timeline,
    every order matches exactly one version — row count is invariant
    (|orders|), a property the oracle's hash implicitly pins."""
    c = table(spark, sf_dir, "customer")
    v1 = c.select(
        F.col("c_custkey").alias("k"),
        round4(F.col("c_acctbal")).alias("bal"),
        F.lit(1).alias("version"),
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.lit("1998-01-01").cast("timestamp").alias("valid_to"),
    )
    v2 = c.select(
        F.col("c_custkey").alias("k"),
        round4(F.col("c_acctbal") * 1.1).alias("bal"),
        F.lit(2).alias("version"),
        F.lit("1998-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    o = table(spark, sf_dir, "orders")
    return (
        o.join(dim, o.o_custkey == dim.k)
        .filter(
            (F.col("o_orderdate") >= F.col("valid_from"))
            & (
                F.col("valid_to").isNull()
                | (F.col("o_orderdate") < F.col("valid_to"))
            )
        )
        .select(
            "o_orderkey", "o_custkey", F.col("bal").alias("bal_asof"), "version"
        )
    )


@query(
    "maintenance_snapshot_diff",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey AS k, o_totalprice AS price
        FROM orders WHERE o_orderkey % 97 != 0
    ),
    v2 AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 89 != 0
    )
    SELECT COALESCE(v1.k, v2.k) AS o_orderkey,
           CASE WHEN v1.k IS NULL THEN 'insert'
                WHEN v2.k IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           v1.price AS old_price, v2.price AS new_price
    FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    WHERE v1.k IS NULL OR v2.k IS NULL OR v1.price != v2.price
    """,
)
def maintenance_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation / CDC diff: classify every row across
    two table versions as insert / delete / update (unchanged rows are
    dropped — at 100 TB the diff is the small output, never the
    snapshots). The two versions are carved deterministically from the
    same fixture (v1 omits keys ≡0 mod 97; v2 omits keys ≡0 mod 89 and
    reprices keys ≡0 mod 31), so both engines see identical inputs
    with all three change classes populated. The engine shape is ONE
    full-outer hash equi-join on the snapshot key with a row-local
    change classifier — no sort, no window; with both snapshots
    bucketed by key the shuffle disappears entirely (the
    join_bucketed_colocated pattern). This is the primitive
    quality_table_checksum escalates to when checksums disagree."""
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_totalprice").alias("old_price"),
    )
    v2 = o.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("k2"),
        F.when(
            F.col("o_orderkey") % 31 == 0, F.col("o_totalprice") + 10.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    j = v1.join(v2, v1.k1 == v2.k2, "full_outer")
    return j.filter(
        F.col("k1").isNull()
        | F.col("k2").isNull()
        | (F.col("old_price") != F.col("new_price"))
    ).select(
        F.coalesce("k1", "k2").alias("o_orderkey"),
        F.when(F.col("k1").isNull(), "insert")
        .when(F.col("k2").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        "old_price",
        "new_price",
    )


@query(
    "join_dynamic_partition_pruning",
    oracle="""
    WITH flags AS (
        SELECT * FROM (VALUES ('A', 'closed'), ('N', 'open'),
                              ('R', 'returned')) AS t(flag, label)
    )
    SELECT f.label, COUNT(*) AS n,
           ROUND(SUM(l.l_extendedprice), 4) AS revenue
    FROM lineitem l JOIN flags f ON l.l_returnflag = f.flag
    WHERE f.label = 'returned'
    GROUP BY f.label
    """,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned on the join key (l_returnflag), the dimension filter
    (label = 'returned') is only knowable AFTER the optimizer looks
    through the join — so Catalyst injects a dynamicpruning subquery
    that evaluates the dim side first and prunes fact PARTITIONS at
    runtime (pinned in tests/test_plans.py). At 100 TB this is the
    optimization that turns a full-fact scan joined to a filtered dim
    into a read of one partition directory — the run-time complement
    to static partition pruning (sink_partitioned_parquet). The
    written layout is a temp copy of the fixture (the fixture itself
    is read-only single-file parquet). The 3-row dimension is written
    beside it: DPP needs a filter on the dimension side of the optimized
    plan, and a filter over a literal relation is folded into the
    relation itself."""
    li = table(spark, sf_dir, "lineitem")
    scratch = mkscratch("mrsas_dpp_")
    out = os.path.join(scratch, "li_by_flag")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    fact = spark.read.parquet(out)
    dim = os.path.join(scratch, "flags")
    literal_table(
        spark,
        [("A", "closed"), ("N", "open"), ("R", "returned")],
        "flag string, label string",
    ).write.mode("overwrite").parquet(dim)
    flags = spark.read.parquet(dim)
    return (
        fact.join(flags, fact.l_returnflag == flags.flag)
        .filter(F.col("label") == "returned")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
    )


@query(
    "scan_ignore_corrupt_files",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 4) AS total
    FROM orders WHERE o_orderkey % 2 = 0
    GROUP BY o_orderpriority
    """,
)
def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file resilience: a directory holding one good parquet
    file AND one garbage file that is not parquet at all — read with
    ``spark.sql.files.ignoreCorruptFiles`` so the scan survives and
    returns the good file's rows. At 100 TB a torn write or a bad
    object-store replica is a WHEN, not an if; the operational choice
    this key pins is skip-and-continue (with the corrupt file's rows
    absent) versus failing a 10-hour job on one of 100k files. The
    oracle reads the same logical slice from the intact fixture, so
    the check also proves the good file's content arrives complete —
    nothing silently dropped beyond the corrupt member."""
    o = table(spark, sf_dir, "orders")
    out = os.path.join(mkscratch("mrsas_corrupt_"), "orders_mix")
    o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)
    with open(os.path.join(out, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file" * 64)
    reader = spark.read.option("ignoreCorruptFiles", "true")
    return (
        reader.parquet(out)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


@query(
    "scan_csv_dropmalformed",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 4) AS total
    FROM orders WHERE o_orderkey % 20 = 0
    GROUP BY o_orderpriority
    """,
)
def scan_csv_dropmalformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row policy for text formats: a CSV directory holding
    one well-formed member and one garbage member (wrong arity, type
    garbage), read with ``mode=DROPMALFORMED`` — bad ROWS are skipped
    while every valid row survives. The row-level sibling of
    scan_ignore_corrupt_files' file-level contract: in a 100 TB text
    ingest the question is never whether malformed lines exist but
    whether they cost you the job (FAILFAST), silent NULL rows
    (PERMISSIVE default), or are dropped with the rest of the file
    intact — this key pins the third. The oracle recomputes the
    expected survivors from the intact fixture slice, so the check
    proves both that garbage vanished AND that nothing valid was
    dropped with it.

    Gotcha pinned here (found live, twice): DROPMALFORMED interacts
    with CSV column pruning — a row is judged malformed only on the
    columns the plan actually parses, so an aggregate touching just
    (price, priority) lets an under-arity line survive as an all-NULL
    row, a bare count() parses nothing and counts every garbage line,
    and — the second finding — an OVER-arity line survives any plan
    that doesn't parse the full schema, making the same DataFrame's
    show() and count() disagree (count() of the aggregate needs only
    the group/filter columns). The all-columns NOT NULL gate below is
    therefore load-bearing: it forces EVERY schema column into the
    parse path on every execution route, which is what makes
    arity/type garbage malformed deterministically. (Equivalently:
    spark.sql.csv.parser.columnPruning.enabled=false, but a session
    conf would leak past this query.)"""
    o = table(spark, sf_dir, "orders")
    out = os.path.join(mkscratch("mrsas_csvmal_"), "orders_csv")
    o.filter(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).coalesce(1).write.mode("overwrite").option("header", "false").csv(out)
    with open(os.path.join(out, "part-malformed.csv"), "w") as fh:
        fh.write("justonefield\n")                 # arity too low
        fh.write("1,2.5,3-MEDIUM,extra,fields\n")  # arity too high
        fh.write("notanint,alsonotadouble,9-FAKE\n")  # type garbage
    read = (
        spark.read.schema(
            "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING"
        )
        .option("header", "false")
        .option("mode", "DROPMALFORMED")
        .csv(out)
    )
    gate = (
        F.col("o_orderkey").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    return read.filter(gate).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


@query(
    "scan_json_permissive_corrupt",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_valid,
           CAST(3 AS BIGINT) AS n_corrupt,
           ROUND(SUM(o_totalprice), 4) AS total
    FROM orders WHERE o_orderkey % 25 = 0
    """,
)
def scan_json_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode JSON ingest with a corrupt-record quarantine
    column — the third point on the malformed-input policy axis next
    to scan_csv_dropmalformed (drop rows) and scan_ignore_corrupt_files
    (drop files): bad lines are KEPT, routed into _corrupt_record with
    every data column NULL, so the pipeline can count, alert on, and
    replay them instead of silently losing input. The directory holds
    a valid JSONL member (a fixture slice) plus exactly three planted
    garbage lines (truncated JSON, non-JSON text, wrong-type object) —
    the contract checked is the split: n_corrupt = 3 (the literal IS
    the plant count), n_valid and the revenue sum = the intact fixture
    slice, proving quarantine swallowed nothing valid. Spark caveat
    honored: _corrupt_record cannot be the ONLY referenced column
    (raises AnalysisException by design) — the aggregate touches data
    columns too."""
    o = table(spark, sf_dir, "orders")
    out = os.path.join(mkscratch("mrsas_jsonmal_"), "orders_js")
    o.filter(F.col("o_orderkey") % 25 == 0).select(
        "o_orderkey", "o_totalprice"
    ).coalesce(1).write.mode("overwrite").json(out)
    with open(os.path.join(out, "part-garbage.json"), "w") as fh:
        fh.write('{"o_orderkey": 1, "o_totalprice":\n')      # truncated
        fh.write("this is not json at all\n")                 # not JSON
        fh.write('{"o_orderkey": "NaNsense", "o_totalprice": "x"}\n')
    read = spark.read.schema(
        "o_orderkey BIGINT, o_totalprice DOUBLE, _corrupt_record STRING"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(out)
    return read.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_valid"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.round(
            F.sum(
                F.when(
                    F.col("_corrupt_record").isNull(), F.col("o_totalprice")
                )
            ),
            4,
        ).alias("total"),
    )
