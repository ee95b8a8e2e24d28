"""Sort / limit / top-k / sampling (SURVEY.md §2.6).

Scale notes: ``.orderBy(...).limit(k)`` compiles to
TakeOrderedAndProject — each partition keeps its local top-k and only k
rows per partition reach the driver-side merge, so a top-100 over 100 TB
never materializes a global sort. Plan-asserted in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
from movierecommender_sentimentanalysissytem_spark.registry import query
from movierecommender_sentimentanalysissytem_spark.sources.tables import (
    rating_events,
    table,
)


@query(
    "sort_multikey",
    oracle="""
    SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 4) AS total
    FROM orders
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 50
    """,
)
def sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key ORDER BY + LIMIT with a unique trailing tiebreaker
    (o_orderkey) so the top-50 set is identical on both engines."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(
            F.col("o_orderpriority").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .limit(50)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 4).alias("total"),
        )
    )


@query(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination: rows 41..60 of a deterministic total order."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(40)
        .limit(20)
        .select("o_orderkey", F.round("o_totalprice", 4).alias("total"))
    )


@query(
    "sample_deterministic",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE CAST('0x' || substr(md5('smp:' || l_orderkey || ':' || l_linenumber), 1, 15)
               AS BIGINT) % 100 < 10
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample keyed on a hash of the primary key — the
    REPRODUCIBLE sampling pattern: row membership depends only on the
    key, never on partitioning, executor count, or engine RNG, so the
    sample is stable across reruns, re-partitions, and engines
    (SQL-checked exactly via the cross-engine md5 hash family; a
    seeded ``.sample`` by contrast picks different rows per engine).

    Per-partition, no shuffle, no coordination — same cost profile as
    ``.sample`` at 100 TB, with auditability for free."""
    li = table(spark, sf_dir, "lineitem")
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('smp:', l_orderkey, ':',"
        " l_linenumber)), 1, 15), 16, 10) AS BIGINT) % 100"
    )
    return li.filter(bucket < 10).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "sample_train_test_split",
    oracle="""
    SELECT CASE WHEN CAST('0x' || substr(md5('tts:' || l_orderkey || ':' || l_linenumber), 1, 15)
                     AS BIGINT) % 100 < 80
                THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n,
           FLOOR(AVG(l_quantity) * 10000 + 0.5) / 10000 AS avg_rating
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The archetype's train/test split, hash-keyed instead of
    randomSplit: each rating row lands in train (80%) or test (20%) by
    a hash of its primary key, so the split is identical across reruns,
    partitionings, and engines (randomSplit resamples whenever the
    upstream partitioning changes — a real leakage hazard in
    production retrains). Summarized per split: row count and mean
    rating, SQL-checked exactly."""
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('tts:', l_orderkey, ':',"
        " l_linenumber)), 1, 15), 16, 10) AS BIGINT) % 100"
    )
    ratings = rating_events(spark, sf_dir).select(
        "rating", F.when(bucket < 80, "train").otherwise("test").alias("split")
    )
    return ratings.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        round4(F.avg("rating")).alias("avg_rating"),
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    WHERE CAST('0x' || substr(md5('str:' || event_id), 1, 15) AS BIGINT) % 100
          < CASE event_type WHEN 'view' THEN 10 WHEN 'click' THEN 50
                            ELSE 100 END
    GROUP BY event_type
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum fractions — keep all rare
    'error'/'signup'/'purchase' events, thin the dominant classes
    ('view' 10%, 'click' 50%). The class-rebalancing primitive for
    training-data curation, hash-keyed on event_id (like
    sample_deterministic) so the per-class sample is reproducible
    across reruns, partitionings, and engines — ``sampleBy`` with a
    seed re-picks rows whenever partitioning changes. SQL-checked."""
    e = table(spark, sf_dir, "events")
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('str:', event_id)), 1, 15),"
        " 16, 10) AS BIGINT) % 100"
    )
    threshold = (
        F.when(F.col("event_type") == "view", 10)
        .when(F.col("event_type") == "click", 50)
        .otherwise(100)
    )
    return (
        e.filter(bucket < threshold)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "sample_k_per_group",
    oracle="""
    SELECT event_id, event_type, rn FROM (
        SELECT event_id, event_type,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST('0x' || substr(md5(concat('kpg:',
                       CAST(event_id AS VARCHAR))), 1, 15) AS BIGINT),
                       event_id) AS INTEGER) AS rn
        FROM events
    ) t WHERE rn <= 5
    """,
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group sampling: the 5 hash-smallest events of each
    type — the fixed-size counterpart of sample_stratified's per-class
    FRACTIONS (eval sets and debugging slices want exact counts, not
    rates). Ordering by the 60-bit content hash of the row key makes
    the pick uniform-ish, reproducible across reruns/partitionings/
    engines, and independent of any data ordering; event_id breaks the
    (astronomically unlikely) hash tie to keep a total order. Spark
    plans the rn ≤ k filter as WindowGroupLimit — per-partition top-k
    heaps before the shuffle, so the exchange moves O(k·groups) rows,
    not the table."""
    from movierecommender_sentimentanalysissytem_spark.functions.dedup import (
        _spark_h,
    )

    e = table(spark, sf_dir, "events")
    h = F.expr(_spark_h("kpg", "CAST(event_id AS STRING)"))
    w = Window.partitionBy("event_type").orderBy(h.asc(), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 5)
        .select("event_id", "event_type", "rn")
    )


@query(
    "sample_weighted_bernoulli",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE CAST('0x' || substr(md5('wbs:' || o_orderkey), 1, 15)
               AS BIGINT) % 10000
          < LEAST(10000, CAST(FLOOR(o_totalprice / 50.0) AS BIGINT))
    """,
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional Bernoulli sampling: each order is kept with
    probability proportional to its value (totalprice/50 basis points,
    clamped at certainty) — the size-biased sample a revenue auditor
    or importance-weighted training pipeline draws. Membership depends
    only on the key's hash bucket vs an INTEGER basis-point threshold
    (no float boundary to drift cross-engine), so the sample is
    reproducible across reruns, partitionings, and engines — same
    determinism contract as sample_deterministic, extended to per-row
    weights. Per-partition map-side filter, no shuffle, no
    coordination at any scale."""
    o = table(spark, sf_dir, "orders")
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('wbs:', o_orderkey)), 1, 15),"
        " 16, 10) AS BIGINT) % 10000"
    )
    threshold = F.least(
        F.lit(10000).cast("bigint"),
        F.floor(F.col("o_totalprice") / 50.0).cast("bigint"),
    )
    return o.filter(bucket < threshold).select("o_orderkey", "o_totalprice")


@query(
    "sort_null_ordering",
    oracle="""
    WITH v AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_totalprice END AS val
        FROM orders
    )
    SELECT 'nulls_first' AS mode, o_orderkey,
           FLOOR(val * 10000 + 0.5) / 10000 AS val
    FROM (SELECT * FROM v
          ORDER BY val ASC NULLS FIRST, o_orderkey LIMIT 5) a
    UNION ALL
    SELECT 'nulls_last', o_orderkey, FLOOR(val * 10000 + 0.5) / 10000
    FROM (SELECT * FROM v
          ORDER BY val ASC NULLS LAST, o_orderkey LIMIT 5) b
    """,
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL placement in ORDER BY — the dialect trap this key
    exists to pin: the DEFAULTS disagree (Spark sorts ASC with NULLS
    FIRST, DuckDB with NULLS LAST), so any top-k over a nullable sort
    key silently returns different rows across engines unless NULLS
    FIRST/LAST is spelled out — which is why every ORDER BY in this
    repo's oracles either sorts non-null keys or says so explicitly.
    Both directions are exercised: the NULLS FIRST head is all-NULL
    rows (ordered by the unique tie-break), the NULLS LAST head is
    the true minima. TakeOrdered both ways; no full sort survives
    the limit."""
    o = table(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("val"),
    )
    first = (
        v.orderBy(F.col("val").asc_nulls_first(), F.col("o_orderkey").asc())
        .limit(5)
        .select(
            F.lit("nulls_first").alias("mode"),
            "o_orderkey",
            round4(F.col("val")).alias("val"),
        )
    )
    last = (
        v.orderBy(F.col("val").asc_nulls_last(), F.col("o_orderkey").asc())
        .limit(5)
        .select(
            F.lit("nulls_last").alias("mode"),
            "o_orderkey",
            round4(F.col("val")).alias("val"),
        )
    )
    return first.unionByName(last)
