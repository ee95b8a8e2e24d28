"""Product-analytics composites over the events stream: funnel
conversion, cohort retention, upsert/merge — the operators an
events-pipeline user reaches for daily, each a one-or-two-shuffle
relational plan that scales with the user_id key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
from movierecommender_sentimentanalysissytem_spark.plans.caching import scoped_persist
from movierecommender_sentimentanalysissytem_spark.registry import query
from movierecommender_sentimentanalysissytem_spark.sources.tables import (
    literal_table,
    table,
)


@query(
    "fn_from_json_map",
    oracle="""
    SELECT event_id, 'k' AS k, CAST(props->>'$.k' AS INTEGER) AS v
    FROM events
    WHERE event_id BETWEEN 200 AND 400
    """,
)
def fn_from_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON payload into a typed MapType and explode it to
    key/value rows — the schema-on-read path for ragged JSON (vs
    get_json_object's single-path extraction in fn_map_json)."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_id").between(200, 400))
        .select(
            "event_id",
            F.explode(F.from_json("props", "map<string,int>")).alias("k", "v"),
        )
    )


@query(
    "merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_custkey AS c_custkey,
               SUM(o_totalprice) AS spend
        FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
    )
    SELECT COALESCE(c.c_custkey, u.c_custkey) AS c_custkey,
           COALESCE(c.c_name, 'NEW') AS c_name,
           ROUND(COALESCE(c.c_acctbal, 0.0) + COALESCE(u.spend, 0.0), 4)
               AS new_balance,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN u.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM customer c FULL JOIN updates u ON c.c_custkey = u.c_custkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation: full-outer join of the dimension with an
    updates relation, coalescing matched/unmatched branches into
    insert/update/keep actions — the upsert pattern for engines without
    a native MERGE (one shuffle on the merge key; at scale the dim side
    would be bucketed on it)."""
    c = table(spark, sf_dir, "customer")
    u = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("u_custkey"))
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    return c.join(u, c.c_custkey == u.u_custkey, "full").select(
        F.coalesce(c.c_custkey, F.col("u_custkey")).alias("c_custkey"),
        F.coalesce(c.c_name, F.lit("NEW")).alias("c_name"),
        F.round(
            F.coalesce(c.c_acctbal, F.lit(0.0)) + F.coalesce(F.col("spend"), F.lit(0.0)),
            4,
        ).alias("new_balance"),
        F.when(c.c_custkey.isNull(), "insert")
        .when(F.col("u_custkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN date_trunc('second', ts) END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN date_trunc('second', ts) END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN date_trunc('second', ts) END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_view) AS n_viewed,
           COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_clicked_after_view,
           COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
               AS n_full_funnel,
           FLOOR((CAST(COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view
                                  THEN 1 END) AS DOUBLE)
                  / COUNT(*)) * 10000 + 0.5) / 10000 AS conversion_rate
    FROM stages
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel: first-occurrence timestamps per
    stage per user (one conditional-MIN aggregation — no self-joins),
    then ordered-stage counts and the end-to-end conversion rate."""
    e = table(spark, sf_dir, "events").withColumn(
        "ts_s", F.date_trunc("second", F.col("ts"))
    )

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts_s")))

    stages = e.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    full = (F.col("t_purchase") > F.col("t_click")) & (
        F.col("t_click") > F.col("t_view")
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "n_clicked_after_view"
        ),
        F.count(F.when(full, 1)).alias("n_full_funnel"),
        round4(
            F.count(F.when(full, 1)).cast("double") / F.count(F.lit(1))
        ).alias("conversion_rate"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
           CAST(day_offset AS INTEGER) AS day_offset,
           COUNT(*) AS n_active_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted per
    day-offset of subsequent activity (first week). Two shuffles on
    user_id, one on (cohort, offset) — the classic retention triangle,
    linear in events."""
    e = table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    firsts = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            "day_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@query(
    "profile_numeric_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           FLOOR(MIN(l_extendedprice) * 10000 + 0.5) / 10000 AS lo,
           FLOOR(MAX(l_extendedprice) * 10000 + 0.5) / 10000 AS hi
    FROM lineitem GROUP BY 1
    """,
)
def profile_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of a numeric column (5000-wide buckets):
    the data-profiling primitive behind skew detection and range
    partition planning. One scan, one groupBy on a derived int key —
    at 100 TB this is the cheapest possible distribution sketch (the
    approx twin is agg_approx_percentile)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "bucket", F.floor(F.col("l_extendedprice") / 5000).cast("bigint")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round4(F.min("l_extendedprice")).alias("lo"),
            round4(F.max("l_extendedprice")).alias("hi"),
        )
    )


@query(
    "profile_table",
    oracle="""
    SELECT 'lang' AS col, COUNT(*) AS n,
           COUNT(*) - COUNT(lang) AS n_null,
           COUNT(DISTINCT lang) AS n_distinct
    FROM documents
    UNION ALL
    SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
           COUNT(DISTINCT source)
    FROM documents
    UNION ALL
    SELECT 'text', COUNT(*), COUNT(*) - COUNT(text),
           COUNT(DISTINCT text)
    FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
           COUNT(DISTINCT n_chars)
    FROM documents
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (row count, null count, distinct count per
    column) — the data-quality report every ingest job runs before
    training-data curation. Formulated as one aggregate per column
    unioned into a long table.

    Scale notes: exact COUNT(DISTINCT) per column re-shuffles per
    column; at 100 TB swap in approx_count_distinct (single pass, no
    expansion — the agg_approx_count_distinct pattern) and keep this
    exact form for the oracle-checked tier."""
    d = table(spark, sf_dir, "documents")

    def col_profile(c: str) -> DataFrame:
        return d.agg(
            F.lit(c).alias("col"),
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
        )

    out = col_profile("lang")
    for c in ("source", "text", "n_chars"):
        out = out.unionByName(col_profile(c))
    return out


@query(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000
               AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    unshipped orders ⋈ lineitems, revenue per order, top-10. The
    classic filter-join-agg-topk composite; selective dimension filters
    push to the scans, the top-10 runs as TakeOrderedAndProject with a
    deterministic l_orderkey tiebreaker."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            round4(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000
               AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): customers ranked by
    revenue lost to returns — fact-fact join plus a broadcast dim,
    grouped on a mid-cardinality composite key, top-20 with
    deterministic tiebreaker."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            round4(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS o_year,
           FLOOR(SUM(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.6) * 10000 + 0.5) / 10000
               AS profit
    FROM part JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%a%'
    GROUP BY n_name, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): a 5-table join with the
    profit expression (revenue minus estimated supply cost — the
    fixture lacks partsupp, so cost is p_retailprice-derived), grouped
    by supplier nation and order year. The widest join tree in the
    extras; part/supplier/nation broadcast, the two fact joins
    shuffle on their keys."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.6
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(round4(F.sum(profit)).alias("profit"))
    )


@query(
    "observe_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS n_nonpositive,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``Observation`` API: data-quality metrics computed IN-FLIGHT on
    the rows a job actually processes — zero extra scan, unlike a
    separate validation query (which reads the data twice and can
    disagree with what the job saw under concurrent writes). The
    production pattern for pipeline quality gates: attach counters,
    run the job, assert on the observed values before publishing.
    Here the observed metrics are returned as the result (one bounded
    row) and SQL-checked against a direct aggregation."""
    from pyspark.sql import Observation

    o = table(spark, sf_dir, "orders")
    obs = Observation("quality")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n_nonpositive"),
        F.max("o_orderkey").alias("max_key"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "job"
    m = obs.get
    return literal_table(
        spark,
        [(m["n_rows"], m["n_nonpositive"], m["max_key"])],
        "n_rows bigint, n_nonpositive bigint, max_key bigint",
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey AS b_orderkey, SUM(l_quantity) AS qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           FLOOR(o_totalprice * 10000 + 0.5) / 10000 AS totalprice,
           FLOOR(qty * 10000 + 0.5) / 10000 AS qty
    FROM big JOIN orders ON o_orderkey = b_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY totalprice DESC, o_orderkey LIMIT 20
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the agg-then-semi
    composite — a HAVING aggregate over the fact table produces a
    small key set that gates the main join. The aggregate output
    (46 keys at sf0.01) broadcasts into the orders join, so the big
    fact⋈fact shuffle the naive IN-subquery plan would run never
    happens; top-20 runs as TakeOrderedAndProject with an o_orderkey
    tiebreaker."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.b_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            round4(F.col("o_totalprice")).alias("totalprice"),
            round4(F.col("qty")).alias("qty"),
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT FLOOR((100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0.0 END)
                  / SUM(l_extendedprice * (1 - l_discount))) * 10000 + 0.5)
               / 10000 AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-06-01 00:00:00'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): conditional-aggregate ratio
    over a date-sliced fact⋈dim join — one number out. The part dim
    broadcasts; the shipdate range filter pushes to the parquet scan
    (min/max row-group pruning at scale); both SUMs run in one pass
    (a single partial-agg, no second scan for the denominator)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-06-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(round4(100.0 * F.sum(promo) / F.sum(rev)).alias("promo_pct"))
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
    SELECT FLOOR((SUM(l_extendedprice) / 7.0) * 10000 + 0.5) / 10000
               AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#4'
      AND l_quantity < (SELECT 0.5 * AVG(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the classic
    correlated-aggregate decorrelation. The per-part average the
    subquery computes becomes a window AVG over l_partkey on the
    brand-filtered join — ONE shuffle on l_partkey total, instead of
    the naive plan's separate aggregate + re-join (two shuffles of the
    same fact rows). The brand filter broadcasts via the part dim, so
    the window only sees the ~1% of lineitems that can qualify.
    l_quantity is a small integer-valued double: both engines compute
    the same exact AVG, so the strict `<` cannot flip cross-engine."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    w = Window.partitionBy("l_partkey")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return (
        joined.withColumn("thr", 0.5 * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("thr"))
        .agg(round4(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@query(
    "tpch_q22_dormant_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT FLOOR(AVG(c_acctbal) * 10000 + 0.5) / 10000 AS ab
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey % 10 AS cntrycode,
           COUNT(*) AS numcust,
           FLOOR(SUM(c_acctbal) * 10000 + 0.5) / 10000 AS totacctbal
    FROM customer c, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'O')
    GROUP BY cntrycode
    """,
)
def tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): scalar-subquery
    threshold + anti-join + aggregate. The positive-balance average is
    a 1-row broadcast (cross join, not a collect); customers above it
    with no open orders survive a left-anti join against the
    status-filtered orders; grouped by a derived country code. The
    threshold is rounded to 4 dp on BOTH sides before the strict
    comparison so engine-specific summation order can't flip a
    boundary row (balances have 2 dp — a 4 dp threshold is safe)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(round4(F.avg("c_acctbal")).alias("ab"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            round4(F.sum("c_acctbal")).alias("totacctbal"),
        )
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): EXISTS over a
    correlated fact predicate → left-semi join with a mixed equi +
    non-equi condition. The equi key (l_orderkey = o_orderkey) keeps
    it a shuffled-hash/sort-merge SEMI join — each order is emitted at
    most once however many late lineitems it has, with no post-join
    distinct (the fixture lacks l_commitdate/l_receiptdate, so "late"
    is shipped >60 days after order date)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_size
    """,
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): NOT IN subquery →
    left-anti join against the excluded supplier set, then COUNT
    DISTINCT over a composite group key. The exclusion list and the
    part dim both broadcast (the fixture lacks partsupp, so lineitem
    provides the part-supplier pairs); the only shuffle is the
    distinct aggregate. s_suppkey is non-null so NOT IN and anti-join
    agree (with nullable keys NOT IN would need a null guard)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    bad = table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 10
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    hardest subquery composite — an EXISTS and a NOT EXISTS, both
    correlated on the outer row AND on a column of an already-joined
    table (o_orderdate). Decorrelates to a left-semi then a left-anti
    join, each keyed on l_orderkey with an extra non-equi conjunct, so
    all three lineitem visits shuffle on the SAME key and stay
    co-partitioned — no re-shuffle between the semi and anti stages.
    "Late" is shipped >30 days after order date (fixture has no
    commit/receipt dates); multi-supplier finished orders where ONLY
    this supplier was late count against it."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    base = (
        l1.join(o, l1.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    waited = (
        base.join(
            l2,
            (base.l_orderkey == l2.k2) & (base.l_suppkey != l2.s2),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == l3.k3)
            & (F.col("l_suppkey") != l3.s3)
            & (l3.d3 > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_anti",
        )
    )
    return (
        waited.join(F.broadcast(s), waited.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT p_brand,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
           FLOOR((SUM(l_extendedprice * l_quantity) / SUM(l_quantity))
                 * 10000 + 0.5) / 10000 AS wavg_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per brand — the reporting
    primitive plain AVG gets wrong. Both weighted sums fold map-side in
    ONE aggregation pass (no separate totals query); the part dim
    broadcasts onto the lineitem scan."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("total_qty"),
            round4(
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity")
            ).alias("wavg_price"),
        )
    )


@query(
    "quality_benford_digits",
    oracle="""
    SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                AS INTEGER) AS digit,
           COUNT(*) AS n,
           FLOOR((COUNT(*) * 1.0
                  / (SELECT COUNT(*) FROM orders WHERE o_totalprice >= 1))
                 * 10000 + 0.5) / 10000 AS frac
    FROM orders WHERE o_totalprice >= 1
    GROUP BY digit
    """,
)
def quality_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals — the
    Benford's-law data-quality screen (fabricated or truncated numeric
    columns show skewed leading digits). Digit extraction is integer
    string math (exact); the fraction divides two exact counts, so the
    doubles are identical cross-engine. One aggregation plus a 1-row
    total broadcast."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    # Persist the digit counts: the crossJoin's broadcast side would
    # otherwise re-execute the scan+aggregate lineage for the 1-row
    # total (same scoped_persist pattern as tpch_more.py).
    counts = scoped_persist(
        digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            round4(F.col("n") / F.col("tot")).alias("frac"),
        )
    )


@query(
    "profile_topk_values",
    oracle="""
    WITH s AS (
        SELECT 'o_orderstatus' AS col_name, o_orderstatus AS value
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT 'c_mktsegment', c_mktsegment FROM customer
    ),
    c AS (SELECT col_name, value, COUNT(*) AS n FROM s
          GROUP BY col_name, value)
    SELECT col_name, value, n, rn FROM (
        SELECT col_name, value, n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY col_name
                   ORDER BY n DESC, value ASC) AS INTEGER) AS rn
        FROM c
    ) t WHERE rn <= 3
    """,
)
def profile_topk_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 most frequent values per profiled column — the
    categorical twin of profile_numeric_histogram, and the exact
    ground truth the sketch-based agg_approx_top_k trades against.
    Columns unpivot into one (col_name, value) stream so a single
    count + per-column ranking serves any number of profiled columns;
    ties rank by value, a total order. Each per-column group holds at
    most |distinct values| rows after the first aggregate — the
    ranking windows are tiny however large the tables are."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = (
        o.select(
            F.lit("o_orderstatus").alias("col_name"),
            F.col("o_orderstatus").alias("value"),
        )
        .unionAll(
            o.select(F.lit("o_orderpriority"), F.col("o_orderpriority"))
        )
        .unionAll(c.select(F.lit("c_mktsegment"), F.col("c_mktsegment")))
    )
    counts = s.groupBy("col_name", "value").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("col_name").orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("col_name", "value", "n", "rn")
    )
