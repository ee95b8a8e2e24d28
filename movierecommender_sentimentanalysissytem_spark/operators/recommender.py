"""Archetype-parity composite queries (SURVEY.md §0.1): the concrete
analytics a user of the reference repo runs daily, re-expressed on the
fixture schema. Ratings are the derived fixture
(``sources.tables.rating_events``, FIXTURES.md); "genres" are the
reference's |-delimited multi-valued attribute, played here by the
space-separated words of p_type.

All SQL-checked: these are thin compositions of §2 operators, which is
exactly what the reference's scripts are.
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
    "rec_top_items",
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS user, l_partkey AS item, l_quantity AS rating
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    stats AS (
        SELECT item, COUNT(*) AS n_ratings,
               FLOOR(AVG(rating) * 10000 + 0.5) / 10000 AS avg_rating
        FROM ratings GROUP BY item HAVING COUNT(*) >= 10
    )
    SELECT item, n_ratings, avg_rating
    FROM stats
    ORDER BY avg_rating DESC, n_ratings DESC, item ASC
    LIMIT 25
    """,
)
def rec_top_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The archetype's "top movies by average rating with a minimum
    rating count" — agg + HAVING + deterministic top-k. AVG of
    integer-valued ratings is exact, so the stable round is safe."""
    r = rating_events(spark, sf_dir)
    stats = (
        r.groupBy("item")
        .agg(
            F.count(F.lit(1)).alias("n_ratings"),
            (F.floor(F.avg("rating") * 10000 + F.lit(0.5)) / 10000).alias(
                "avg_rating"
            ),
        )
        .filter(F.col("n_ratings") >= 10)
    )
    return (
        stats.orderBy(
            F.col("avg_rating").desc(), F.col("n_ratings").desc(), F.col("item").asc()
        )
        .limit(25)
        .select("item", "n_ratings", "avg_rating")
    )


@query(
    "rec_user_activity",
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS user, l_quantity AS rating
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    per_user AS (
        SELECT user, COUNT(*) AS n FROM ratings GROUP BY user
    )
    SELECT CAST(FLOOR(n / 10) * 10 AS BIGINT) AS activity_band,
           COUNT(*) AS n_users
    FROM per_user
    GROUP BY activity_band
    """,
)
def rec_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratings-per-user histogram in bands of 10 (the archetype's
    user-activity exploration)."""
    r = rating_events(spark, sf_dir)
    per_user = r.groupBy("user").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_user.groupBy(
            (F.floor(F.col("n") / 10) * 10).cast("long").alias("activity_band")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "rec_genre_explode",
    oracle="""
    WITH exploded AS (
        SELECT l.l_partkey, u.genre, l.l_quantity
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey,
        unnest(string_split(p.p_type, ' ')) AS u(genre)
    )
    SELECT genre, COUNT(*) AS n_ratings,
           FLOOR(AVG(l_quantity) * 10000 + 0.5) / 10000 AS avg_rating
    FROM exploded
    GROUP BY genre
    """,
)
def rec_genre_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's |-delimited genre explode: split the
    multi-valued attribute, explode, join to the ratings fact, and
    aggregate per genre. The explode happens on the small dim BEFORE
    the fact join at the logical level, but Catalyst keeps the join
    keyed on partkey either way."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey", F.explode(F.split("p_type", " ")).alias("genre")
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("genre")
        .agg(
            F.count(F.lit(1)).alias("n_ratings"),
            (F.floor(F.avg("l_quantity") * 10000 + F.lit(0.5)) / 10000).alias(
                "avg_rating"
            ),
        )
    )


@query(
    "rec_user_topn_window",
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS user, l_partkey AS item,
               AVG(l_quantity) AS rating
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_partkey
    )
    SELECT user, item, FLOOR(rating * 10000 + 0.5) / 10000 AS rating, rn
    FROM (
        SELECT user, item, rating,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user ORDER BY rating DESC, item ASC) AS INTEGER) AS rn
        FROM ratings
    ) t WHERE rn <= 5
    """,
)
def rec_user_topn_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 already-rated items per user — the relational
    (history-based) twin of ml_als_recommend's model-based top-N, and
    the exact shape `recommendForAllUsers` computes internally."""
    r = (
        rating_events(spark, sf_dir)
        .groupBy("user", "item")
        .agg(F.avg("rating").alias("rating"))
    )
    w = Window.partitionBy("user").orderBy(
        F.col("rating").desc(), F.col("item").asc()
    )
    return (
        r.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 5)
        .select(
            "user",
            "item",
            (F.floor(F.col("rating") * 10000 + F.lit(0.5)) / 10000).alias("rating"),
            "rn",
        )
    )


@query(
    "sentiment_distribution",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, lang, u.word
        FROM documents, unnest(string_split(text, ' ')) AS u(word)
    ),
    scored AS (
        SELECT t.doc_id, ANY_VALUE(t.lang) AS lang,
               SUM(lex.score) AS sent_sum
        FROM tokens t
        JOIN (VALUES ('fast', 3), ('small', 1), ('value', 2), ('join', 1),
                     ('merge', 1), ('slow', -3), ('error', -4), ('fail', -4),
                     ('big', -1), ('skew', -2)) AS lex(word, score)
          ON t.word = lex.word
        GROUP BY t.doc_id
    )
    SELECT lang,
           CASE WHEN sent_sum > 0 THEN 'positive'
                WHEN sent_sum < 0 THEN 'negative'
                ELSE 'neutral' END AS sentiment,
           COUNT(*) AS n_docs
    FROM scored
    GROUP BY lang, sentiment
    """,
)
def sentiment_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The archetype's headline sentiment report: per-language
    positive/negative/neutral document counts from the lexicon scores
    (the classifier's output distribution, relationally). Per-doc
    scoring is ``text_lexicon_sentiment``'s: ``(doc_id, lang)`` hash
    grouping, ``doc_id`` being unique."""
    from movierecommender_sentimentanalysissytem_spark.functions.text import (
        _lexicon_df,
        _words,
    )

    tokens = _words(spark, sf_dir).select("doc_id", "lang", "word")
    scored = (
        tokens.join(F.broadcast(_lexicon_df(spark)), "word")
        .groupBy("doc_id", "lang")
        .agg(F.sum("score").alias("sent_sum"))
    )
    return (
        scored.withColumn(
            "sentiment",
            F.when(F.col("sent_sum") > 0, "positive")
            .when(F.col("sent_sum") < 0, "negative")
            .otherwise("neutral"),
        )
        .groupBy("lang", "sentiment")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "rec_item_cooccurrence",
    oracle="""
    SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
           COUNT(*) AS n_orders
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def rec_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence (market basket): parts appearing in the
    same order, counted across orders — the non-ML collaborative
    signal ("customers who bought X also bought Y") that complements
    ALS. One equi-self-join on the basket key; the quadratic term is
    bounded by per-basket size (max ~7 items here), the same
    bounded-bucket argument as the LSH band cap — a mega-basket
    corpus would cap or sample baskets first."""
    li = table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    a = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("item_a")
    )
    b = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("item_b")
    )
    return (
        a.join(b, "k")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


def _pagerank_oracle() -> str:
    """Unrolled 3-iteration PageRank CTE chain (deterministic: each
    iteration's scores are rounded to 4 dp on both engines before the
    next, so cross-engine summation order cannot compound)."""
    it = """
    it{k} AS (
        SELECT pb AS node,
               FLOOR((0.15 + 0.85 * SUM(pr / d)) * 10000 + 0.5) / 10000 AS pr
        FROM pairs JOIN deg USING (pa) JOIN it{j} ON it{j}.node = pa
        GROUP BY pb
    )"""
    its = ",".join(it.format(k=k, j=k - 1) for k in (1, 2, 3))
    return f"""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT pa, CAST(COUNT(*) AS DOUBLE) AS d FROM pairs GROUP BY pa),
    it0 AS (SELECT pa AS node, 1.0 AS pr FROM deg),{its}
    SELECT node, pr FROM it3
    """


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) over the item
    co-purchase graph — the iterative graph-analytics shape beyond
    connected components (dedup_clusters). Edges are distinct co-order
    part pairs (symmetric, so every node has in- and out-edges); each
    iteration is one join + one aggregate, both keyed on the partkey.

    Scale design: the edge list is partitioned by source key and
    reused across iterations from a single persisted lineage (scoped,
    released on the next registry build); scores are a node-sized
    (small) side that could broadcast — here it stays a shuffle join
    so the shape matches the 100 TB case where scores don't fit one
    executor. Per-iteration ROUND-4 on both engines pins the floats:
    without it, cross-engine summation-order differences compound
    through iterations. Fixed iteration count (not convergence-test)
    keeps the plan static and the oracle expressible as an unrolled
    CTE chain."""
    from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
    from movierecommender_sentimentanalysissytem_spark.plans.caching import scoped_persist

    li = table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    a = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa")
    )
    b = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb")
    )
    pairs = scoped_persist(
        a.join(b, "k").filter(F.col("pa") != F.col("pb")).select("pa", "pb").distinct()
    )
    deg = pairs.groupBy("pa").agg(F.count(F.lit(1)).cast("double").alias("d"))
    # Persist the ITERATION-INVARIANT relation, pre-partitioned on the
    # join key: without this, every iteration re-derives deg (an agg
    # over cached pairs) and the pairs⋈deg join from the pairs cache —
    # 2 extra cached scans + 1 join × 3 iterations (A/B at sf0.1:
    # ~9.9 s → ~5.2 s warm). Hash-partitioning by pa means each
    # iteration shuffles only the small scores side to the edges'
    # layout; the per-iteration pb-aggregation shuffle remains, as it
    # must.
    edges = scoped_persist(pairs.join(deg, "pa").repartition("pa"))
    scores = deg.select(F.col("pa").alias("node"), F.lit(1.0).alias("pr"))
    for _ in range(3):
        scores = (
            edges.join(scores, edges.pa == scores.node)
            .groupBy(F.col("pb").alias("nxt"))
            .agg(
                round4(0.15 + 0.85 * F.sum(F.col("pr") / F.col("d"))).alias(
                    "pr"
                )
            )
            .select(F.col("nxt").alias("node"), "pr")
        )
    return scores


# Per-user basket cap for pairwise CF: bounds the quadratic term of the
# user self-join under adversarial data (bot users). Mirrored verbatim
# in the SQL oracle (rn <= 1000); test fixtures peak at ~40 items/user,
# so the cap never binds where exactness is checked.
_BASKET_CAP = 1000


@query(
    "rec_item_similarity",
    oracle="""
    WITH ratings_all AS (
        SELECT o_custkey AS u, l_partkey AS item,
               CAST(SUM(l_quantity) AS BIGINT) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_partkey
    ),
    ratings AS (
        SELECT u, item, r FROM (
            SELECT u, item, r,
                   ROW_NUMBER() OVER (PARTITION BY u
                                      ORDER BY r DESC, item) AS rn
            FROM ratings_all
        ) WHERE rn <= 1000
    ),
    norms AS (
        SELECT item, SQRT(CAST(SUM(r * r) AS BIGINT)) AS nrm
        FROM ratings GROUP BY item
    ),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(SUM(a.r * b.r) AS BIGINT) AS dot,
               COUNT(*) AS n_users
        FROM ratings a JOIN ratings b
          ON a.u = b.u AND a.item < b.item
        GROUP BY a.item, b.item
        HAVING COUNT(*) >= 3
    )
    SELECT item_a, item_b, n_users,
           FLOOR(dot / (na.nrm * nb.nrm) * 10000 + 0.5) / 10000 AS cos_sim
    FROM pairs
    JOIN norms na ON na.item = item_a
    JOIN norms nb ON nb.item = item_b
    WHERE dot / (na.nrm * nb.nrm) >= 0.2
    """,
)
def rec_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity over the co-rating matrix — the
    archetype's "movies similar to X" primitive (item-based CF),
    complementing co-occurrence counts with rating-weighted cosine.

    Ratings are integer SUM(l_quantity) per (user, item), so every dot
    product and squared norm is EXACT integer arithmetic — the only
    float ops are two sqrts and one division, which are
    order-independent and therefore hash-identical cross-engine (no
    accumulation-order drift, unlike AVG-based ratings).

    Scale shape: the pair generation is an equi-self-join on the user
    key, quadratic only within one user's item basket — and the basket
    is CAPPED, not merely assumed small: each user keeps their top
    ``_BASKET_CAP`` items by rating (deterministic tie-break on item
    id), enforced identically in the oracle, so a mega-user (a bot
    rating millions of items) contributes a bounded pair count instead
    of a quadratic hot key. The cap never binds at test SFs (~40
    items/user), keeping results exact there. Dot products then reduce
    by (item_a, item_b) with map-side partial aggregation, and norms
    join back onto the reduced pair aggregate.

    The capped ratings are scoped-persisted: the lineage feeds the
    norm aggregate and BOTH pair sides, and without the persist
    Catalyst re-derives the full join+repartition+window three times
    — at 100 TB that is two redundant passes over the fact join to
    rebuild a table orders of magnitude smaller than its input
    (measured ~10-15% on the sf0.1 bench, where the pair shuffle
    dominates; the saving grows with the input:ratings size ratio).
    """
    from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        scoped_persist,
    )

    # One explicit repartition on the user key serves the whole capped-
    # ratings lineage: HashPartitioning(u) satisfies the (u, item)
    # grouping (same-u rows are co-located), the cap window partitions
    # by u, and the pair self-join keys on u — so none of them adds
    # another full-data exchange.
    ratings_all = (
        rating_events(spark, sf_dir)
        .select(F.col("user").alias("u"), "item", "rating")
        .repartition("u")
        .groupBy("u", "item")
        .agg(F.sum("rating").cast("bigint").alias("r"))
    )
    w_u = Window.partitionBy("u").orderBy(F.desc("r"), F.asc("item"))
    ratings = scoped_persist(
        ratings_all.withColumn("rn", F.row_number().over(w_u))
        .filter(F.col("rn") <= _BASKET_CAP)
        .drop("rn")
    )
    # The norm aggregate feeds BOTH join sides (na on item_a, nb on
    # item_b). Without its own persist, AQE's broadcast conversion of
    # those joins builds two independent BroadcastExchanges and each
    # re-runs the groupBy(item) over the ratings cache — exchange
    # reuse cannot kick in because the reusable shuffle exchange was
    # replaced by two broadcast builds (r15 stage profile: two ~1 s
    # stages each scanning the 5.6 MB cache and aggregating 389k rows
    # twice). Persisting the tiny per-item aggregate (one row per
    # item) computes it once; measured interleaved at sf0.1: warm runs
    # 6.0-10.1 s -> 3.1-4.7 s, output identical. At 100 TB this is one
    # pass over the ratings table instead of two.
    norms = scoped_persist(
        ratings.groupBy("item").agg(
            F.sqrt(F.sum(F.col("r") * F.col("r"))).alias("nrm")
        )
    )
    a = ratings.select("u", F.col("item").alias("item_a"), F.col("r").alias("ra"))
    b = ratings.select("u", F.col("item").alias("item_b"), F.col("r").alias("rb"))
    pairs = (
        a.join(b, "u")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(
            F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("dot"),
            F.count(F.lit(1)).alias("n_users"),
        )
        .filter(F.col("n_users") >= 3)
    )
    na = norms.select(F.col("item").alias("item_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("item").alias("item_b"), F.col("nrm").alias("nrm_b"))
    cos = F.col("dot") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        # similarity floor on the UNROUNDED quotient — both engines
        # compute the identical double (exact-int dot and norms), so
        # the cut is bit-identical cross-engine
        .filter(cos >= 0.2)
        .select(
            "item_a",
            "item_b",
            "n_users",
            round4(cos).alias("cos_sim"),
        )
    )


# DIMSUM sampling budget: sqrt(gamma) = 100.0, i.e. an entry of item i
# survives with probability min(1, 100/‖c_i‖) — expressed in integer
# basis points so membership never sits on a float boundary.
# Measured on the live fixtures (round 8): item norms average ≈160
# with only 3/2000 (sf0.01) and 39/20000 (sf0.1) items below 100, so
# sampling is active on essentially EVERY column (keep-p ≈ 0.63 avg) —
# the unbiasing path is what the fixtures exercise, and the survivor
# set is a genuinely sampled estimate there (mean |cos error| on pairs
# both forms emit: 0.19 at sf0.01, 0.075 at sf0.1 — concentrated on
# the near-threshold low-support pairs this corpus is made of; the
# hash-determinism and drift pins live in tests/test_ml_quality.py).
# At 100 TB norms grow further and the sampling is what keeps the pair
# shuffle sub-quadratic in item popularity.
_DIMSUM_SQRT_GAMMA = 100.0


@query(
    "rec_item_similarity_dimsum",
    oracle="""
    WITH ratings_all AS (
        SELECT o_custkey AS u, l_partkey AS item,
               CAST(SUM(l_quantity) AS BIGINT) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_partkey
    ),
    ratings AS (
        SELECT u, item, r FROM (
            SELECT u, item, r,
                   ROW_NUMBER() OVER (PARTITION BY u
                                      ORDER BY r DESC, item) AS rn
            FROM ratings_all
        ) WHERE rn <= 1000
    ),
    probs AS (
        SELECT item, SQRT(CAST(SUM(r * r) AS BIGINT)) AS nrm,
               LEAST(10000,
                     CAST(FLOOR(10000 * 100.0
                                / SQRT(CAST(SUM(r * r) AS BIGINT)))
                          AS BIGINT)) AS thr
        FROM ratings GROUP BY item
    ),
    kept AS (
        SELECT ratings.u, ratings.item, ratings.r
        FROM ratings JOIN probs ON ratings.item = probs.item
        WHERE CAST('0x' || substr(md5(concat('dimsum', ':',
                       CAST(u AS VARCHAR), ':',
                       CAST(ratings.item AS VARCHAR))), 1, 15) AS BIGINT)
              % 10000 < probs.thr
    ),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(SUM(a.r * b.r) AS BIGINT) AS sdot,
               COUNT(*) AS n_users_sampled
        FROM kept a JOIN kept b
          ON a.u = b.u AND a.item < b.item
        GROUP BY a.item, b.item
        HAVING COUNT(*) >= 3
    )
    SELECT item_a, item_b, n_users_sampled,
           FLOOR(sdot / ((pa.thr / 10000.0) * (pb.thr / 10000.0))
                 / (pa.nrm * pb.nrm) * 10000 + 0.5) / 10000 AS cos_est
    FROM pairs
    JOIN probs pa ON pa.item = item_a
    JOIN probs pb ON pb.item = item_b
    WHERE sdot / ((pa.thr / 10000.0) * (pb.thr / 10000.0))
          / (pa.nrm * pb.nrm) >= 0.2
    """,
)
def rec_item_similarity_dimsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMSUM-sampled item-item cosine — rec_item_similarity's explicit
    100 TB path (Zadeh & Carlson, "Dimension Independent Matrix Square
    using MapReduce"; the algorithm behind Spark MLlib's
    ``columnSimilarities(threshold)``). The exact form's pair shuffle
    grows with the square of item popularity; DIMSUM keeps each
    (user, item) entry with probability min(1, √γ/‖c_item‖) and
    unbiases the sampled dot product by the pair's keep probability,
    so popular columns contribute O(γ) pairs instead of O(‖c‖²) and
    the estimator's error concentrates on exactly the high-norm pairs
    that need it least (their cosines are estimated from many
    surviving co-ratings).

    Hash-exact despite being a sampling algorithm: the keep decision
    is the portable 60-bit md5 hash of (u, item) against an INTEGER
    basis-point threshold derived from the exact-integer column norm
    (the sample_weighted_bernoulli determinism contract), so both
    engines keep the identical entry set and the unbiased estimate
    FLOOR-rounds identically. Entries with thr = 10000 are kept with
    certainty — where no sampling happens the estimator degrades to
    the exact cosine.

    Scale shape: identical single-exchange lineage as the exact form
    (one repartition on the user key serves grouping, cap window and
    self-join); the probs side is an item-sized aggregate broadcast
    into the keep-filter, and the keep-filter runs map-side BEFORE
    the quadratic pair generation — the whole point. The capped
    ratings and the item-probability table are scoped-persisted:
    ratings feeds both pair sides plus the norm/threshold aggregate,
    and probs is referenced three times (keep-filter, both unbias
    joins) — without the persist Catalyst re-derives the full
    join+window lineage five times."""
    from movierecommender_sentimentanalysissytem_spark.functions.dedup import (
        _spark_h,
    )
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        scoped_persist,
    )

    ratings_all = (
        rating_events(spark, sf_dir)
        .select(F.col("user").alias("u"), "item", "rating")
        .repartition("u")
        .groupBy("u", "item")
        .agg(F.sum("rating").cast("bigint").alias("r"))
    )
    w_u = Window.partitionBy("u").orderBy(F.desc("r"), F.asc("item"))
    ratings = scoped_persist(
        ratings_all.withColumn("rn", F.row_number().over(w_u))
        .filter(F.col("rn") <= _BASKET_CAP)
        .drop("rn")
    )
    probs = scoped_persist(ratings.groupBy("item").agg(
        F.sqrt(F.sum(F.col("r") * F.col("r")).cast("bigint")).alias("nrm"),
        F.least(
            F.lit(10000).cast("bigint"),
            F.floor(
                10000
                * _DIMSUM_SQRT_GAMMA
                / F.sqrt(F.sum(F.col("r") * F.col("r")).cast("bigint"))
            ).cast("bigint"),
        ).alias("thr"),
    ))
    keep_bucket = F.expr(
        _spark_h("dimsum", "concat(CAST(u AS STRING), ':', CAST(item AS STRING))")
    ) % 10000
    kept = (
        ratings.join(F.broadcast(probs.select("item", "thr")), "item")
        .filter(keep_bucket < F.col("thr"))
        .select("u", "item", "r")
    )
    a = kept.select("u", F.col("item").alias("item_a"), F.col("r").alias("ra"))
    b = kept.select("u", F.col("item").alias("item_b"), F.col("r").alias("rb"))
    pairs = (
        a.join(b, "u")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(
            F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("sdot"),
            F.count(F.lit(1)).alias("n_users_sampled"),
        )
        .filter(F.col("n_users_sampled") >= 3)
    )
    pa = probs.select(
        F.col("item").alias("item_a"),
        F.col("nrm").alias("nrm_a"),
        F.col("thr").alias("thr_a"),
    )
    pb = probs.select(
        F.col("item").alias("item_b"),
        F.col("nrm").alias("nrm_b"),
        F.col("thr").alias("thr_b"),
    )
    est = (
        F.col("sdot")
        / ((F.col("thr_a") / 10000.0) * (F.col("thr_b") / 10000.0))
        / (F.col("nrm_a") * F.col("nrm_b"))
    )
    return (
        pairs.join(pa, "item_a")
        .join(pb, "item_b")
        .filter(est >= 0.2)
        .select(
            "item_a",
            "item_b",
            "n_users_sampled",
            round4(est).alias("cos_est"),
        )
    )


@query(
    "rec_eval_precision_at_k",
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS u, l_partkey AS item, o_orderkey AS ok
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    top10 AS (
        SELECT item FROM (
            SELECT item, COUNT(*) AS cnt FROM ratings
            WHERE ok % 4 != 0 GROUP BY item
        ) ORDER BY cnt DESC, item ASC LIMIT 10
    ),
    test AS (
        SELECT DISTINCT u, item FROM ratings WHERE ok % 4 = 0
    ),
    per_user AS (
        SELECT u, COUNT(*) AS n_relevant,
               CAST(SUM(CASE WHEN item IN (SELECT item FROM top10)
                        THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM test GROUP BY u
    )
    SELECT u AS user, n_relevant, hits,
           hits / 10.0 AS p_at_10,
           FLOOR((CAST(hits AS DOUBLE) / n_relevant) * 10000 + 0.5)
               / 10000 AS recall
    FROM per_user
    """,
)
def rec_eval_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline top-k recommender evaluation: precision@10 / recall per
    user for the popularity baseline, under a deterministic
    order-key holdout (o_orderkey % 4 = 0 is the test fold — the
    split every result in this family must be reproducible against).
    This is the metric tier above ml_eval_rmse: rating-error says
    nothing about ranking quality, hit-rate does. The candidate list
    (top-10 by train interaction count, item-id tie-break) is an
    O(k) broadcast, so the evaluation is one distinct + one
    broadcast-hash probe + one groupBy on the test fold — no per-user
    cross join against the catalog, which is the non-scalable way
    this metric is usually written. At 100 TB the same plan holds:
    the only global structure is the k-row candidate list."""
    r = rating_events(spark, sf_dir)
    train = r.filter(F.col("o_orderkey") % 4 != 0)
    test = r.filter(F.col("o_orderkey") % 4 == 0).select("user", "item").distinct()
    top10 = (
        train.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(10)
        .select("item")
    )
    hit = test.join(
        F.broadcast(top10.withColumnRenamed("item", "top_item")),
        test.item == F.col("top_item"),
        "left",
    )
    per_user = hit.groupBy("user").agg(
        F.count(F.lit(1)).alias("n_relevant"),
        F.sum(F.when(F.col("top_item").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("hits"),
    )
    return per_user.select(
        "user",
        "n_relevant",
        "hits",
        (F.col("hits") / 10.0).alias("p_at_10"),
        round4(F.col("hits").cast("double") / F.col("n_relevant")).alias(
            "recall"
        ),
    )


@query(
    "rec_eval_ndcg_at_k",
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS u, l_partkey AS item, o_orderkey AS ok
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    top10 AS (
        SELECT item, ROW_NUMBER() OVER (ORDER BY cnt DESC, item ASC) AS rk
        FROM (
            SELECT item, COUNT(*) AS cnt FROM ratings
            WHERE ok % 4 != 0 GROUP BY item
        ) ORDER BY cnt DESC, item ASC LIMIT 10
    ),
    test AS (
        SELECT DISTINCT u, item FROM ratings WHERE ok % 4 = 0
    ),
    per_user AS (
        SELECT t.u, COUNT(*) AS n_relevant,
               CAST(COUNT(tp.item) AS BIGINT) AS hits,
               COALESCE(SUM(1.0 / log2(tp.rk + 1)), 0.0) AS dcg
        FROM test t LEFT JOIN top10 tp ON t.item = tp.item
        GROUP BY t.u
    )
    SELECT u AS user, n_relevant, hits,
           FLOOR((dcg / list_reduce(
               list_prepend(0.0, list_transform(
                   generate_series(1, LEAST(n_relevant, 10)),
                   i -> 1.0 / log2(i + 1))),
               (a, b) -> a + b)) * 10000 + 0.5) / 10000 AS ndcg_at_10
    FROM per_user
    """,
)
def rec_eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per user for the popularity baseline — the
    position-weighted sibling of rec_eval_precision_at_k (same
    deterministic o_orderkey % 4 holdout, same top-10 candidate
    list). Precision treats rank 1 and rank 10 alike; NDCG discounts
    each hit by 1/log2(rank+1) and normalizes by the ideal DCG for
    min(n_relevant, k) hits, so it is the metric that actually moves
    when a reranker improves ordering without changing the hit set.

    Scale design: identical to the precision key — the only global
    structure is the k-row ranked candidate list (broadcast), so the
    evaluation is one distinct + one broadcast probe + one groupBy.
    The ideal-DCG denominator is a bounded 10-term in-order fold
    (``aggregate(sequence(...))`` / DuckDB ``list_reduce``), the same
    cross-engine-exact discipline as the vector kernels; the per-user
    DCG sums at most 10 terms, absorbed by the 4-dp round."""
    r = rating_events(spark, sf_dir)
    train = r.filter(F.col("o_orderkey") % 4 != 0)
    test = r.filter(F.col("o_orderkey") % 4 == 0).select("user", "item").distinct()
    wrk = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    top10 = (
        train.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(10)
        .withColumn("rk", F.row_number().over(wrk))
        .select(F.col("item").alias("top_item"), "rk")
    )
    hit = test.join(
        F.broadcast(top10), test.item == F.col("top_item"), "left"
    )
    per_user = hit.groupBy("user").agg(
        F.count(F.lit(1)).alias("n_relevant"),
        F.count("top_item").alias("hits"),
        F.coalesce(
            F.sum(1.0 / F.log2(F.col("rk") + 1)), F.lit(0.0)
        ).alias("dcg"),
    )
    idcg = F.expr(
        "aggregate(sequence(1, least(n_relevant, 10)), 0.0D,"
        " (acc, i) -> acc + 1.0 / log2(i + 1))"
    )
    return per_user.select(
        "user",
        "n_relevant",
        "hits",
        round4(F.col("dcg") / idcg).alias("ndcg_at_10"),
    )


@query(
    "rec_eval_map_at_k",
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS u, l_partkey AS item, o_orderkey AS ok
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    top10 AS (
        SELECT item, ROW_NUMBER() OVER (ORDER BY cnt DESC, item ASC) AS rk
        FROM (
            SELECT item, COUNT(*) AS cnt FROM ratings
            WHERE ok % 4 != 0 GROUP BY item
        ) ORDER BY cnt DESC, item ASC LIMIT 10
    ),
    test AS (
        SELECT DISTINCT u, item FROM ratings WHERE ok % 4 = 0
    ),
    hits AS (
        SELECT t.u, tp.rk,
               ROW_NUMBER() OVER (PARTITION BY t.u ORDER BY tp.rk) AS j
        FROM test t JOIN top10 tp ON t.item = tp.item
    ),
    ap AS (
        SELECT u, SUM(CAST(j AS DOUBLE) / rk) AS ap_num,
               CAST(COUNT(*) AS BIGINT) AS hits
        FROM hits GROUP BY u
    ),
    nrel AS (SELECT u, COUNT(*) AS n_relevant FROM test GROUP BY u)
    SELECT n.u AS user, n.n_relevant,
           COALESCE(a.hits, 0) AS hits,
           FLOOR(COALESCE(a.ap_num, 0.0) / LEAST(n.n_relevant, 10)
                 * 10000 + 0.5) / 10000 AS ap_at_10
    FROM nrel n LEFT JOIN ap a USING (u)
    """,
)
def rec_eval_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision @10 per user (whose mean over users is MAP@10)
    for the popularity baseline — completes the ranking-metric family
    next to rec_eval_precision_at_k (set quality) and
    rec_eval_ndcg_at_k (graded position discount): AP is the
    order-sensitive metric retrieval evaluation reports, crediting
    each hit with the precision at its own rank,
    AP = (1/min(n_rel,k)) · Σ_hits j/rank_j where j counts hits in
    rank order. Same deterministic o_orderkey % 4 holdout and the
    same broadcast top-10 candidate list.

    Scale design: the per-user hit ranking is a window over HITS only
    (≤ k rows per user by construction, since hits come from the
    k-row candidate probe) — never over the full test set; everything
    else is the precision key's plan (distinct + broadcast probe +
    groupBy). The AP numerator sums at most k rational terms,
    absorbed by the 4-dp round."""
    r = rating_events(spark, sf_dir)
    train = r.filter(F.col("o_orderkey") % 4 != 0)
    test = r.filter(F.col("o_orderkey") % 4 == 0).select("user", "item").distinct()
    wrk = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    top10 = (
        train.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(10)
        .withColumn("rk", F.row_number().over(wrk))
        .select(F.col("item").alias("top_item"), "rk")
    )
    hits = test.join(
        F.broadcast(top10), test.item == F.col("top_item")
    ).withColumn(
        "j",
        F.row_number().over(Window.partitionBy("user").orderBy("rk")),
    )
    ap = hits.groupBy("user").agg(
        F.sum(F.col("j").cast("double") / F.col("rk")).alias("ap_num"),
        F.count(F.lit(1)).alias("hits"),
    )
    nrel = test.groupBy("user").agg(F.count(F.lit(1)).alias("n_relevant"))
    return nrel.join(ap, "user", "left").select(
        "user",
        "n_relevant",
        F.coalesce(F.col("hits"), F.lit(0).cast("bigint")).alias("hits"),
        round4(
            F.coalesce(F.col("ap_num"), F.lit(0.0))
            / F.least(F.col("n_relevant"), F.lit(10))
        ).alias("ap_at_10"),
    )


@query(
    "rec_eval_coverage_at_k",
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS u, l_partkey AS item, o_orderkey AS ok
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    top10 AS (
        SELECT item, ROW_NUMBER() OVER (ORDER BY cnt DESC, item ASC) AS rk
        FROM (
            SELECT item, COUNT(*) AS cnt FROM ratings
            WHERE ok % 4 != 0 GROUP BY item
        ) ORDER BY cnt DESC, item ASC LIMIT 10
    ),
    test AS (
        SELECT DISTINCT u, item FROM ratings WHERE ok % 4 = 0
    ),
    user_min AS (
        SELECT t.u, MIN(tp.rk) AS minrk
        FROM test t LEFT JOIN top10 tp ON t.item = tp.item
        GROUP BY t.u
    ),
    item_min AS (
        SELECT t.item, MIN(tp.rk) AS minrk
        FROM (SELECT DISTINCT item FROM test) t
        LEFT JOIN top10 tp ON t.item = tp.item
        GROUP BY t.item
    ),
    ks AS (SELECT UNNEST([1, 3, 5, 10]) AS k),
    u_agg AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN minrk <= k THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_users_hit
        FROM user_min CROSS JOIN ks GROUP BY k
    ),
    i_agg AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_test_items,
               CAST(SUM(CASE WHEN minrk <= k THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_test_items_covered
        FROM item_min CROSS JOIN ks GROUP BY k
    )
    SELECT CAST(u.k AS BIGINT) AS k, u.n_users, u.n_users_hit,
           FLOOR(CAST(u.n_users_hit AS DOUBLE) / u.n_users
                 * 10000 + 0.5) / 10000 AS hit_rate,
           i.n_test_items, i.n_test_items_covered,
           FLOOR(CAST(i.n_test_items_covered AS DOUBLE) / i.n_test_items
                 * 10000 + 0.5) / 10000 AS item_coverage
    FROM u_agg u JOIN i_agg i USING (k)
    """,
)
def rec_eval_coverage_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage curve for the ranked candidate list: hit-rate@k (the
    fraction of test users with at least one held-out item inside the
    top-k) and test-item coverage@k (the fraction of distinct held-out
    items the top-k list can ever retrieve), swept over
    k ∈ {1, 3, 5, 10} — the truncation-depth tuning curve that sits
    beside precision/NDCG/MAP in this family (same deterministic
    o_orderkey % 4 holdout, same ranked top-10 candidate list). It
    answers the question the point metrics can't: how much of the
    eval population is REACHABLE at each display depth, which is what
    a UI team actually trades off when picking carousel length.

    Scale design: each side reduces to a per-user / per-item MIN rank
    over the broadcast k-row probe (one shuffle each, map-side
    combinable); the k sweep then fans out the REDUCED relations — a
    4× explode of O(users)+O(items) rows, never the interaction table.
    All counts are exact integers; the two ratios divide once, under
    the stable 4-dp round."""
    r = rating_events(spark, sf_dir)
    train = r.filter(F.col("o_orderkey") % 4 != 0)
    test = r.filter(F.col("o_orderkey") % 4 == 0).select("user", "item").distinct()
    wrk = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    top10 = (
        train.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(10)
        .withColumn("rk", F.row_number().over(wrk))
        .select(F.col("item").alias("top_item"), "rk")
    )
    ks = F.broadcast(
        spark.range(0, 4).select(
            F.element_at(
                F.array(F.lit(1), F.lit(3), F.lit(5), F.lit(10)),
                (F.col("id") + 1).cast("int"),
            )
            .cast("bigint")
            .alias("k")
        )
    )
    user_min = (
        test.join(F.broadcast(top10), test.item == F.col("top_item"), "left")
        .groupBy("user")
        .agg(F.min("rk").alias("minrk"))
    )
    item_min = (
        test.select("item")
        .distinct()
        .join(F.broadcast(top10), F.col("item") == F.col("top_item"), "left")
        .groupBy("item")
        .agg(F.min("rk").alias("minrk"))
    )
    hit = F.sum(
        F.when(F.col("minrk") <= F.col("k"), 1).otherwise(0)
    ).cast("bigint")
    u_agg = user_min.crossJoin(ks).groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        hit.alias("n_users_hit"),
    )
    i_agg = item_min.crossJoin(ks).groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_items"),
        hit.alias("n_test_items_covered"),
    )
    return u_agg.join(i_agg, "k").select(
        "k",
        "n_users",
        "n_users_hit",
        round4(
            F.col("n_users_hit").cast("double") / F.col("n_users")
        ).alias("hit_rate"),
        "n_test_items",
        "n_test_items_covered",
        round4(
            F.col("n_test_items_covered").cast("double")
            / F.col("n_test_items")
        ).alias("item_coverage"),
    )


@query(
    "rec_multihop_expansion",
    oracle="""
    WITH ratings AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS item
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    seed AS (SELECT MIN(item) AS s FROM ratings),
    edges_half AS (
        SELECT a.item AS ia, b.item AS ib
        FROM ratings a JOIN ratings b
          ON a.u = b.u AND a.item < b.item
        GROUP BY a.item, b.item
        HAVING COUNT(*) >= 3
    ),
    edges AS (
        SELECT ia AS src, ib AS dst FROM edges_half
        UNION ALL
        SELECT ib AS src, ia AS dst FROM edges_half
    ),
    hop1 AS (
        SELECT DISTINCT dst AS item FROM edges, seed WHERE src = s
    ),
    hop2 AS (
        SELECT DISTINCT e.dst AS item
        FROM edges e JOIN hop1 h ON e.src = h.item, seed
        WHERE e.dst != s AND e.dst NOT IN (SELECT item FROM hop1)
    )
    SELECT item, 1 AS hop FROM hop1
    UNION ALL
    SELECT item, 2 AS hop FROM hop2
    """,
)
def rec_multihop_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-item expansion: BFS to depth 2 over the co-occurrence
    graph (items co-rated by ≥3 users) from a deterministic seed item
    — the candidate-generation step behind "customers also bought"
    carousels, where one hop is too narrow and unbounded traversal is
    a different product. Each hop is ONE equi-join of the frontier
    against the edge list plus an anti-join to remove already-visited
    items, so depth-k expansion costs k bounded join rounds — the
    fixed-depth specialization of dedup_clusters' unbounded pointer
    jumping. The edge list reuses rec_item_similarity's capped
    basket-pair shape (distinct interactions, self-join on the user
    key, count-threshold); the seed (global MIN item) is a 1-row
    broadcast."""
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        scoped_persist,
    )

    # Shared-lineage rule: ratings feeds both pair sides + the seed,
    # edges_half both union directions, hop1 three consumers — persist
    # each so the fact join and the pair self-join run once.
    ratings = scoped_persist(
        rating_events(spark, sf_dir)
        .select(F.col("user").alias("u"), "item")
        .distinct()
    )
    a = ratings.select("u", F.col("item").alias("ia"))
    b = ratings.select("u", F.col("item").alias("ib"))
    edges_half = scoped_persist(
        a.join(b, "u")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .select("ia", "ib")
    )
    edges = edges_half.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    ).unionAll(
        edges_half.select(F.col("ib").alias("src"), F.col("ia").alias("dst"))
    )
    seed = ratings.agg(F.min("item").alias("s"))
    hop1 = scoped_persist(
        edges.join(F.broadcast(seed), edges.src == F.col("s"))
        .select(F.col("dst").alias("item"))
        .distinct()
    )
    hop2 = (
        edges.join(hop1.withColumnRenamed("item", "h1"), edges.src == F.col("h1"))
        .join(F.broadcast(seed), F.col("dst") == F.col("s"), "left_anti")
        .select(F.col("dst").alias("item"))
        .distinct()
        .join(hop1, "item", "left_anti")
    )
    return hop1.select("item", F.lit(1).alias("hop")).unionAll(
        hop2.select("item", F.lit(2).alias("hop"))
    )


@query(
    "rec_association_rules",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS item
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    n AS (SELECT COUNT(DISTINCT u) AS n_baskets FROM baskets),
    ic AS (SELECT item, COUNT(*) AS c FROM baskets GROUP BY item),
    pairs_half AS (
        SELECT a.item AS ia, b.item AS ib, COUNT(*) AS c_ab
        FROM baskets a JOIN baskets b
          ON a.u = b.u AND a.item < b.item
        GROUP BY a.item, b.item
        HAVING COUNT(*) >= 5
    ),
    rules AS (
        SELECT ia AS antecedent, ib AS consequent, c_ab FROM pairs_half
        UNION ALL
        SELECT ib AS antecedent, ia AS consequent, c_ab FROM pairs_half
    )
    SELECT antecedent, consequent, c_ab AS n_cobuy,
           FLOOR(CAST(c_ab AS DOUBLE) / n.n_baskets * 10000 + 0.5)
               / 10000 AS support,
           FLOOR(CAST(c_ab AS DOUBLE) / ca.c * 10000 + 0.5) / 10000
               AS confidence,
           FLOOR(CAST(n.n_baskets AS DOUBLE) * c_ab
                 / (CAST(ca.c AS DOUBLE) * cc.c) * 10000 + 0.5) / 10000
               AS lift
    FROM rules
    JOIN ic ca ON ca.item = antecedent
    JOIN ic cc ON cc.item = consequent
    CROSS JOIN n
    WHERE CAST(c_ab AS DOUBLE) / ca.c >= 0.2
    """,
)
def rec_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift)
    with a minimum co-purchase count and a 20% confidence floor — the
    directional "who buys A buys B" layer above rec_item_cooccurrence's
    symmetric counts (confidence(A→B) ≠ confidence(B→A), so each
    qualifying pair emits up to two rules). The pair generation reuses
    the per-basket equi-self-join shape (quadratic only within one
    customer's DISTINCT item set — the rec_item_similarity cap
    argument applies); item supports join back onto the REDUCED pair
    aggregate, never the basket rows; the basket count is a 1-row
    broadcast. The support floor (HAVING ≥ 5) runs before the
    confidence cut, which is what bounds the rule-table size at
    scale. Ratios of exact integers take the stable 4-dp round."""
    baskets = (
        rating_events(spark, sf_dir)
        .select(F.col("user").alias("u"), "item")
        .distinct()
    )
    # Shared-lineage rule: baskets feeds the basket count, the item
    # counts and both pair sides; pairs_half both rule directions —
    # persist so the fact join and pair self-join run once.
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        scoped_persist,
    )

    baskets = scoped_persist(baskets)
    n = baskets.agg(F.count_distinct("u").alias("n_baskets"))
    # Like rec_item_similarity's norms (r15): ic feeds BOTH rule-side
    # joins (ca on antecedent, cc on consequent), and AQE's broadcast
    # conversion builds two independent BroadcastExchanges that each
    # re-aggregate the baskets cache (stage profile: two ~12-15 s
    # task-time stages emitting the identical 389k partial rows).
    # Persist the tiny per-item count so it is computed once.
    ic = scoped_persist(baskets.groupBy("item").agg(F.count(F.lit(1)).alias("c")))
    a = baskets.select("u", F.col("item").alias("ia"))
    b = baskets.select("u", F.col("item").alias("ib"))
    pairs_half = scoped_persist(
        a.join(b, "u")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    rules = pairs_half.select(
        F.col("ia").alias("antecedent"),
        F.col("ib").alias("consequent"),
        "c_ab",
    ).unionAll(
        pairs_half.select(
            F.col("ib").alias("antecedent"),
            F.col("ia").alias("consequent"),
            "c_ab",
        )
    )
    ca = ic.select(F.col("item").alias("antecedent"), F.col("c").alias("c_a"))
    cc = ic.select(F.col("item").alias("consequent"), F.col("c").alias("c_c"))
    conf = F.col("c_ab").cast("double") / F.col("c_a")
    return (
        rules.join(ca, "antecedent")
        .join(cc, "consequent")
        .crossJoin(F.broadcast(n))
        .filter(conf >= 0.2)
        .select(
            "antecedent",
            "consequent",
            F.col("c_ab").alias("n_cobuy"),
            round4(F.col("c_ab").cast("double") / F.col("n_baskets")).alias(
                "support"
            ),
            round4(conf).alias("confidence"),
            round4(
                F.col("n_baskets").cast("double")
                * F.col("c_ab")
                / (F.col("c_a").cast("double") * F.col("c_c"))
            ).alias("lift"),
        )
    )


@query(
    "rec_diversity_coverage",
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS u, l_partkey AS item, AVG(l_quantity) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_partkey
    ),
    recs AS (
        SELECT u, item FROM (
            SELECT u, item, ROW_NUMBER() OVER (
                PARTITION BY u ORDER BY r DESC, item ASC) AS rn
            FROM ratings
        ) WHERE rn <= 5
    ),
    exposure AS (
        SELECT item, COUNT(*) AS cnt FROM recs GROUP BY item
    ),
    ranked AS (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt ASC, item ASC) AS rk
        FROM exposure
    ),
    agg AS (
        SELECT COUNT(*) AS n_rec, SUM(cnt) AS total,
               SUM(CAST(rk AS DOUBLE) * cnt) AS wsum
        FROM ranked
    ),
    catalog AS (SELECT COUNT(*) AS n_cat FROM part)
    SELECT CAST(n_cat AS BIGINT) AS n_items_catalog,
           CAST(n_rec AS BIGINT) AS n_items_recommended,
           FLOOR(CAST(n_rec AS DOUBLE) / n_cat * 10000 + 0.5) / 10000
               AS coverage,
           FLOOR((2.0 * wsum / (n_rec * total) - (n_rec + 1.0) / n_rec)
                 * 10000 + 0.5) / 10000 AS exposure_gini
    FROM agg CROSS JOIN catalog
    """,
)
def rec_diversity_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy recommender evaluation: catalog coverage (what
    fraction of items ever gets recommended) and the Gini
    concentration of recommendation exposure — the popularity-bias
    audit that precision metrics (rec_eval_precision_at_k) are blind
    to: a recommender can score high precision while showing everyone
    the same 10 blockbusters. Exposure counts reduce the top-5 lists
    to one row per RECOMMENDED item, so the Gini rank pass runs over
    the O(catalog) item rollup — bounded by the vocabulary, not the
    interaction count (same class as the other reviewed bounded-rollup
    sorts, allowlisted in plans/audit.py); catalog size is a 1-row
    broadcast. Exposure weights are integer counts, so the Gini's
    weighted sum is exact before its single stable round."""
    ratings = (
        rating_events(spark, sf_dir)
        .groupBy("user", "item")
        .agg(F.avg("rating").alias("r"))
    )
    w = Window.partitionBy("user").orderBy(F.desc("r"), F.asc("item"))
    recs = (
        ratings.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user", "item")
    )
    exposure = recs.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = exposure.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.asc("cnt"), F.asc("item")))
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_rec"),
        F.sum("cnt").alias("total"),
        F.sum(F.col("rk").cast("double") * F.col("cnt")).alias("wsum"),
    )
    catalog = table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).alias("n_cat")
    )
    return agg.crossJoin(F.broadcast(catalog)).select(
        F.col("n_cat").cast("bigint").alias("n_items_catalog"),
        F.col("n_rec").cast("bigint").alias("n_items_recommended"),
        round4(F.col("n_rec").cast("double") / F.col("n_cat")).alias(
            "coverage"
        ),
        round4(
            2.0 * F.col("wsum") / (F.col("n_rec") * F.col("total"))
            - (F.col("n_rec") + 1.0) / F.col("n_rec")
        ).alias("exposure_gini"),
    )


@query(
    "rec_popularity_time_decay",
    oracle="""
    WITH r AS (
        SELECT l_partkey AS item, o_orderdate
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    w AS (
        SELECT item,
               CAST(FLOOR(10000.0 / POWER(2.0,
                    date_diff('day', o_orderdate, maxd) // 30))
                    AS BIGINT) AS weight_bp
        FROM r CROSS JOIN mx
    )
    SELECT item, CAST(COUNT(*) AS BIGINT) AS n_ratings,
           CAST(SUM(weight_bp) AS BIGINT) AS decayed_bp
    FROM w GROUP BY item
    ORDER BY decayed_bp DESC, item ASC
    LIMIT 25
    """,
)
def rec_popularity_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed item popularity — the recency-aware ranking the
    plain rec_top_items counts can't express (a hit from five years ago
    should not outrank last month's). Each interaction contributes a
    half-life-decayed weight (half-life = one 30-day bucket); the
    weight is materialized as INTEGER basis points 10000 >> bucket, so
    the per-item score is a BIGINT sum — hash-exact at any summation
    order, unlike a POWER(0.5, age_days/30.0) double sum whose
    accumulation order differs cross-engine. The reference date is the
    live MAX(o_orderdate) as a 1-row broadcast (text_tfidf class), not
    a fixture-coupled literal; the rollup is one map-side-combinable
    aggregate and the top-25 a TakeOrdered — at 100 TB: one join, one
    shuffle on item, no window."""
    r = rating_events(spark, sf_dir).select("item", "o_orderdate")
    mx = table(spark, sf_dir, "orders").agg(F.max("o_orderdate").alias("maxd"))
    bucket = F.floor(
        F.datediff(F.col("maxd"), F.col("o_orderdate")) / 30
    )
    weight = F.floor(F.lit(10000.0) / F.pow(F.lit(2.0), bucket)).cast(
        "bigint"
    )
    return (
        r.crossJoin(F.broadcast(mx))
        .select("item", weight.alias("weight_bp"))
        .groupBy("item")
        .agg(
            F.count(F.lit(1)).alias("n_ratings"),
            F.sum("weight_bp").cast("bigint").alias("decayed_bp"),
        )
        .orderBy(F.col("decayed_bp").desc(), F.col("item").asc())
        .limit(25)
    )


@query(
    "rec_cold_start_backfill",
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS user, l_partkey AS item
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    top3 AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n_ratings,
               CAST(row_number() OVER (ORDER BY COUNT(*) DESC, item)
                    AS BIGINT) AS rank
        FROM ratings GROUP BY item
        ORDER BY n_ratings DESC, item LIMIT 3
    ),
    lapsed AS (
        SELECT c_custkey FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= DATE '1998-01-01')
    )
    SELECT c_custkey AS user, item AS rec_item, rank, n_ratings
    FROM lapsed CROSS JOIN top3
    """,
)
def rec_cold_start_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start / lapsed-user backfill: customers with NO recent
    activity (no 1998 order) get the global top-3 most-rated items —
    the popularity fallback every personalized recommender needs for
    the users its model has nothing on (the serving-side complement
    of rec_eval_precision_at_k's popularity baseline). Plan: the
    recent-actives set distributes as a left-anti join (NOT IN on a
    non-null key rewrites to anti), the top-3 list is an O(items)
    rollup cut to a 3-row broadcast, and the backfill is lapsed ×
    top3 — a bounded-by-3 fan-out, not a user×catalog cross. Every
    column is integer/rank — hash-exact with no rounding."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    top3 = (
        rating_events(spark, sf_dir)
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_ratings"))
        .orderBy(F.col("n_ratings").desc(), F.col("item").asc())
        .limit(3)
        .withColumn(
            "rank",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("n_ratings").desc(), F.col("item").asc()
                )
            )
            .cast("bigint"),
        )
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("date")
    ).select(F.col("o_custkey").alias("k"))
    lapsed = c.join(recent, c.c_custkey == F.col("k"), "left_anti")
    return lapsed.crossJoin(F.broadcast(top3)).select(
        F.col("c_custkey").alias("user"),
        F.col("item").alias("rec_item"),
        "rank",
        "n_ratings",
    )
