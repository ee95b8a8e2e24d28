"""Text / sentiment analytics (SURVEY.md §2.9) — the reference
archetype's core surface, re-expressed relationally.

The archetype's sentiment half (tweets/reviews → tokenize → stopwords →
TF-IDF → classify; lexicon scoring; word frequencies) maps to pure
DataFrame pipelines here: explode/groupBy word counts, an analytic
TF-IDF (joins + log, exactly SQL-checkable), and an AFINN-style lexicon
join. The MLlib estimator variants live in ml/pipelines.py.

Scale notes: tokenization explodes ~2 orders of magnitude — filters on
lang/source are applied BEFORE explode so pushdown cuts the expansion.
Word-count groupBys shuffle on the word key; natural-language zipf skew
is handled by partial aggregation (map-side combine absorbs the head).
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

# Explicit literal stopword list (FIXTURES.md: never StopWordsRemover
# defaults — the oracle must see the identical list).
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "on")

# AFINN-style integer lexicon over the fixtures' synthetic vocabulary.
# Integer scores keep per-doc averages exact (integer sums in doubles).
LEXICON: tuple[tuple[str, int], ...] = (
    ("fast", 3),
    ("small", 1),
    ("value", 2),
    ("join", 1),
    ("merge", 1),
    ("slow", -3),
    ("error", -4),
    ("fail", -4),
    ("big", -1),
    ("skew", -2),
)


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, lang, source, word) token stream."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", "source", F.explode(F.split("text", " ")).alias("word")
    )


def _lexicon_df(spark: SparkSession) -> DataFrame:
    return literal_table(spark, LEXICON, "word string, score bigint")


_LEXICON_SQL = "(VALUES " + ", ".join(
    f"('{w}', {s})" for w, s in LEXICON
) + ") AS lexicon(word, score)"

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@query(
    "text_wordcount",
    oracle="""
    SELECT u.word, COUNT(*) AS n
    FROM documents, unnest(string_split(text, ' ')) AS u(word)
    GROUP BY u.word
    """,
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic word count (explode → groupBy → count)."""
    return _words(spark, sf_dir).groupBy("word").agg(F.count(F.lit(1)).alias("n"))


@query(
    "text_top_terms",
    oracle="""
    SELECT lang, word, n, rn FROM (
        SELECT lang, u.word AS word, COUNT(*) AS n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY COUNT(*) DESC, u.word ASC) AS INTEGER) AS rn
        FROM documents, unnest(string_split(text, ' ')) AS u(word)
        GROUP BY lang, u.word
    ) t WHERE rn <= 5
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language (word as the deterministic tiebreak)."""
    counts = (
        _words(spark, sf_dir)
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 5)
        .select("lang", "word", "n", "rn")
    )


@query(
    "text_stopword_removal",
    oracle=f"""
    SELECT u.word, COUNT(*) AS n
    FROM documents, unnest(string_split(text, ' ')) AS u(word)
    WHERE u.word NOT IN ({_STOP_SQL})
    GROUP BY u.word
    """,
)
def text_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count after removing the explicit literal stoplist."""
    return (
        _words(spark, sf_dir)
        .filter(~F.col("word").isin(*STOPWORDS))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "text_ngrams",
    oracle="""
    SELECT u.bigram, COUNT(*) AS n
    FROM (
        SELECT list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]) AS bigrams
        FROM (SELECT string_split(text, ' ') AS w FROM documents) s
    ) b, unnest(b.bigrams) AS u(bigram)
    GROUP BY u.bigram
    HAVING COUNT(*) >= 5
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram counts via a higher-order zip of adjacent tokens — stays
    entirely JVM-side (no NGram/Python round-trip) and mirrors DuckDB's
    list_transform formulation index-for-index.

    The text is split ONCE into a row-level array before the zip — a
    ``split`` inlined in the lambda is re-evaluated per element
    (O(len²) per doc) — and the single-file scan is repartitioned by
    hash on the unique doc_id so the explode isn't pinned to one core
    (hash, not round-robin: no sortBeforeRepartition pass over the
    text rows, retry-deterministic — §2.5)."""
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = (
        table(spark, sf_dir, "documents")
        .repartition(par, "doc_id")
        .withColumn("w", F.split("text", " "))
    )
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


@query(
    "text_doclen_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(LENGTH(text) AS INTEGER) AS n_chars_computed,
           LENGTH(text) = n_chars AS chars_match
    FROM documents
    """,
)
def text_doclen_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counts per doc + verification of the n_chars invariant."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        (F.length("text") == F.col("n_chars")).alias("chars_match"),
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, u.word
        FROM documents, unnest(string_split(text, ' ')) AS u(word)
    ),
    tf AS (
        SELECT doc_id, word, COUNT(*) AS tf FROM tokens GROUP BY doc_id, word
    ),
    df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY word
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word,
           CAST(tf.tf AS BIGINT) AS tf,
           CAST(df.df AS BIGINT) AS df,
           FLOOR((tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df)) * 10000 + 0.5) / 10000
               AS tfidf
    FROM tf JOIN df USING (word) CROSS JOIN n
    WHERE tf.tf >= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic TF-IDF (raw tf × ln(N/df)) over one explode — the exact,
    SQL-checkable form of the archetype's HashingTF+IDF stage (the
    MLlib estimator variant is ml_sentiment_pipeline).

    df is a word-partitioned window count over tf; N is a scalar
    literal join (broadcast cross of a 1-row agg).
    """
    tokens = _words(spark, sf_dir).select("doc_id", "word")
    # (doc_id, word) is distinct in tf, so df is a count of tf rows per
    # word. Taking it as a window over tf, BEFORE the tf >= 3 filter,
    # keeps one explode and one (doc_id, word) exchange. A separate
    # tf.groupBy("word") branch does not share them: the optimizer prunes
    # tf's count on that side, so its (doc_id, word) exchange no longer
    # matches the tf side's and the corpus is scanned and exploded twice
    # (7 jobs against 5).
    tf = tokens.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("tf")
    ).withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("word")))
    n = table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.filter(F.col("tf") >= 3)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            round4(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("tfidf"),
        )
    )


@query(
    "text_lexicon_sentiment",
    oracle=f"""
    WITH tokens AS (
        SELECT doc_id, lang, u.word
        FROM documents, unnest(string_split(text, ' ')) AS u(word)
    )
    SELECT t.doc_id, ANY_VALUE(t.lang) AS lang,
           CAST(SUM(lexicon.score) AS BIGINT) AS sent_sum,
           FLOOR((CAST(SUM(lexicon.score) AS DOUBLE) / COUNT(*)) * 10000 + 0.5) / 10000
               AS sent_avg,
           COUNT(*) AS n_scored
    FROM tokens t JOIN {_LEXICON_SQL} ON t.word = lexicon.word
    GROUP BY t.doc_id
    """,
)
def text_lexicon_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFINN-style lexicon sentiment: join tokens to an inline integer
    word→score table, sum/average per document. Integer scores make the
    per-doc aggregate exact (no float-order drift). The lexicon is a
    broadcast literal — zero shuffle added to the token stream — built
    as a JVM local relation (``literal_table``): ``createDataFrame`` on
    a Python list would parallelize it through a Python-worker RDD and
    bill seconds of executor time per run for 10 rows. ``doc_id`` is
    unique, so grouping on ``(doc_id, lang)`` equals the oracle's
    ``ANY_VALUE(lang)`` and stays a hash aggregate (``any_value`` over
    a string forces a sort-based one)."""
    tokens = _words(spark, sf_dir).select("doc_id", "lang", "word")
    lex = _lexicon_df(spark)
    return (
        tokens.join(F.broadcast(lex), "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("score").alias("sent_sum"),
            round4(F.sum("score").cast("double") / F.count(F.lit(1))).alias(
                "sent_avg"
            ),
            F.count(F.lit(1)).alias("n_scored"),
        )
        .select("doc_id", "lang", "sent_sum", "sent_avg", "n_scored")
    )


@query(
    "text_lang_partition_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           FLOOR(AVG(CAST(n_chars AS DOUBLE)) * 10000 + 0.5) / 10000 AS avg_chars,
           COUNT(DISTINCT md5(text)) AS n_unique,
           FLOOR((CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)) * 10000 + 0.5)
               / 10000 AS unique_ratio
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus quality stats: length distribution and
    duplicate rate (SURVEY §2.10 — the pre-training-data triage query).
    Dedup rate counts distinct md5 digests, not distinct long strings,
    so the distinct-agg state stays fixed-width at 100 TB."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        round4(F.avg(F.col("n_chars").cast("double"))).alias("avg_chars"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        round4(
            F.countDistinct(F.md5("text")).cast("double") / F.count(F.lit(1))
        ).alias("unique_ratio"),
    )
