"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.
All four are pure relational/higher-order-function plans (JVM-side,
SQL-checked) — at 100 TB these run as single-pass scans with one
low-cardinality shuffle at most.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
from movierecommender_sentimentanalysissytem_spark.registry import query
from movierecommender_sentimentanalysissytem_spark.sources.tables import spread_scan, table

# Marker vocabularies for the n-gram language-ID heuristic. The fixture
# corpus shares one synthetic vocabulary, so markers are arbitrary
# disjoint word sets — the *mechanics* (marker-fraction scoring with a
# deterministic argmax) are what the operator exercises; on real text
# the lists would be per-language character n-grams.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "join", "table", "query"),
    "es": ("data", "row", "fast", "value"),
    "de": ("merge", "batch", "window", "column"),
    "fr": ("filter", "scan", "small", "order"),
    "zh": ("spark", "hash", "agg", "key"),
}
_LANG_ORDER = ("en", "es", "de", "fr", "zh")  # deterministic tie order

_STOP = ("the", "a", "of", "and", "to", "in", "is", "on")

# Rolling-hash modulus (shared with dedup's hash family design).
_P = (1 << 31) - 1


def _in_list_sql(col: str, words: tuple[str, ...]) -> str:
    return f"{col} IN (" + ", ".join(f"'{w}'" for w in words) + ")"


@query(
    "text_langid",
    oracle=f"""
    WITH tokens AS (
        SELECT doc_id, lang, u.word,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
        FROM documents, unnest(string_split(text, ' ')) AS u(word)
    ),
    scores AS (
        SELECT doc_id, ANY_VALUE(lang) AS lang,
           {", ".join(
               f"SUM(CASE WHEN {_in_list_sql('word', ws)} THEN 1 ELSE 0 END)"
               f" / ANY_VALUE(n_tok) AS s_{lg}"
               for lg, ws in _LANG_MARKERS.items())}
        FROM tokens GROUP BY doc_id
    )
    SELECT doc_id, lang,
           CASE {" ".join(
               f"WHEN s_{lg} >= GREATEST({', '.join('s_' + o for o in _LANG_ORDER)})"
               f" THEN '{lg}'"
               for lg in _LANG_ORDER)}
           END AS predicted_lang,
           FLOOR(GREATEST({", ".join('s_' + lg for lg in _LANG_ORDER)})
                 * 10000 + 0.5) / 10000 AS confidence
    FROM scores
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-n-gram language ID: per-language marker-word fraction,
    deterministic argmax (fixed tie order). One explode + one groupBy."""
    d = table(spark, sf_dir, "documents")
    tokens = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("double").alias("n_tok"),
        F.explode(F.split("text", " ")).alias("word"),
    )
    score_cols = [
        (
            F.sum(F.when(F.col("word").isin(*ws), 1).otherwise(0))
            / F.any_value("n_tok")
        ).alias(f"s_{lg}")
        for lg, ws in _LANG_MARKERS.items()
    ]
    scores = tokens.groupBy("doc_id").agg(
        F.any_value("lang").alias("lang"), *score_cols
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in _LANG_ORDER])
    # CASE in _LANG_ORDER priority — first match wins, mirroring the
    # oracle's WHEN ordering for deterministic tie-breaks
    pred = F.when(F.col(f"s_{_LANG_ORDER[0]}") >= best, F.lit(_LANG_ORDER[0]))
    for lg in _LANG_ORDER[1:]:
        pred = pred.when(F.col(f"s_{lg}") >= best, F.lit(lg))
    return scores.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        round4(best).alias("confidence"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH tokens AS (
        SELECT doc_id, u.word FROM documents,
               unnest(string_split(text, ' ')) AS u(word)
    ),
    stats AS (
        SELECT doc_id,
               COUNT(*) AS n_tok,
               COUNT(DISTINCT word) AS n_types,
               SUM(CASE WHEN {_in_list_sql('word', _STOP)} THEN 1 ELSE 0 END)
                   AS n_stop,
               SUM(LENGTH(word)) AS sum_wlen
        FROM tokens GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.n_tok AS BIGINT) AS n_tokens,
           FLOOR((CAST(s.n_types AS DOUBLE) / s.n_tok) * 10000 + 0.5) / 10000
               AS type_token_ratio,
           FLOOR((CAST(s.n_stop AS DOUBLE) / s.n_tok) * 10000 + 0.5) / 10000
               AS stopword_ratio,
           FLOOR((CAST(s.sum_wlen AS DOUBLE) / s.n_tok) * 10000 + 0.5) / 10000
               AS mean_word_len,
           CASE WHEN s.n_tok BETWEEN 20 AND 1000
                 AND CAST(s.n_stop AS DOUBLE) / s.n_tok BETWEEN 0.0 AND 0.6
                 AND CAST(s.n_types AS DOUBLE) / s.n_tok >= 0.2
                THEN 1 ELSE 0 END AS passes_filter
    FROM stats s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gates (the C4/Gopher-rule shape): token count
    band, stopword ratio, type-token ratio, mean word length — one
    explode + groupBy, emitting both the raw ratios and the boolean
    keep/drop decision."""
    d = table(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    stats = tokens.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.countDistinct("word").alias("n_types"),
        F.sum(F.when(F.col("word").isin(*_STOP), 1).otherwise(0)).alias("n_stop"),
        F.sum(F.length("word")).alias("sum_wlen"),
    )
    ttr = F.col("n_types").cast("double") / F.col("n_tok")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    mwl = F.col("sum_wlen").cast("double") / F.col("n_tok")
    return stats.select(
        "doc_id",
        F.col("n_tok").alias("n_tokens"),
        round4(ttr).alias("type_token_ratio"),
        round4(stop_ratio).alias("stopword_ratio"),
        round4(mwl).alias("mean_word_len"),
        F.when(
            F.col("n_tok").between(20, 1000)
            & stop_ratio.between(0.0, 0.6)
            & (ttr >= 0.2),
            1,
        )
        .otherwise(0)
        .alias("passes_filter"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text,
               '[bcdfghjklmnpqrstvwxyz]*[aeiou]+|[bcdfghjklmnpqrstvwxyz]+| '))
               AS INTEGER) AS subword_tokens,
           CAST(CEIL(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS est_tokens_c4
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    (consonant-cluster + vowel-run units — the common subword shape),
    and the chars/4 estimator. Regex kept in the RE2 ∩ Java subset."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"),
                F.lit("[bcdfghjklmnpqrstvwxyz]*[aeiou]+|[bcdfghjklmnpqrstvwxyz]+| "),
                0,
            )
        ).alias("subword_tokens"),
        F.ceil(F.col("n_chars").cast("double") / 4).alias("est_tokens_c4"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                   s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                        % 1073741824) AS hw
        FROM documents
    )
    SELECT doc_id,
           CAST(list_reduce(list_concat([CAST(0 AS BIGINT)], hw),
                (h, x) -> (h * 31 + x) % {_P}) AS BIGINT) AS rolling_hash,
           CAST(list_min(list_transform(range(1, len(hw) - 2),
                i -> ((hw[i] * 31 + hw[i+1]) * 31 + hw[i+2]) % {_P}))
               AS BIGINT) AS min_trigram_hash
    FROM hashed
    WHERE len(hw) >= 4
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: a polynomial rolling hash over the
    word-hash sequence (order-sensitive whole-doc fingerprint) plus the
    minimum rolling trigram hash (winnowing-style local fingerprint).
    Same md5-derived hash family as dedup — SQL-checked exactly."""
    d = table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '),"
            " s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"
            " % 1073741824)"
        ).alias("hw"),
    ).filter(F.size("hw") >= 4)
    return hashed.select(
        "doc_id",
        F.expr(f"aggregate(hw, 0L, (h, x) -> (h * 31 + x) % {_P})").alias(
            "rolling_hash"
        ),
        F.expr(
            "array_min(transform(sequence(1, size(hw) - 3),"
            f" i -> ((element_at(hw, i) * 31 + element_at(hw, i + 1)) * 31"
            f" + element_at(hw, i + 2)) % {_P}))"
        ).alias("min_trigram_hash"),
    )


@query(
    "text_pii_redaction",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
               '\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b', '<PHONE>', 'g'),
             '\\b[0-9]{9,}\\b', '<ID>', 'g') AS redacted,
           (regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
               '\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b', '<PHONE>', 'g'),
             '\\b[0-9]{9,}\\b', '<ID>', 'g') <> text) AS was_redacted
    FROM documents
    WHERE doc_id < 200
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking pass: email / phone / long-numeric-id patterns →
    typed placeholders (the standard pre-training redaction op). A
    single chained regexp_replace scan, JVM-side; regexes in the
    RE2 ∩ Java common subset (char classes, \\b, bounded repetition).
    The synthetic corpus contains no PII, so was_redacted is all false
    — the operator's determinism is still fully SQL-checked."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"), "[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"
            ),
            r"\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b",
            "<PHONE>",
        ),
        r"\b[0-9]{9,}\b",
        "<ID>",
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        (redacted != F.col("text")).alias("was_redacted"),
    )


@query(
    "text_word_entropy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
    n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 COUNT(*) AS n_distinct
          FROM tf GROUP BY doc_id)
    SELECT tf.doc_id, ANY_VALUE(n_tokens) AS n_tokens,
           ANY_VALUE(n_distinct) AS n_distinct,
           FLOOR(-SUM((CAST(c AS DOUBLE) / n_tokens)
                      * ln(CAST(c AS DOUBLE) / n_tokens)) * 10000 + 0.5)
               / 10000 AS entropy
    FROM tf JOIN n USING (doc_id)
    GROUP BY tf.doc_id
    """,
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) — the
    information-density quality signal that separates natural prose
    from boilerplate and keyword stuffing (low entropy = few dominant
    tokens; pairs with text_repetition_filter's rule-based gates).
    Explode → per-(doc, token) counts → per-doc −Σ p·ln p: two
    shuffles, both keyed on doc_id, both map-side combinable. The
    p·ln p terms are ratios of exact integer counts, so both engines
    fold identical doubles; only the term-summation order differs,
    absorbed by the 4-dp round. At 100 TB the explode fan-out is the
    cost center — the groupBy collapses it back before anything wide
    moves."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = tf.groupBy(F.col("doc_id").alias("nd")).agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_distinct")
    )
    p = F.col("c").cast("double") / F.col("n_tokens")
    return (
        tf.join(n, tf.doc_id == F.col("nd"))
        .groupBy("doc_id")
        .agg(
            F.any_value("n_tokens").alias("n_tokens"),
            F.any_value("n_distinct").alias("n_distinct"),
            round4(-F.sum(p * F.log(p))).alias("entropy"),
        )
    )


@query(
    "text_bigram_lm",
    oracle="""
    WITH pairs AS (
        SELECT u.bigram AS bg FROM (
            SELECT list_transform(range(1, len(w)),
                                  i -> w[i] || ' ' || w[i + 1]) AS bigrams
            FROM (SELECT string_split(text, ' ') AS w FROM documents) s
        ) b, unnest(b.bigrams) AS u(bigram)
    ),
    c12 AS (
        SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
               COUNT(*) AS n12
        FROM pairs GROUP BY w1, w2
    ),
    c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1)
    SELECT w1, w2, n12,
           FLOOR((CAST(n12 AS DOUBLE) / n1) * 10000 + 0.5) / 10000 AS p,
           rn
    FROM (
        SELECT c12.w1, w2, n12, n1,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY c12.w1
                   ORDER BY n12 DESC, w2 ASC) AS INTEGER) AS rn
        FROM c12 JOIN c1 USING (w1)
    ) t WHERE rn <= 3
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language model: P(next | word) with the top-3
    continuations per head word — the corpus-statistics core of
    suggestion/perplexity tooling (text_ngrams counts the surface
    forms; this normalizes them into conditional probabilities).
    Bigrams come from the same JVM higher-order zip as text_ngrams;
    head-word totals are derived FROM the bigram counts (no second
    corpus pass) and joined back — vocabulary-sized, broadcastable.
    The probability divides exact integer counts (identical doubles
    cross-engine before the guard round); ranking ties break on the
    continuation word, a total order.

    Text is split once per row (an inlined ``split`` re-evaluates per
    lambda element), the one-file scan goes through ``spread_scan``,
    and the bigram-count relation is scoped-persisted — it
    feeds both the head-word totals and the ranked join."""
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        scoped_persist,
    )

    d = spread_scan(table(spark, sf_dir, "documents"), "doc_id").withColumn(
        "w", F.split("text", " ")
    )
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    c12 = scoped_persist(
        d.select(F.explode(bigrams).alias("bg"))
        .select(
            F.substring_index("bg", " ", 1).alias("w1"),
            F.substring_index("bg", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n12"))
    )
    c1 = c12.groupBy(F.col("w1").alias("h")).agg(F.sum("n12").alias("n1"))
    w = Window.partitionBy("w1").orderBy(F.col("n12").desc(), F.col("w2").asc())
    return (
        c12.join(F.broadcast(c1), c12.w1 == F.col("h"))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select(
            "w1",
            "w2",
            "n12",
            round4(F.col("n12").cast("double") / F.col("n1")).alias("p"),
            "rn",
        )
    )


@query(
    "text_keyword_cooccurrence",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, u.word
        FROM documents, unnest(string_split(COALESCE(text, ''), ' '))
            AS u(word)
        WHERE u.word != ''
    ),
    vocab AS (
        SELECT word FROM (
            SELECT word, COUNT(*) AS df FROM toks GROUP BY word
        ) ORDER BY df DESC, word ASC LIMIT 30
    ),
    vt AS (
        SELECT t.doc_id, t.word FROM toks t
        WHERE t.word IN (SELECT word FROM vocab)
    ),
    df AS (SELECT word, COUNT(*) AS df FROM vt GROUP BY word),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    pairs AS (
        SELECT a.word AS word_a, b.word AS word_b, COUNT(*) AS c_ab
        FROM vt a JOIN vt b
          ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY a.word, b.word
        HAVING COUNT(*) >= 5
    )
    SELECT word_a, word_b, c_ab,
           FLOOR(ln(CAST(n.n_docs AS DOUBLE) * c_ab
                    / (CAST(da.df AS DOUBLE) * db.df))
                 * 10000 + 0.5) / 10000 AS pmi
    FROM pairs
    JOIN df da ON da.word = word_a
    JOIN df db ON db.word = word_b
    CROSS JOIN n
    """,
)
def text_keyword_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword co-occurrence with pointwise mutual information over
    the top-30 vocabulary — the term-association miner behind related-
    query suggestions and topic seeding. PMI needs within-document
    pairs, which is quadratic in document length; the scale control is
    vocabulary capping BEFORE pair generation: tokens are first
    restricted to the k most frequent words (an O(k) broadcast
    semi-join), so the per-document pair fan-out is ≤ k(k-1)/2
    regardless of document size — the same block-then-verify budget
    reasoning as the fuzzy join, applied to text. Document frequencies
    and the doc count come from the same capped token set; PMI's
    single ln is absorbed by the stable 4-dp round."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("word").asc())
        .limit(30)
        .select("word")
    )
    vt = toks.join(F.broadcast(vocab), "word", "left_semi")
    df = vt.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = toks.agg(F.count_distinct("doc_id").alias("n_docs"))
    a = vt.select("doc_id", F.col("word").alias("word_a"))
    b = vt.select("doc_id", F.col("word").alias("word_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("word_a") < F.col("word_b"))
        .groupBy("word_a", "word_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    da = df.select(F.col("word").alias("word_a"), F.col("df").alias("df_a"))
    db = df.select(F.col("word").alias("word_b"), F.col("df").alias("df_b"))
    pmi = F.log(
        F.col("n_docs").cast("double")
        * F.col("c_ab")
        / (F.col("df_a").cast("double") * F.col("df_b"))
    )
    return (
        pairs.join(F.broadcast(da), "word_a")
        .join(F.broadcast(db), "word_b")
        .crossJoin(F.broadcast(n))
        .select("word_a", "word_b", "c_ab", round4(pmi).alias("pmi"))
    )


@query(
    "ml_feature_hashing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, u.word
        FROM documents, unnest(string_split(COALESCE(text, ''), ' '))
            AS u(word)
        WHERE u.word != ''
    )
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5('fh:' || word), 1, 15) AS BIGINT)
                % 64 AS INTEGER) AS bucket,
           COUNT(*) AS weight
    FROM toks
    GROUP BY doc_id, bucket
    """,
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: project an unbounded vocabulary into a
    fixed 64-bucket feature space (bucket = keyed md5 of the token,
    weight = occurrence count) — the stateless featurizer that
    replaces a fitted vocabulary dictionary when the vocabulary
    itself would be cluster-scale state. Because the bucket is a pure
    function of the token, there is NO fit step, no vocabulary
    broadcast, and no train/serve skew — the defining scale property
    of feature hashing, and why it appears here instead of a
    CountVectorizer port. One explode + one (doc, bucket) groupBy,
    partial-aggregable; the md5 family keeps bucket assignment
    identical across engines (HashingTF's murmur3 would not be
    reproducible in the oracle)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("word"),
    ).filter(F.col("word") != "")
    bucket = F.expr(
        "CAST(CAST(conv(substring(md5(concat('fh:', word)), 1, 15),"
        " 16, 10) AS BIGINT) % 64 AS INT)"
    )
    return toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("weight")
    )


@query(
    "text_readability_score",
    oracle="""
    WITH counts AS (
        SELECT doc_id, lang,
               CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT)
                   AS words,
               CAST(GREATEST(length(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS sentences,
               CAST(length(regexp_extract_all(text, '[aeiouAEIOU]+'))
                    AS BIGINT) AS syllables
        FROM documents
    )
    SELECT doc_id, lang, words, sentences, syllables,
           FLOOR((206.835
                  - 1.015 * (CAST(words AS DOUBLE) / sentences)
                  - 84.6 * (CAST(syllables AS DOUBLE) / NULLIF(words, 0)))
                 * 10000 + 0.5) / 10000 AS flesch
    FROM counts
    """,
)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per document: words (whitespace
    tokens), sentences (terminal-punctuation runs, floored at 1 so a
    fragment still scores), and the classic vowel-group syllable
    heuristic — the curation signal that separates natural prose from
    keyword soup and OCR noise at a layer the quality-gate key
    (text_quality_score) doesn't measure. All three counts come from
    regexp_count over RE2∩Java-safe patterns (the text_pii_redaction
    contract: no lookaround, no engine-specific classes), so the row
    stays expression-only JVM work — a pure narrow map at 100 TB.
    The two divisions happen once per doc on BIGINT counts
    (zero-word docs yield NULL via NULLIF, not a crash) and take the
    stable round."""
    docs = table(spark, sf_dir, "documents")
    words = F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint")
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    syllables = F.regexp_count(F.col("text"), F.lit(r"[aeiouAEIOU]+")).cast(
        "bigint"
    )
    counts = docs.select(
        "doc_id",
        "lang",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    flesch = round4(
        206.835
        - 1.015 * (F.col("words").cast("double") / F.col("sentences"))
        - 84.6
        * (
            F.col("syllables").cast("double")
            / F.nullif(F.col("words"), F.lit(0))
        )
    )
    return counts.withColumn("flesch", flesch)


@query(
    "text_collocation_llr",
    oracle="""
    WITH pairs AS (
        SELECT u.bigram AS bg FROM (
            SELECT list_transform(range(1, len(w)),
                                  i -> w[i] || ' ' || w[i + 1]) AS bigrams
            FROM (SELECT string_split(text, ' ') AS w FROM documents) s
        ) b, unnest(b.bigrams) AS u(bigram)
    ),
    c12 AS (
        SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
               CAST(COUNT(*) AS BIGINT) AS k11
        FROM pairs GROUP BY w1, w2
    ),
    r AS (SELECT w1, CAST(SUM(k11) AS BIGINT) AS r1 FROM c12 GROUP BY w1),
    c AS (SELECT w2, CAST(SUM(k11) AS BIGINT) AS c1 FROM c12 GROUP BY w2),
    tot AS (SELECT CAST(SUM(k11) AS BIGINT) AS nn FROM c12),
    cells AS (
        SELECT c12.w1, c12.w2, k11, r1, c1, nn,
               r1 - k11 AS k12, c1 - k11 AS k21,
               nn - r1 - c1 + k11 AS k22
        FROM c12 JOIN r USING (w1) JOIN c USING (w2) CROSS JOIN tot
        WHERE k11 >= 5
    ),
    scored AS (
        SELECT w1, w2, k11,
               2 * (
                 k11 * ln(CAST(k11 AS DOUBLE) * nn / (r1 * c1))
                 + CASE WHEN k12 > 0 THEN k12 * ln(CAST(k12 AS DOUBLE) * nn
                        / (r1 * (nn - c1))) ELSE 0.0 END
                 + CASE WHEN k21 > 0 THEN k21 * ln(CAST(k21 AS DOUBLE) * nn
                        / ((nn - r1) * c1)) ELSE 0.0 END
                 + CASE WHEN k22 > 0 THEN k22 * ln(CAST(k22 AS DOUBLE) * nn
                        / ((nn - r1) * (nn - c1))) ELSE 0.0 END
               ) AS llr_raw
        FROM cells
    )
    SELECT w1, w2, k11,
           FLOOR(llr_raw * 10000 + 0.5) / 10000 AS llr
    FROM scored
    ORDER BY llr DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
)
def text_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations: the top-20 bigrams
    whose co-occurrence most exceeds independence under the G²
    statistic — the corpus-linguistics standard for "real phrase vs
    frequency accident", robust at low counts where PMI
    (text_keyword_cooccurrence) explodes. The 2×2 contingency per
    bigram (k11 pair count, marginals from the bigram relation
    itself — no second corpus pass) feeds the four k·ln(kN/(RᵢCⱼ))
    terms; zero cells contribute zero (the lim x→0 x·ln x = 0
    convention, spelled as an explicit CASE on both engines so no
    NULL/ln(0) leaks). Marginal relations are vocabulary-sized
    joins, the total a 1-row broadcast; ≥5-count support floor keeps
    the scored set dense (text_bigram_lm class). Ranking is on the
    ROUNDED score with the bigram as total-order tie-break.

    Text is split once per row (an inlined ``split`` re-evaluates per
    lambda element), the one-file scan goes through ``spread_scan``,
    and the bigram-count relation is scoped-persisted — it
    feeds FOUR consumers (both marginals, the total, the scored
    cells), which Catalyst would otherwise re-derive from the corpus
    four times."""
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        scoped_persist,
    )

    d = spread_scan(table(spark, sf_dir, "documents"), "doc_id").withColumn(
        "w", F.split("text", " ")
    )
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    c12 = scoped_persist(
        d.select(F.explode(bigrams).alias("bg"))
        .select(
            F.substring_index("bg", " ", 1).alias("w1"),
            F.substring_index("bg", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("k11"))
    )
    r = c12.groupBy(F.col("w1").alias("rw")).agg(
        F.sum("k11").cast("bigint").alias("r1")
    )
    c = c12.groupBy(F.col("w2").alias("cw")).agg(
        F.sum("k11").cast("bigint").alias("c1")
    )
    tot = c12.agg(F.sum("k11").cast("bigint").alias("nn"))
    cells = (
        c12.filter(F.col("k11") >= 5)
        .join(F.broadcast(r), F.col("w1") == F.col("rw"))
        .join(F.broadcast(c), F.col("w2") == F.col("cw"))
        .crossJoin(F.broadcast(tot))
        .withColumn("k12", F.col("r1") - F.col("k11"))
        .withColumn("k21", F.col("c1") - F.col("k11"))
        .withColumn(
            "k22", F.col("nn") - F.col("r1") - F.col("c1") + F.col("k11")
        )
    )

    def term(k: str, row, col) -> F.Column:
        return F.when(
            F.col(k) > 0,
            F.col(k)
            * F.log(F.col(k).cast("double") * F.col("nn") / (row * col)),
        ).otherwise(0.0)

    llr_raw = 2 * (
        term("k11", F.col("r1"), F.col("c1"))
        + term("k12", F.col("r1"), F.col("nn") - F.col("c1"))
        + term("k21", F.col("nn") - F.col("r1"), F.col("c1"))
        + term("k22", F.col("nn") - F.col("r1"), F.col("nn") - F.col("c1"))
    )
    return (
        cells.withColumn("llr", round4(llr_raw))
        .orderBy(F.col("llr").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(20)
        .select("w1", "w2", "k11", "llr")
    )


@query(
    "text_zipf_fit",
    oracle="""
    WITH words AS (
        SELECT u.word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM documents, unnest(string_split(text, ' ')) AS u(word)
        WHERE u.word != '' GROUP BY u.word
    ),
    ranked AS (
        SELECT word, freq,
               row_number() OVER (ORDER BY freq DESC, word ASC) AS rnk
        FROM words
    ),
    top AS (
        SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
        FROM ranked WHERE rnk <= 100
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(x) AS mx, AVG(y) AS my,
               AVG(x * y) AS mxy, AVG(x * x) AS mxx, AVG(y * y) AS myy
        FROM top
    )
    SELECT n AS n_words,
           FLOOR(((mxy - mx * my) / (mxx - mx * mx)) * 10000 + 0.5)
               / 10000 AS slope,
           FLOOR((my - ((mxy - mx * my) / (mxx - mx * mx)) * mx)
                 * 10000 + 0.5) / 10000 AS intercept,
           FLOOR((((mxy - mx * my) * (mxy - mx * my))
                  / ((mxx - mx * mx) * (myy - my * my)))
                 * 10000 + 0.5) / 10000 AS r2
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus frequency spectrum: OLS of
    ln(freq) on ln(rank) for the top-100 words — natural language
    sits near slope −1, and a corpus that doesn't (flat: templated /
    synthetic boilerplate; cliff: token-soup) fails the
    distributional smell test no per-document quality gate
    (text_quality_score) can see. Ranking runs over the O(vocab)
    rollup with the word as tie-break, the regression is the
    stats_linear_regression moment form over exactly 100 log-points,
    and r² uses the same guarded moment identity. One corpus scan,
    one vocabulary shuffle, a 100-row tail."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("word").asc())
    top = (
        words.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 100)
        .select(
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log(F.col("freq").cast("double")).alias("y"),
        )
    )
    m = top.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    slope = (F.col("mxy") - F.col("mx") * F.col("my")) / (
        F.col("mxx") - F.col("mx") * F.col("mx")
    )
    r2 = (
        (F.col("mxy") - F.col("mx") * F.col("my"))
        * (F.col("mxy") - F.col("mx") * F.col("my"))
    ) / (
        (F.col("mxx") - F.col("mx") * F.col("mx"))
        * (F.col("myy") - F.col("my") * F.col("my"))
    )
    return m.select(
        F.col("n").alias("n_words"),
        round4(slope).alias("slope"),
        round4(F.col("my") - slope * F.col("mx")).alias("intercept"),
        round4(r2).alias("r2"),
    )
