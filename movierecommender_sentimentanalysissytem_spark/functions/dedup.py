"""Deduplication operators (SURVEY.md §2.10 + the LLM-data-pipeline
mandate): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Every operator here is SQL-checked — including MinHash and SimHash.
The trick is a cross-engine-deterministic hash family derived from md5:
``bigint(hex_prefix(md5(seed || ':' || s), 15))`` computes the identical
60-bit integer in Spark (``conv(substring(md5(..),1,15),16,10)``) and
DuckDB (``CAST('0x' || substr(md5(..),1,15) AS BIGINT)``), so signatures
match bit-for-bit and the oracle exercises the full pipeline, not just
row counts.

Scale design:
- Exact dedup groups on a fixed-width digest, never the raw text, so
  shuffle rows stay small no matter how long documents get.
- MinHash+LSH is the linear-time near-dup path: per-doc signatures are
  computed in a single JVM-side higher-order-function pass (no Python),
  banded, and only band-collision pairs are verified with exact
  Jaccard. All-pairs comparison never happens.
- The n-gram Jaccard operator is the bounded-candidate brute-force
  twin (same-lang + length-band blocking) used to validate MinHash
  recall on samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
from movierecommender_sentimentanalysissytem_spark.plans.caching import (
    release_local_checkpoint,
    scoped_local_checkpoint,
    scoped_persist,
)
from movierecommender_sentimentanalysissytem_spark.registry import query
from movierecommender_sentimentanalysissytem_spark.sources.tables import (
    EMBEDDING_DIM,
    spread_scan,
    table,
)

# 16 hashes in 8 bands of 2: collision probability for a true pair at
# Jaccard j is 1-(1-j²)^8 — 0.90 at j=0.5, ≈1 at j≥0.8. The md5 base
# hash is computed once per shingle; extra affine functions are cheap.
N_HASHES = 16         # minhash signature length
N_BANDS = 8           # LSH bands (2 hashes per band)
ROWS_PER_BAND = N_HASHES // N_BANDS

# Affine minhash family over a single md5-derived base hash: one md5
# per shingle (the expensive part), then h_j = (a_j·h + b_j) mod P on
# 30-bit values — products stay < 2^61, so no bigint overflow on either
# engine. The mod-P wraparound is essential: without it a_j·h + b_j is
# monotone in h, all 8 "hashes" share one argmin, and LSH banding
# degenerates to a single minhash (observed: band join exploded n²).
_M = 1 << 30
_P = (1 << 31) - 1  # Mersenne prime 2^31 − 1
_AFFINE: tuple[tuple[int, int], ...] = (
    (787_001_543, 101),
    (654_435_761, 2027),
    (948_227_881, 31337),
    (521_870_003, 433494),
    (370_248_451, 9176),
    (812_279_237, 60493),
    (293_085_509, 7368787),
    (615_242_279, 122420729),
    (104_395_301, 882377),
    (482_344_447, 1296) ,
    (733_999_837, 5551559),
    (198_491_329, 77687),
    (928_799_431, 3739),
    (351_772_903, 99990001),
    (569_522_743, 41077),
    (683_441_871, 6700417),
)


def _spark_h(seed: str, s_expr: str) -> str:
    """Spark SQL: 60-bit integer hash of ``s_expr`` under ``seed``."""
    return (
        f"CAST(conv(substring(md5(concat('{seed}', ':', {s_expr})), 1, 15), 16, 10)"
        " AS BIGINT)"
    )


def _duck_h(seed: str, s_expr: str) -> str:
    """DuckDB: the same 60-bit integer hash."""
    return (
        f"CAST('0x' || substr(md5(concat('{seed}', ':', {s_expr})), 1, 15) AS BIGINT)"
    )


# Shingling over a pre-split words column ``w`` — splitting text once
# per row matters: an element_at(split(text),i) formulation re-splits
# the text per shingle element (O(tokens²) string work, observed 70 s+
# at sf0.1 vs ~2 s for this form).
_SPARK_SHINGLES_W = (
    "array_distinct(transform(sequence(1, size(w) - 2),"
    " i -> concat_ws(' ', slice(w, i, 3))))"
)

_DUCK_SHINGLES_W = (
    "list_distinct(list_transform(range(1, len(w) - 1),"
    " i -> array_to_string(w[i:i+2], ' ')))"
)

# Base hash of one shingle (md5 → 60 bits → 30 bits, so it fits an int).
_SPARK_BASE = f"CAST({_spark_h('m', 's')} % {_M} AS INT)"
_DUCK_BASE = f"({_duck_h('m', 's')} % {_M})"

# Distinct base-hash set of a words column ``w`` (MinHash input). Every
# ``w`` of size >= 3 yields at least one shingle, so at least one hash.
_SPARK_HVALS_W = f"array_distinct(transform({_SPARK_SHINGLES_W}, s -> {_SPARK_BASE}))"


# ------------------------------------------------------------ operators

@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, md5(text) AS text_md5
    FROM (
        SELECT doc_id, lang, source, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ) t WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per distinct text, keyed on
    the md5 digest (deterministic winner, fixed-width shuffle key)."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", F.md5("text").alias("text_md5"))
    )


def _minhash_oracle() -> str:
    hs = ",\n           ".join(
        f"list_min(list_transform(hvals, x -> ({a} * x + {b}) % {_P})) AS h{j}"
        for j, (a, b) in enumerate(_AFFINE)
    )

    def band_key(b: int) -> str:
        return "md5(concat(" + ", '_', ".join(
            f"CAST(h{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        ) + "))"

    band_union = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b + 1} AS band_id, {band_key(b)} AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    hv AS (
        SELECT doc_id,
               list_distinct(list_transform({_DUCK_SHINGLES_W},
                                            s -> {_DUCK_BASE})) AS hvals
        FROM words
    ),
    sig AS (
        SELECT doc_id, hvals,
           {hs}
        FROM hv
    ),
    bands AS (
        {band_union}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           FLOOR((CAST(len(list_intersect(sa.hvals, sb.hvals)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.hvals, sb.hvals))))
                 * 10000 + 0.5) / 10000 AS jaccard
    FROM pairs p
    JOIN hv sa ON sa.doc_id = p.doc_a
    JOIN hv sb ON sb.doc_id = p.doc_b
    WHERE CAST(len(list_intersect(sa.hvals, sb.hvals)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.hvals, sb.hvals))) >= 0.5
    """


# Band buckets larger than this emit star pairs (bucket-min doc vs each
# other member) instead of all pairs: a corpus of N identical documents
# otherwise makes one bucket emit N(N-1)/2 pairs — quadratic in the hot
# bucket. Star pairs keep the output linear while still connecting every
# member of the cluster (transitively equivalent for dedup grouping).
# Test SFs never exceed the cap (max identical-text group is 2), so the
# SQL oracle's plain all-pairs formulation stays bit-identical.
LSH_BUCKET_CAP = 64

def _lsh_candidate_pairs(bands: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Candidate pairs from band buckets with BOUNDED per-group state,
    each pair carrying both members' hash sets.

    Input: ``bands`` rows ``(doc_id, band_id, band_key, hvals)``, where
    ``hvals`` is the doc's payload (its hashed-shingle set). Contract:
    rows are unique per (doc_id, band_id, band_key). The signature
    explode upstream guarantees this (one row per doc per band). Pairs
    are emitted per row and a row never pairs with its own doc_id, so a
    duplicated row contributes no (d, d) self-pair where the naive
    collect_list form would emit one; its other pairs repeat as in the
    naive form. The equivalence test pins both the unique and the
    duplicated-row behavior.

    Every member row is annotated over its band-key partition with the
    bucket size ``n`` and hub (min doc_id), then emits its own pairs:

    - buckets within ``cap``: the row also carries the bucket's
      ``(doc_id, hvals)`` members (a window ``collect_list`` over the
      buckets with n ≤ cap, so the array is provably ≤ ``cap`` long no
      matter how degenerate the corpus) and pairs itself with every
      larger id — all pairs, each once;
    - oversized buckets: the member array is empty, the row carries the
      hub's set (``min_by(hvals, doc_id)``) instead, and each non-hub
      row emits ONE star pair (hub, doc_id) — a pathological bucket
      (billions of boilerplate near-identical docs collapsing into one
      band key) streams through as ordinary rows instead of building a
      single giant ``collect_list`` group (the OOM cliff of the naive
      form).

    Output: ``(doc_a, doc_b, sh_a, sh_b)``, the two ids and their
    payloads, so a caller verifies each pair on its own row with no
    join back to the documents. Both windows share one band-key
    partitioning and ordering, so the plan has ONE full-data shuffle.
    Cross-band duplicate pairs remain; callers dedupe on (doc_a, doc_b)."""
    w = Window.partitionBy("band_id", "band_key")
    small = F.col("n") <= cap
    m = (
        bands.select(
            "*",
            F.count(F.lit(1)).over(w).alias("n"),
            F.min("doc_id").over(w).alias("hub"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "*",
            F.collect_list(F.when(small, F.struct("doc_id", "hvals")))
            .over(w)
            .alias("members"),
            F.min_by(F.when(~small, F.col("hvals")), "doc_id")
            .over(w)
            .alias("hub_hvals"),
        )
    )
    pairs = f"""
    CASE WHEN n <= {cap}
      THEN transform(filter(members, x -> x.doc_id > doc_id),
                     x -> named_struct('doc_a', doc_id, 'doc_b', x.doc_id,
                                       'sh_a', hvals, 'sh_b', x.hvals))
      ELSE filter(array(named_struct('doc_a', hub, 'doc_b', doc_id,
                                     'sh_a', hub_hvals, 'sh_b', hvals)),
                  p -> p.doc_a != p.doc_b)
    END
    """
    return m.select(F.inline(F.expr(pairs)))


@query("dedup_near_minhash", oracle=_minhash_oracle())
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified with exact Jaccard.

    Pipeline (all JVM-side higher-order functions, no Python UDFs):
    3-word shingles → one md5 per shingle → distinct 30-bit hash set
    per doc (``hvals``) → 16 affine minhashes → 8 LSH bands of 2 →
    band buckets grouped once (no self-join; oversized buckets emit
    star pairs, see LSH_BUCKET_CAP) → exact Jaccard ≥ 0.5 over the
    hashed-shingle sets. SQL-checked end-to-end via the cross-engine
    md5 hash family — the oracle mirrors hash-set Jaccard exactly.

    Scale notes: the plan trades shuffle bytes for jobs. Each band row
    carries its doc's ``hvals`` through the band-key shuffle, and each
    candidate pair carries both sets, so Jaccard is checked on the pair
    row itself: nothing is cached and nothing joins back to ``hv``. The
    pipeline is one band-key exchange plus one small exchange for the
    (doc_a, doc_b) dedupe of verified pairs. To keep the carried rows
    small, ``hvals`` is ``array<int>`` (values < 2^30) and the band key
    is the band's two minhashes packed into one bigint instead of an
    md5 string. Measured at sf0.1 on 4 slots against the cached
    form (``hv`` persisted, two verify joins back to it): jobs 9 → 4,
    tasks 24 → 10, shuffle 2.32 → 5.39 MB (8.32 MB with bigint sets
    and md5 keys). The band shuffle holds N_BANDS copies of every set,
    and block compression folds a doc's copies only where they land in
    the same reducer block, so the bytes also grow with the partition
    count (32 slots: 2.37 → 9.12 MB; the band exchange alone writes
    10.4 MB uncompressed at either slot count).

    The scan goes through ``spread_scan``, so the md5-shingle hashing
    and the 16 affine minhash folds (the two heaviest per-row stages)
    run on as many cores as the corpus's bytes warrant: one partition
    with no exchange when the corpus is small (sf0.01), split on doc_id
    when it is large.
    """
    d = (
        spread_scan(table(spark, sf_dir, "documents"), "doc_id")
        .withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 3)
    )
    hv = d.select("doc_id", F.expr(_SPARK_HVALS_W).alias("hvals"))
    # Signature + band keys as TWO nested higher-order expressions
    # instead of 16 separate array_min(transform(...)) columns + 8
    # md5(concat_ws(...)) columns (r15, guide §1.2 "per-task work" /
    # r14-verdict floor item): the bench first-run cost of this query
    # was dominated by per-query generated-code compilation, and the
    # 24-column form generated ~24 large expression trees per
    # projection. The fold form is bit-identical (verified by full
    # collect() comparison at sf0.01 and the unchanged oracle): for
    # each j, aggregate..least(acc[j], (a_j*x+b_j)%P) over the same
    # hvals is exactly array_min(transform(hvals, x->(a_j*x+b_j)%P)) —
    # the init value P is an identity for least() because every
    # (a*x+b)%P lies in [0, P-1]. Measured (fresh-session interleaved
    # A/B, sf0.001): first-run 5.2-5.5 s -> 4.3-4.9 s, warm
    # 1.8-2.1 -> 1.6-1.8 s; identical plan shape otherwise.
    # Over an EMPTY hvals the fold would return the init [P, ..., P]
    # (array_min gave NULLs), and every such doc would share all band
    # keys. The size(w) >= 3 filter above rules that out: each kept doc
    # has >= 1 shingle, so a non-empty hvals
    # (tests/test_operators.py pins this invariant).
    sig_fold = f"""
    aggregate(
      hvals,
      array_repeat({_P}L, {N_HASHES}),
      (acc, x) -> transform(
          sequence(0, {N_HASHES - 1}),
          j -> least(element_at(acc, j + 1),
                     (element_at(array({",".join(f"{a}L" for a, _ in _AFFINE)}), j + 1) * x
                      + element_at(array({",".join(f"{b}L" for _, b in _AFFINE)}), j + 1))
                     % {_P}L)))
    """
    # Band key = the band's two minhashes packed as h1·2^31 + h2. Each
    # minhash is < P < 2^31, so the packing is exact and injective (the
    # oracle's md5 of "h1_h2" keys the same buckets) and the key is a
    # bigint, not a 32-char string, in the band shuffle.
    band_keys = f"""
    transform(
      sequence(0, {N_BANDS - 1}),
      b -> element_at(hs, {ROWS_PER_BAND} * b + 1) * {1 << 31}L
           + element_at(hs, {ROWS_PER_BAND} * b + 2))
    """
    bands = (
        hv.select("doc_id", "hvals", F.expr(sig_fold).alias("hs"))
        .select(
            "doc_id",
            "hvals",
            F.posexplode(F.expr(band_keys)).alias("band_id", "band_key"),
        )
    )
    jacc = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    # The Jaccard is a function of the pair, so the cross-band dedupe
    # is a plain distinct over the verified (doc_a, doc_b, jaccard) rows.
    return (
        _lsh_candidate_pairs(bands)
        .filter(jacc >= 0.5)
        .select("doc_a", "doc_b", round4(jacc).alias("jaccard"))
        .distinct()
    )


def _simhash_oracle() -> str:
    h = _duck_h("s", "u.word")
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    fp = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
    WITH tokens AS (
        SELECT doc_id, {h} AS h
        FROM documents, unnest(string_split(text, ' ')) AS u(word)
    ),
    bits AS (
        SELECT doc_id,
           {bit_sums}
        FROM tokens GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS INTEGER) AS simhash16
    FROM bits
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (frequency-weighted sign
    sum of per-token hash bits). Same md5 hash family as MinHash, so the
    fingerprints are SQL-checked exactly.

    Relational formulation: explode tokens → one conditional SUM per
    bit → assemble the fingerprint arithmetically. One shuffle (the
    groupBy), fixed-width state — at 100 TB this is a plain word-count
    shape.
    """
    d = table(spark, sf_dir, "documents")
    tokens = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).withColumn("h", F.expr(_spark_h("s", "word")))
    bit_aggs = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(16)
    ]
    bits = tokens.groupBy("doc_id").agg(*bit_aggs)
    fp = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bits.select("doc_id", fp.cast("int").alias("simhash16"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, lang, n_chars, string_split(text, ' ') AS w
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
        SELECT doc_id, lang, n_chars, {_DUCK_SHINGLES_W} AS s FROM words
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           FLOOR((CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s)))) * 10000 + 0.5) / 10000
               AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang
     AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 30
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard: candidates must share a language, sit
    within a ±30-char length band, AND share at least one 3-gram
    shingle (an inverted-index equi-join on the shingle), then exact
    Jaccard ≥ 0.3 verifies. The shingle-sharing requirement is implied
    by the threshold — j ≥ 0.3 > 0 forces a non-empty intersection —
    so candidate generation through the inverted index produces the
    IDENTICAL result set as the declarative formulation (the oracle is
    unchanged); it is purely a plan refinement.

    Why not the (lang, length-bin) band join alone (the round-2..7
    plan): that blocking key does not get finer as the corpus grows —
    at 10x data every (lang, bin) block holds 10x the docs and the
    verifier pays Σ|block|² ≈ 100x (measured 17.8x wall at 10x in
    SCALE.md addendum 5 before this rewrite). The shingle join's block
    key is the shingle itself, whose posting lists grow only with
    genuine text duplication, not with corpus size: measured candidate
    volume falls 250k → 41k at sf0.1 and the 10x smoke drops to the
    linear regime (addendum 5). Degenerate risk: a boilerplate shingle
    shared by millions of docs makes one posting list quadratic — the
    capped-frequency variant that bounds this (dropping stop-shingles
    > 20 docs, mirrored in its oracle) is dedup_ngram_containment's
    blocking; this key keeps the UNCAPPED exact semantics as the
    oracle baseline, band-join pre-filters keep the join narrow, and
    a real corpus at 100 TB would flip to the capped or MinHash path.

    Per-pair cost: shingle arrays are DISTINCT sets, so
    ``|A ∪ B| = |A| + |B| − |A ∩ B|`` exactly — the verifier
    evaluates one ``array_intersect`` per candidate instead of
    intersect + union (integer identity; the Jaccard double and the
    oracle hash are unchanged). The set sizes are projected per ROW
    before the join."""
    d = (
        spread_scan(table(spark, sf_dir, "documents"), "doc_id")
        .withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 3)
    )
    # the shingle relation feeds the inverted index AND both verify
    # sides — persist so the split+shingle pass runs once
    sh = scoped_persist(
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr(_SPARK_SHINGLES_W).alias("s"),
        )
    )
    ex = sh.select("doc_id", "lang", "n_chars", F.explode("s").alias("g"))
    # Explicit-N repartition on doc_a before the distinct: one shuffle
    # serves the distinct and the verify join. The candidate relation
    # is a few MB, so AQE's byte-based coalescing would fold the
    # CPU-heavy array_intersect stage into one task —
    # REPARTITION_BY_NUM shuffles are exempt from coalescing. It keeps
    # the slot count, not spread_scan's byte rule: the candidates are
    # an intermediate whose size no scan statistic tells in advance.
    # Where the scan was already spread into as many partitions, Spark
    # drops this shuffle (the stream side keeps sh's doc_id hashing).
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cand = (
        ex.select(
            F.col("doc_id").alias("doc_a"),
            F.col("lang").alias("lang_a"),
            F.col("n_chars").alias("nc_a"),
            "g",
        )
        .join(
            ex.select(
                F.col("doc_id").alias("doc_b"),
                F.col("lang").alias("lang_b"),
                F.col("n_chars").alias("nc_b"),
                "g",
            ),
            "g",
        )
        .filter(
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 30)
        )
        .select("doc_a", "doc_b")
        .repartition(par, "doc_a")
        .distinct()
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("s").alias("s_a"),
        F.size("s").alias("ns_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("s").alias("s_b"),
        F.size("s").alias("ns_b"),
    )
    inter = F.size(F.array_intersect("s_a", "s_b"))
    jacc = inter.cast("double") / (F.col("ns_a") + F.col("ns_b") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jacc >= 0.3)
        .select("doc_a", "doc_b", round4(jacc).alias("jaccard"))
    )


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
        SELECT doc_id, {_DUCK_SHINGLES_W} AS s FROM words
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    freq AS (SELECT g FROM ex GROUP BY g HAVING COUNT(*) <= 20),
    kept AS (SELECT ex.doc_id, ex.g FROM ex JOIN freq USING (g)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           FLOOR(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / LEAST(len(sa.s), len(sb.s)) * 10000 + 0.5) / 10000
               AS containment
    FROM cand
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / LEAST(len(sa.s), len(sb.s)) >= 0.6
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup detection: |A∩B| / min(|A|, |B|) ≥ 0.6 over
    distinct 3-gram shingle sets — the asymmetric sibling of
    dedup_ngram_jaccard for the SUBSUMPTION case (a short doc quoted
    wholesale inside a longer one scores high containment but low
    Jaccard, so a length band would block exactly the pairs this
    operator exists to find). Candidates therefore come from an
    INVERTED-INDEX equi-join on shared shingles instead: explode each
    doc's shingle set, drop stop-shingles (appearing in > 20 docs — the
    same bucket-size cap idiom as the MinHash bands; boilerplate
    shingles would otherwise contribute |docs|² candidate pairs each),
    pair-distinct, then exact containment verifies on candidates only.

    Scale design: candidate volume is Σ_shingle |docs(g)|² bounded by
    the 20-doc cap — O(#shingles · 400) worst case, linear in corpus
    size for fixed cap; the distinct collapses multi-shared pairs
    before the array-heavy verify join, and the per-row set sizes ride
    along so min(|A|,|B|) costs nothing per pair. No length prefilter
    by design (see above). At 100 TB the explode and the cap filter
    are map-side over input splits; only the candidate pairs shuffle."""
    d = (
        spread_scan(table(spark, sf_dir, "documents"), "doc_id")
        .withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 3)
    )
    sh = scoped_persist(
        d.select("doc_id", F.expr(_SPARK_SHINGLES_W).alias("s"))
    )
    ex = sh.select("doc_id", F.explode("s").alias("g"))
    freq = (
        ex.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") <= 20)
        .select("g")
    )
    kept = ex.join(freq, "g")
    cand = (
        kept.select(F.col("doc_id").alias("doc_a"), "g")
        .join(
            kept.select(F.col("doc_id").alias("doc_b"), "g"),
            "g",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("s").alias("s_a"),
        F.size("s").alias("ns_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("s").alias("s_b"),
        F.size("s").alias("ns_b"),
    )
    inter = F.size(F.array_intersect("s_a", "s_b"))
    cont = inter.cast("double") / F.least(F.col("ns_a"), F.col("ns_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(cont >= 0.6)
        .select("doc_a", "doc_b", round4(cont).alias("containment"))
    )


_DOT_64 = (
    "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0.0D, (acc, v) -> acc + v)"
)
_NORM = "sqrt(aggregate(transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, u) -> acc + u))"

_DUCK_DOT = (
    # bound derived from the shared fixture constant (round-7 advice)
    f"list_reduce(list_transform(range(1, {EMBEDDING_DIM + 1}),"
    " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),"
    " (x, y) -> x + y)"
)
_DUCK_NORM = (
    "sqrt(list_reduce(list_transform({v}.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))"
)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           FLOOR(({_DUCK_DOT} / ({_DUCK_NORM.format(v='a')} * {_DUCK_NORM.format(v='b')}))
                 * 10000 + 0.5) / 10000 AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DUCK_DOT} / ({_DUCK_NORM.format(v='a')} * {_DUCK_NORM.format(v='b')}) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the cheap
    partition key), cosine ≥ 0.4 computed with an in-order JVM fold —
    bit-identical to the DuckDB list_reduce formulation.

    At 100 TB the label-blocking becomes LSH bucketing
    (sim_threshold_join_lsh); the pairwise kernel is unchanged.

    Norms are computed per ROW before the blocked join, not per pair
    inside its filter: ``dot / (na * nb)`` is the identical IEEE
    expression tree (hash unchanged), but the per-pair cost drops
    from three interpreted 64-element folds to one — the same
    rewrite as sim_threshold_join (vector.py).

    The probe side is hash-repartitioned on vec_id for the same
    reason as there: the corpus is one small parquet file, so the
    broadcast hash join would stream a single partition on one core.
    By vec_id (not label) because the label blocks are few and would
    cap parallelism at the block count; by hash for the reasons in
    ``spread_scan``. It takes the slot count, not ``spread_scan``'s
    byte rule, because the pair work grows with the square of the
    rows, not with the scanned bytes.
    """
    e = table(spark, sf_dir, "embeddings")
    norm = F.expr(_NORM.format(v="embedding"))
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = e.repartition(par, "vec_id").select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("label"),
        F.col("embedding").alias("a"),
        norm.alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("b"),
        norm.alias("nb"),
    )
    dot = F.expr(_DOT_64)
    cos = dot / (F.col("na") * F.col("nb"))
    return (
        a.join(
            b,
            (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")),
        )
        .filter(cos >= 0.4)
        .select("vec_a", "vec_b", "label", round4(cos).alias("cos_sim"))
    )


def _clusters_oracle() -> str:
    # Reuse the full minhash pair pipeline as the edge set, then run
    # transitive closure via a recursive CTE: cluster id = min doc_id
    # reachable through near-dup edges.
    minhash_sql = _minhash_oracle()
    pairs_body = minhash_sql.strip().rstrip()
    return f"""
    WITH RECURSIVE pairs AS (
        {pairs_body}
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, root) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(MIN(root) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """


def min_label_components(pairs: DataFrame, max_rounds: int = 10) -> DataFrame:
    """Connected components over an undirected pair list
    (doc_a, doc_b) → (node, root): every node labelled with the MINIMUM
    id reachable from it.

    Iterative min-label propagation WITH pointer jumping: each round
    (1) takes the min over neighbors' labels, then (2) re-labels
    through the label table itself (root := label[root]). The jump
    step doubles the effective reach per round, so convergence takes
    O(log diameter) rounds, not O(diameter) — a chain-of-near-dups
    component hundreds of docs long (drifting boilerplate in a web
    corpus) converges inside the round bound where plain propagation
    would silently return wrong labels (pinned on a crafted 40-chain
    in tests/test_operators.py). Each round is two shuffle joins; at
    100 TB intermediate labels would be checkpointed every few rounds
    to cut lineage. Cache hygiene: holds ≤1 label generation persisted
    at any time."""
    sym = scoped_persist(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .distinct()
    )
    # sym is materialized by scoped_persist's eager fill BEFORE the
    # first checkpoint, so its cache-buffer RDD is never mis-attributed
    # to a generation's capture set (see scoped_local_checkpoint's
    # attribution note) — the in-loop early release below must never
    # drop the edge cache.
    # Each generation is eagerly local-checkpointed: the jump step
    # references the label frame twice, so WITHOUT lineage truncation
    # the logical plan doubles per round and analysis OOMs the driver
    # around round ~8 — the checkpoint keeps every round's plan
    # constant-size (see plans/caching.py::scoped_local_checkpoint).
    labels = scoped_local_checkpoint(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("root", F.col("node"))
    )
    for _ in range(max_rounds):
        neighbor_min = (
            labels.join(sym, labels.node == sym.a)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("root").alias("nroot"))
        )
        prop = scoped_persist(
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("root"), F.coalesce(F.col("nroot"), F.col("root"))
                ).alias("root"),
            )
        )
        # Pointer jump: follow the freshly-propagated label one more
        # hop through the label table (roots are node ids, so the
        # lookup is a self-join on the same frame).
        lut = prop.select(
            F.col("node").alias("r_node"), F.col("root").alias("r_root")
        )
        new_labels = scoped_local_checkpoint(
            prop.join(lut, prop.root == F.col("r_node"), "left").select(
                "node",
                F.least(
                    F.col("root"), F.coalesce(F.col("r_root"), F.col("root"))
                ).alias("root"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.root") != F.col("o.root"))
            .limit(1)
            .count()
        )
        # new_labels is materialized (eager checkpoint), so the prop
        # cache and the superseded generation's checkpoint blocks are
        # dead weight — drop both before looping (≤1 label generation
        # alive at any time).
        prop.unpersist()
        release_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    else:
        # Exhausting the bound without OBSERVING a fixed point: a
        # fixed point is only observable one round after it is reached
        # (the no-change round), so max_rounds must be sized as
        # expected-convergence-rounds + 1. Some component's labels may
        # be wrong (diameter beyond ~2^(max_rounds-1) under pointer
        # jumping) — refuse to return them silently.
        raise RuntimeError(
            f"min_label_components did not observe convergence within "
            f"{max_rounds} rounds; raise max_rounds (reach doubles per "
            "round, and observing the fixed point costs one extra "
            "round)"
        )
    sym.unpersist()
    return labels


@query("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc in
    at least one MinHash-verified pair gets a cluster id = the minimum
    doc_id reachable through near-dup edges (the canonical
    representative production dedup keeps). See
    ``min_label_components`` for the pointer-jumping mechanism; the
    oracle is DuckDB's recursive-CTE transitive closure — SQL-checked
    end-to-end.
    """
    pairs = dedup_near_minhash(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("root").alias("cluster_id")
    )


@query(
    "dedup_keep_best",
    oracle="""
    SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY text
                   ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM documents
    ) t WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with CANONICAL SELECTION: each duplicate group keeps
    its best representative (highest quality proxy, here n_chars; ties
    to the smallest doc_id — a total order, so the keeper is
    engine-exact). dedup_exact keeps the minimum id; real curation
    pipelines keep the best-scored copy — same one-shuffle
    row_number-over-content-key plan, different ORDER BY. At 100 TB
    the partition key becomes the 128-bit content hash rather than the
    raw text (dedup_exact's documented scale path), and the quality
    column comes from text_quality_score instead of a length proxy."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_chars")
    )
