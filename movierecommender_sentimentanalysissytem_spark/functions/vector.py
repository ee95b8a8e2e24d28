"""Similarity search over the embedding column (SURVEY.md §2.10,
PAPERS.md top-k similarity search).

Cosine kernels are computed with in-order JVM folds
(``zip_with``/``aggregate`` on elements cast fp32→fp64, an exact
widening), mirrored in DuckDB by ``list_reduce``/``list_transform`` over
the same index order — bit-identical doubles, so brute-force variants
are fully SQL-checked. LSH / IVF variants are the 100 TB scale path and
rows-checked (bucketing internals are engine-specific).

Scale design: brute-force k-NN is O(|Q|·|C|·d) — fine for a bounded
query set against a broadcast candidate block, wrong for all-pairs.
The threshold join blocks on label (exact) or LSH buckets (approx);
IVF prunes candidates to the nearest coarse centroids. All three keep
the pairwise kernel identical and swap only the candidate generator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
from movierecommender_sentimentanalysissytem_spark.registry import query
from movierecommender_sentimentanalysissytem_spark.sources.tables import (
    EMBEDDING_DIM,
    literal_table,
    table,
)

# DuckDB index range covering the embedding dimensionality (1-based,
# inclusive-exclusive) — derived from the shared constant so the oracle
# mirrors can't desynchronize from the fixture (round-7 advice).
_DRANGE = f"range(1, {EMBEDDING_DIM + 1})"

# Spark-side kernels (columns named a / b hold the two embeddings).
_DOT = (
    "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0.0D, (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate(transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " 0.0D, (acc, u) -> acc + u))"
)

# DuckDB-side kernels over tables aliased a / b.
_DDOT = (
    f"list_reduce(list_transform({_DRANGE},"
    " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),"
    " (x, y) -> x + y)"
)
_DNORM = (
    "sqrt(list_reduce(list_transform({v}.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))"
)
_DCOS = f"({_DDOT} / ({_DNORM.format(v='a')} * {_DNORM.format(v='b')}))"


def _cos_expr():
    return F.expr(_DOT) / (F.expr(_NORM.format(v="a")) * F.expr(_NORM.format(v="b")))


@query(
    "sim_cosine_pairwise",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           FLOOR({_DCOS} * 10000 + 0.5) / 10000 AS cos_sim,
           FLOOR({_DDOT} * 10000 + 0.5) / 10000 AS dot,
           FLOOR({_DNORM.format(v='a')} * 10000 + 0.5) / 10000 AS norm_a
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
)
def sim_cosine_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine / dot / norm for consecutive vec_id pairs — the pairwise
    kernel in isolation, SQL-checked bit-for-bit."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("a"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("b"))
    return (
        a.join(b, F.col("vec_b") == F.col("vec_a") + 1)
        .select(
            "vec_a",
            "vec_b",
            round4(_cos_expr()).alias("cos_sim"),
            round4(F.expr(_DOT)).alias("dot"),
            round4(F.expr(_NORM.format(v="a"))).alias("norm_a"),
        )
    )


_L2 = (
    "sqrt(aggregate(zip_with(a, b,"
    " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " 0.0D, (acc, v) -> acc + v))"
)
_L1 = (
    "aggregate(zip_with(a, b,"
    " (x, y) -> abs(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " 0.0D, (acc, v) -> acc + v)"
)
_LINF = (
    "aggregate(zip_with(a, b,"
    " (x, y) -> abs(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " 0.0D, (acc, v) -> greatest(acc, v))"
)
_DL2 = (
    f"sqrt(list_reduce(list_transform({_DRANGE},"
    " i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))"
    " * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))),"
    " (x, y) -> x + y))"
)
_DL1 = (
    f"list_reduce(list_transform({_DRANGE},"
    " i -> abs(CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))),"
    " (x, y) -> x + y)"
)
_DLINF = (
    f"list_reduce(list_prepend(0.0, list_transform({_DRANGE},"
    " i -> abs(CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))),"
    " (x, y) -> greatest(x, y))"
)


@query(
    "sim_distance_metrics",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           FLOOR({_DCOS} * 10000 + 0.5) / 10000 AS cos_sim,
           FLOOR({_DDOT} * 10000 + 0.5) / 10000 AS dot,
           FLOOR({_DL2} * 10000 + 0.5) / 10000 AS l2,
           FLOOR({_DL1} * 10000 + 0.5) / 10000 AS l1,
           FLOOR({_DLINF} * 10000 + 0.5) / 10000 AS linf
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
)
def sim_distance_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full distance-metric family (cosine, dot, Euclidean L2,
    Manhattan L1, Chebyshev L∞) over consecutive vec_id pairs — the
    kernels every similarity/dedup/ANN operator in this module swaps
    between, SQL-checked bit-for-bit in one key. Cosine serves
    normalized-text embeddings; L2 is what IVF/KMeans quantizers
    minimize; L1/L∞ are the robust variants quality audits use.

    All five are in-order JVM folds over ``zip_with`` (fp32→fp64 exact
    widening), mirrored index-for-index by DuckDB ``list_reduce`` —
    same discipline as sim_cosine_pairwise. Narrow map over one scan +
    a 1-shift self-join on vec_id; no UDFs, no shuffle beyond the
    equi-join, so the key doubles as a codegen check that the metric
    expressions stay whole-stage-compiled at 100 TB."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("a"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("b"))
    return a.join(b, F.col("vec_b") == F.col("vec_a") + 1).select(
        "vec_a",
        "vec_b",
        round4(_cos_expr()).alias("cos_sim"),
        round4(F.expr(_DOT)).alias("dot"),
        round4(F.expr(_L2)).alias("l2"),
        round4(F.expr(_L1)).alias("l1"),
        round4(F.expr(_LINF)).alias("linf"),
    )


@query(
    "sim_topk_neighbors",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               FLOOR({_DCOS} * 10000 + 0.5) / 10000 AS cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_DCOS} DESC, b.vec_id ASC) AS INTEGER) AS rn
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 10
    ) t WHERE rn <= 3
    """,
)
def sim_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for a bounded query set
    (vec_id < 10) — the correctness baseline for ANN variants.

    The query block is tiny → Catalyst broadcasts it; candidates stream
    through the kernel without shuffling; the window ranks per query.
    Ranking happens on the raw double (not the rounded value), with
    vec_id as the deterministic tiebreak.
    """
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("a")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("b"))
    cos = _cos_expr()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            round4(F.col("cos_raw")).alias("cos_sim"),
            "rn",
        )
    )


@query(
    "sim_threshold_join",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           FLOOR({_DCOS} * 10000 + 0.5) / 10000 AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_DCOS} >= 0.4
    """,
)
def sim_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ 0.4, brute force (SQL-checked ground
    truth for the LSH variant below).

    The norms are computed per ROW before the pair join (O(n·d)), not
    per pair inside it (O(n²·d)): the interpreted higher-order fold is
    the entire per-pair cost here, and the old form evaluated three
    64-element folds per candidate pair (dot + both norms) in the
    filter. ``dot / (na * nb)`` is the same IEEE expression tree as
    ``dot / (norm_fold(a) * norm_fold(b))`` — where a double is
    computed does not change its bits — so the oracle hash is
    unchanged while the n² hot path drops to one fold per pair
    (measured ~3× at sf0.1).

    The probe (streamed) side is also explicitly repartitioned: the
    corpus parquet is one small file, so one scan partition, and the
    whole nested-loop would run on a single core while 31 idle. A
    cheap shuffle of n rows buys full parallelism on the n² work; on
    a real cluster the probe side arrives already partitioned and the
    repartition is equally harmless. It takes the slot count, not
    ``spread_scan``'s byte rule, because the pair work grows with the
    square of the rows, not with the scanned bytes."""
    e = table(spark, sf_dir, "embeddings")
    norm = F.expr(_NORM.format(v="embedding"))
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = e.repartition(par, "vec_id").select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("a"),
        norm.alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("b"),
        norm.alias("nb"),
    )
    cos = F.expr(_DOT) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.4)
        .select("vec_a", "vec_b", round4(cos).alias("cos_sim"))
    )


# Bucket geometry for the LSH threshold join (retuned round 8, derived
# from the dimensionality round 9): a unit vector's projection onto a
# random direction has spread ≈ 1/√dim, so the bucket width must track
# EMBEDDING_DIM — a hard-coded width silently degenerates to
# near-all-pairs buckets if the dimensionality changes (the round-8
# failure mode: 0.5 ≈ 4x the spread collapsed every hash table into 2-3
# buckets). 0.8/√64 = 0.1 exactly, the round-8 A/B-tuned value
# (SCALE.md addendum 5c). The candidate-volume regression test
# (tests/test_vectors.py) goes red if this drifts back toward 0.5.
LSH_BUCKET_LENGTH = 0.8 / EMBEDDING_DIM**0.5
LSH_NUM_HASH_TABLES = 12


@query("sim_threshold_join_lsh")
def sim_threshold_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned similarity join: normalize to unit vectors, bucket
    with random hyperplane projections (BucketedRandomProjectionLSH,
    seeded), and approx-join on euclidean distance — for unit vectors
    ``d² = 2(1 − cos)``, so cos ≥ 0.4 ⇔ d ≤ sqrt(1.2).

    This is the 100 TB path for sim_threshold_join: candidate pairs
    come from bucket collisions, not the n² cross join. rows-checked;
    recall vs the brute-force oracle is asserted in
    tests/test_vectors.py.

    Bucket geometry (retuned round 8): unit vectors project onto a
    random direction with spread ≈ d/√dim ≈ 1/8, so the original
    bucketLength=0.5 put essentially the whole corpus into 2-3 buckets
    per table — every pair collided somewhere and the candidate join
    degenerated toward all-pairs as the corpus grew (measured 101 s at
    the 10x smoke corpus). bucketLength=0.1 matches the projection
    spread; the selectivity lost per table is bought back with
    numHashTables=12 — recall is UNCHANGED (0.985/1.000/0.985 at
    sf0.001/0.01/0.1, identical to the old shape) while the 10x-corpus
    join drops 101 → 54 s. Note the output of a fixed-threshold join
    on near-isotropic data grows ~quadratically REGARDLESS of plan
    (cos ≥ 0.4 is a 3.2σ cut; among the 10x corpus's 180M cross-pair
    comparisons ~90k legitimately clear it), so the scale story is
    measured against that inherent output growth."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("v")
    )
    unit = Normalizer(inputCol="v", outputCol="unit", p=2.0).transform(e)
    lsh = BucketedRandomProjectionLSH(
        inputCol="unit",
        outputCol="hashes",
        bucketLength=LSH_BUCKET_LENGTH,
        numHashTables=LSH_NUM_HASH_TABLES,
        seed=42,
    )
    model = lsh.fit(unit)
    thresh = float(2.0 * (1.0 - 0.4)) ** 0.5
    joined = model.approxSimilarityJoin(unit, unit, thresh, distCol="dist")
    return (
        joined.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            round4(1.0 - F.col("dist") * F.col("dist") / 2.0).alias("cos_sim"),
        )
    )


# IVF knobs. The round-6 recall audit showed this corpus is
# near-isotropic (true top-3 neighbors sit at cos ≈ 0.37-0.40 — random
# unit vectors, IVF's adversarial worst case), so single-assignment
# recall tracks the probed fraction almost linearly: the original fixed
# k=8/nprobe=4 shape measured 0.97 at sf0.001 but degraded to 0.77 at
# sf0.1. The fix is MULTI-ASSIGNMENT (cell replication): each corpus
# vector is indexed into its IVF_NASSIGN nearest cells, so a neighbor
# slightly over a Voronoi border is still found through its second
# cell. Measured recall@3 with k=√n / assign=2 / probe_frac=0.375
# (numpy replica of the quantizer, all three SFs): 0.93 / 0.97 / 0.97
# vs 0.83 / 0.87 / 0.87 for assign=1 at the same probe fraction. On
# real (clustered) embeddings a far smaller probe fraction suffices —
# these two constants are the recall/cost dial.
IVF_PROBE_FRAC = 0.375
IVF_NASSIGN = 2

# Quantizer-fit sampling bound (round 9, found at the 100x smoke): the
# KMeans fit costs O(n·k·d) per iteration and k = √n, an n^1.5 term —
# measured 20.8x wall for 100x data (268 s, fit-dominated) while every
# downstream stage stays √n-shaped. Standard IVF practice trains the
# coarse quantizer on a bounded sample; with the cap the fit cost is
# O(cap·√n·d), restoring sub-decade growth. 250k training rows give
# ≥ ~100 points per cell up to k ≈ 2500 (a ~6M-vector corpus). Corpora
# at or below the cap — every fixture SF and the driver's — fit on the
# full corpus, bit-identically to the pre-cap behavior.
QUANTIZER_FIT_CAP = 250_000


def _ivf_shape(n: int) -> tuple[int, int]:
    """Standard IVF sizing: k ≈ sqrt(n) cells (bounded below so tiny
    corpora still quantize), nprobe a fixed fraction of k — probed rows
    per query scale ~sqrt(N)·probe_frac·IVF_NASSIGN, shrinking relative
    to N."""
    k = max(8, int(n**0.5))
    nprobe = max(4, int(k * IVF_PROBE_FRAC + 0.999999))
    return k, min(nprobe, k)


@query("sim_topk_ivf")
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer (seeded) partitions the
    corpus; each query probes only its ``nprobe`` nearest
    centroids' inverted lists, then exact cosine top-3 within the
    probed cells.

    At scale the corpus is written partitioned by centroid id
    (partition pruning does the probe; IVF_NASSIGN=2 doubles storage,
    the standard replication trade), queries broadcast. rows-checked
    (centroid assignment is implementation-specific); recall ≥ 0.9 vs
    brute force is asserted in tests/test_vectors.py, with the sf0.1
    figure recorded in ROUND6_NOTES.md.

    Two round-6 recall fixes (0.77 measured at sf0.1 before them):
    (1) the quantizer clusters L2-NORMALIZED vectors (spherical-KMeans
    approximation — on unit vectors ``||a-b||^2 = 2 - 2*cos(a,b)``,
    so euclidean cells agree with the cosine ranking; this corpus
    ships unit-norm already, but raw inputs must not steer cells by
    magnitude); (2) multi-assignment — each corpus vector joins the
    inverted lists of its IVF_NASSIGN nearest cells, so near-Voronoi-
    border neighbors survive probing (see the knob comment above).
    Candidate pairs reached through two shared cells are deduped
    before ranking. The final exact cosine uses the raw arrays —
    normalization only steers the quantizer.
    """
    e, assigned, nearest_cells, nprobe = _ivf_index(spark, sf_dir)
    candidates = _ivf_candidates(e, assigned, nearest_cells, nprobe)
    return _ivf_topk3(candidates)


def _ivf_index(spark: SparkSession, sf_dir: str):
    """Build the IVF index once: normalized corpus, fitted coarse
    quantizer, and the multi-assigned inverted lists. Shared by
    sim_topk_ivf (default probe width) and sim_topk_ivf_probe_sweep
    (several widths over ONE fitted index). Returns
    ``(e, assigned, nearest_cells, default_nprobe)``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    norm = F.expr(
        "sqrt(aggregate(embedding, 0.0D,"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    # zero vectors (norm 0 — the poison quality_embedding_audit flags)
    # must not become NaN arrays: x/0 would propagate NaN into the
    # KMeans fit and every centroid. They keep their raw (all-zero)
    # coordinates instead and quantize like any other point.
    unit = F.expr(
        "CASE WHEN nrm > 0.0D"
        " THEN transform(embedding, x -> CAST(x AS DOUBLE) / nrm)"
        " ELSE transform(embedding, x -> CAST(x AS DOUBLE)) END"
    )
    e = (
        table(spark, sf_dir, "embeddings")
        .withColumn("nrm", norm)
        .withColumn("vn", unit)
        .select(
            "vec_id",
            "embedding",
            "vn",
            array_to_vector(F.col("vn")).alias("v"),
        )
    )
    n = e.count()
    k, nprobe = _ivf_shape(n)
    # maxIter=10 (default 20): a coarse quantizer only needs rough
    # Voronoi cells — multi-assignment + 37.5% probe fraction absorb
    # boundary noise, and the recall floors (4 corpus regimes,
    # tests/test_vectors.py) hold at 10 iterations while the fit —
    # MLlib's per-iteration job overhead dominates at this scale —
    # drops ~2x.
    kmeans = KMeans(
        k=k, seed=42, maxIter=10, featuresCol="v", predictionCol="cell"
    )
    # Fit on a seeded bounded sample past QUANTIZER_FIT_CAP (see the
    # knob comment): cells stay k = √n over the FULL corpus and every
    # vector is still assigned exactly — only the TRAINING set is
    # sampled, so at/below the cap behavior is bit-identical.
    fit_input = e if n <= QUANTIZER_FIT_CAP else e.sample(
        QUANTIZER_FIT_CAP / n, seed=42
    )
    model = kmeans.fit(fit_input)

    # The fitted centroids live on the driver (k ≈ √n of them) — embed
    # them as ONE literal array of (cell, center) structs so nearest-cell
    # selection is a pure codegen map: per row, score every centroid with
    # a JVM fold, array_sort the (d2, cell) structs (field-order compare
    # = our distance-then-cell tiebreak), slice the head, explode.
    # vec_id is unique, so the previous window formulation was a full
    # corpus shuffle that co-located nothing — this does the identical
    # top-N with ZERO exchanges before the cell join. At extreme k the
    # literal grows O(k·d); past ~10^4 cells a deployment ships the
    # centers as a broadcast numpy matrix inside an Arrow-batched
    # pandas_udf instead — implemented as _nearest_cells_pandas below
    # (same distance-then-cell ordering; assignment identity with this
    # literal kernel is pinned in tests/test_vectors.py).
    centers_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("cell"),
                F.array(*[F.lit(float(x)) for x in c]).alias("center"),
            )
            for i, c in enumerate(model.clusterCenters())
        ]
    )

    def nearest_cells(unit_col: str, top: int):
        scored = F.transform(
            centers_arr,
            lambda s: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(unit_col),
                        s["center"],
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d2"),
                s["cell"].alias("cell"),
            ),
        )
        return F.slice(F.array_sort(scored), 1, top)

    # expose the fitted centers on the kernel so the extreme-k pandas
    # variant (and its identity test) can score the SAME quantizer
    nearest_cells.centers = model.clusterCenters()

    # multi-assignment: each corpus vector enters the inverted lists of
    # its IVF_NASSIGN nearest cells — embarrassingly parallel map pass
    assigned = e.select(
        "vec_id",
        F.col("embedding").alias("b"),
        F.explode(nearest_cells("vn", IVF_NASSIGN)["cell"]).alias("cell"),
    )
    return e, assigned, nearest_cells, nprobe


def _nearest_cells_pandas(spark: SparkSession, centers, top: int):
    """The extreme-k variant of the nearest-cell kernel: past ~10^4
    cells the literal struct array in _ivf_index makes the PLAN O(k·d),
    so the centers ship as ONE torrent-broadcast numpy matrix and each
    Arrow batch scores all cells with a vectorized GEMM expansion
    (||v||² − 2 v·Cᵀ + ||c||², O(batch·k·d) flops but O(k·d) plan
    bytes). Ordering contract matches the literal kernel exactly:
    ascending squared distance, ties broken by ascending cell id
    (numpy stable argsort over cell-ordered columns). Returns a column
    builder: col_name -> array<int> of the ``top`` nearest cell ids.

    Float caveat, mirrored in the identity test: the JVM fold sums
    (x−y)² sequentially while the GEMM expansion rounds differently,
    so assignments could in principle diverge for a point within
    ~1 ulp of a Voronoi boundary — on real corpora (and the fixtures)
    boundary margins are ~1e-2, ten orders above that noise."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centers, dtype=np.float64)
    bc = spark.sparkContext.broadcast(C)

    # no inline type hints: `from __future__ import annotations` would
    # stringify them and pandas_udf's hint parser rejects the strings
    # (same note as udf_pandas_vectorized)
    def _nc_batch(vn):
        Cb = bc.value
        M = np.vstack(vn.to_numpy()).astype(np.float64)
        d2 = (
            (M * M).sum(axis=1)[:, None]
            - 2.0 * (M @ Cb.T)
            + (Cb * Cb).sum(axis=1)[None, :]
        )
        idx = np.argsort(d2, axis=1, kind="stable")[:, :top]
        return pd.Series(list(idx.astype("int32")))

    nc = F.pandas_udf(_nc_batch, "array<int>")
    return lambda unit_col: nc(F.col(unit_col))


def _ivf_candidates(e, assigned, nearest_cells, nprobe: int) -> DataFrame:
    """Deduped (query, candidate) pairs reached through ``nprobe``
    probed cells — the relation whose size is the cost side of the
    recall/cost dial the probe sweep measures."""
    # nearest nprobe cells per query vector, same unit-space kernel
    probes = (
        e.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("a"),
            F.explode(nearest_cells("vn", nprobe)["cell"]).alias("cell"),
        )
    )
    return _ivf_candidates_from_probes(probes, assigned)


def _ivf_candidates_from_probes(probes: DataFrame, assigned) -> DataFrame:
    """Candidate join + dedup over an already-built probe relation
    (query_id, a, cell). Split from ``_ivf_candidates`` (r15) so the
    probe sweep can rank cells ONCE at its widest setting and slice
    per width instead of re-embedding the O(k·d) centroid literal in
    every union branch."""
    return (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumnRenamed("vec_id", "neighbor_id")
        # a candidate sharing ≥2 probed cells with the query arrives
        # once per shared cell — dedup before ranking so row_number
        # never double-counts a neighbor. One explicit hash on
        # query_id serves BOTH the pair-dedup (hash(query_id)
        # satisfies clustering on the superset key) and the top-k
        # window — without it Catalyst exchanges twice.
        .repartition("query_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def _ivf_topk3(candidates: DataFrame) -> DataFrame:
    """Exact cosine top-3 within the candidate set."""
    # dirty-data tolerance on the scale path: a zero-norm side makes
    # the denominator 0, which ANSI mode turns into a job-killing
    # DIVIDE_BY_ZERO — nullif degrades those pairs to NULL cosine
    # (they rank last under DESC NULLS LAST). The brute-force
    # SQL-checked baselines keep the exact kernel; zero vectors are
    # quality_embedding_audit's job to flag upstream.
    cos = F.expr(_DOT) / F.nullif(
        F.expr(_NORM.format(v="a")) * F.expr(_NORM.format(v="b")),
        F.lit(0.0),
    )
    wtop = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(wtop).cast("int"))
        .filter(F.col("rn") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            round4(F.col("cos_raw")).alias("cos_sim"),
            "rn",
        )
    )


@query("sim_topk_ivf_partitioned")
def sim_topk_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the inverted lists as a PARTITIONED TABLE — the storage
    layout `sim_topk_ivf`'s docstring promises for 100 TB, demonstrated
    in-plan instead of narrated: the multi-assigned corpus is written
    ``partitionBy("cell")`` (one directory per coarse cell), and the
    probe relation joins the read-back table on the partition column,
    so Catalyst's dynamic partition pruning restricts the scan to the
    probed cells' directories at runtime. The probe side is a tiny
    filtered relation (2 query vectors x nprobe cells), broadcast so
    the pruning subquery reuses the broadcast exchange — the scan's
    PartitionFilters carry a dynamicpruning expression (pinned in
    tests/test_plans.py), and the probed-cell count is strictly below
    the cell count (pinned in tests/test_vectors.py), i.e. directories
    are genuinely skipped.

    At 100 TB this is the difference between touching ~nprobe/k of the
    corpus bytes and touching all of them: the in-memory variant's
    cell join still SCANS every inverted list before the hash join
    discards them; here pruning stops the bytes at the source. The
    query batch is 2 vectors (vs sim_topk_ivf's 10) so pruning is
    observable at test scale — 10 queries x 37.5% probe width union to
    ~all cells on a √n-cell index, which would demonstrate nothing.

    rows-only by design like the other ANN keys (centroid assignment
    is engine-specific); the correctness gate is IDENTITY with
    sim_topk_ivf restricted to the same query batch (same fitted
    index, same probe widths, same dedup → same candidates → same
    exact top-3), asserted in tests/test_vectors.py."""
    import hashlib
    import os
    import tempfile

    e, assigned, nearest_cells, nprobe = _ivf_index(spark, sf_dir)
    # Deterministic per-sf_dir scratch path: repeated invocations
    # (bench/sweep/layout-smoke run this key several times per session)
    # overwrite the SAME directory instead of accumulating a fresh
    # mkdtemp copy of the multi-assigned corpus per call (r9 ADVICE).
    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = os.path.join(
        tempfile.gettempdir(), f"mrsas_ivf_{tag}", "lists_by_cell"
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(out)
    lists = spark.read.parquet(out)
    probes = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("a"),
        F.explode(nearest_cells("vn", nprobe)["cell"]).alias("cell"),
    )
    candidates = (
        lists.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumnRenamed("vec_id", "neighbor_id")
        # same dedup-then-rank contract as _ivf_candidates: a candidate
        # sharing >=2 probed cells with the query arrives once per cell
        .repartition("query_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _ivf_topk3(candidates)


@query("sim_topk_ivf_probe_sweep")
def sim_topk_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost tuning curve: fit the coarse quantizer ONCE,
    then evaluate the probe widths {1, 2, 4, default} against the
    exact brute-force top-3, reporting per width the candidate volume
    (the cost) and recall@3 (the quality) — the sweep an ANN
    deployment runs before fixing its probe knob, and the measurement
    that justifies IVF_PROBE_FRAC's value in this module. rows-only
    by nature (cell membership is quantizer-internal); the quality
    gate is tests/test_vectors.py: recall non-decreasing in probe
    width and the default width meeting the ≥ 0.9 floor.

    Scale design: the index (KMeans fit + multi-assigned inverted
    lists) is built once and the assigned/corpus relations are
    scoped-persisted across the four evaluations — only the probe
    explode and the candidate join re-run per width, which is exactly
    the marginal cost the curve is measuring. The exact baseline is
    the same bounded 10-query brute-force block as
    sim_topk_neighbors; every per-width row reduces to three 1-row
    aggregates joined by literal width."""
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        scoped_persist,
    )

    e, assigned, nearest_cells, default_nprobe = _ivf_index(spark, sf_dir)
    e = scoped_persist(e)
    assigned = scoped_persist(assigned)

    # exact brute-force top-3 over the same 10-query block (the
    # recall denominator), computed once
    qblock = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("a")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("b")
    )
    cos = F.expr(_DOT) / F.nullif(
        F.expr(_NORM.format(v="a")) * F.expr(_NORM.format(v="b")),
        F.lit(0.0),
    )
    wtop = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    exact3 = scoped_persist(
        qblock.join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )

    widths = sorted({1, 2, 4, default_nprobe})
    # One probe-cell ranking for the WHOLE sweep (r15, guide §2.4):
    # ``nearest_cells`` embeds the fitted centroids as an O(k·d)
    # literal struct array; building probes per width embedded that
    # literal once PER width in the unioned plan — 4x the analysis/
    # codegen cost of the heaviest expression in the query, measured
    # as the dominant share of the sweep's 8.3 s audit time. Rank once
    # at the widest setting, cache the tiny (10-query × max-width)
    # frame, and slice per width: slice(cells, 1, w) of the same
    # ascending-(d2, cell) ordering is exactly nearest_cells(·, w),
    # so candidates, recall and counts are identical (pinned by the
    # recall floors + monotonicity tests in tests/test_vectors.py).
    probe_cells = scoped_persist(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("a"),
            nearest_cells("vn", widths[-1])["cell"].alias("cells"),
        )
    )
    out = None
    for nprobe in widths:
        probes = probe_cells.select(
            "query_id",
            "a",
            F.explode(F.slice("cells", 1, nprobe)).alias("cell"),
        )
        cand = _ivf_candidates_from_probes(probes, assigned)
        ivf3 = _ivf_topk3(cand).select("query_id", "neighbor_id")
        n_cand = cand.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates")
        )
        hits = ivf3.join(
            exact3, ["query_id", "neighbor_id"], "left_semi"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        n_exact = exact3.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact")
        )
        row = (
            n_cand.crossJoin(F.broadcast(hits))
            .crossJoin(F.broadcast(n_exact))
            .select(
                F.lit(nprobe).cast("int").alias("nprobe"),
                F.lit(nprobe == default_nprobe).alias("is_default"),
                "n_candidates",
                "n_hits",
                "n_exact",
                round4(
                    F.col("n_hits").cast("double") / F.col("n_exact")
                ).alias("recall_at_3"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "multimodal_columns",
    oracle=f"""
    WITH b AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT d.doc_id, d.lang, d.n_chars, a.label,
           FLOOR({_DCOS} * 10000 + 0.5) / 10000 AS cos_to_query
    FROM documents d
    JOIN embeddings a ON a.vec_id = d.doc_id
    CROSS JOIN b
    WHERE d.lang IN ('en', 'de')
    ORDER BY {_DCOS} DESC, d.doc_id ASC
    LIMIT 20
    """,
)
def multimodal_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality row: text metadata ⋈ vector column, filtered by
    lang, ranked by cosine to a fixed query vector (vec_id 0). The
    embeddings join is keyed doc_id = vec_id; the 1-row query block is
    a broadcast cross join."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("b"))
    a = e.select("vec_id", F.col("label").alias("label"), F.col("embedding").alias("a"))
    cos = _cos_expr()
    return (
        d.filter(F.col("lang").isin("en", "de"))
        .join(a, d.doc_id == a.vec_id)
        .crossJoin(F.broadcast(qv))
        .withColumn("cos_raw", cos)
        .orderBy(F.col("cos_raw").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "label",
            round4(F.col("cos_raw")).alias("cos_to_query"),
        )
    )


# Centroid-assignment folds: vector and centroid are both double
# arrays; all folds are in-order (bit-identical cross-engine).
_CDOT = (
    "aggregate(zip_with(v, cvec, (x, y) -> x * y), 0.0D,"
    " (acc, t) -> acc + t)"
)
_CNORM = (
    "sqrt(aggregate(transform({v}, x -> x * x), 0.0D, (acc, u) -> acc + u))"
)
_DUCK_CDOT = (
    f"list_reduce(list_transform({_DRANGE},"
    " i -> e.v[i] * c.cvec[i]), (x, y) -> x + y)"
)
_DUCK_CNORM = (
    "sqrt(list_reduce(list_transform({v}, x -> x * x), (p, q) -> p + q))"
)


@query(
    "embedding_centroid_assign",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    dims AS (SELECT unnest({_DRANGE}) AS pos),
    pe AS (
        SELECT label, pos, FLOOR(AVG(v[pos]) * 10000 + 0.5) / 10000 AS c
        FROM e CROSS JOIN dims GROUP BY label, pos
    ),
    cent AS (SELECT label AS cand, list(c ORDER BY pos) AS cvec
             FROM pe GROUP BY label),
    scored AS (
        SELECT e.vec_id, e.label, c.cand,
               {_DUCK_CDOT} / ({_DUCK_CNORM.format(v='e.v')}
                               * {_DUCK_CNORM.format(v='c.cvec')}) AS sim
        FROM e CROSS JOIN cent c
    ),
    best AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cand) AS rn
        FROM scored
    )
    SELECT vec_id, label, cand AS assigned_label,
           label = cand AS is_match,
           FLOOR(sim * 10000 + 0.5) / 10000 AS cos_sim
    FROM best WHERE rn = 1
    """,
)
def embedding_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification: per-label mean centroids, then
    every vector assigned to its highest-cosine centroid — the cluster
    -assignment step of IVF indexing and the cheapest embedding
    classifier (also the standard embedding-drift probe: is_match
    rate falling means labels and geometry are diverging).

    Scale design: centroids are one posexplode + two aggregates
    (state = n_labels × dims, independent of corpus size), collapsed
    to a SINGLE-ROW candidate array and broadcast back; the argmax is
    then a row-local ``array_min`` over (-sim, cand) structs computed
    entirely inside codegen — ZERO shuffles touch the corpus. (The
    previous formulation windowed over vec_id, a unique key, which
    hash-exchanged every corpus row × n_labels candidates just to
    pick a per-row max — the round-6 degenerate-window audit removed
    that class everywhere.) Centroid components are rounded to 4 dp
    on BOTH engines before scoring so cross-partition summation
    order cannot leak into the argmax; ties break on label order
    (struct compare: -sim ascending = sim descending, then cand
    ascending). NULL sims (a zero-norm centroid or vector divides by
    zero) are coalesced to +inf in the sort key so they rank LAST,
    matching the oracle's default NULLS-LAST under ORDER BY sim DESC
    — struct comparison would otherwise sort a NULL field FIRST and
    hand the assignment to the degenerate centroid."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    pe = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(round4(F.avg("x")).alias("c"))
    )
    cent = (
        pe.groupBy(F.col("label").alias("cand"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cand", F.expr("transform(pc, r -> r.c)").alias("cvec"))
    )
    cent_arr = cent.agg(
        F.collect_list(F.struct("cand", "cvec")).alias("cands")
    )

    def _sim(s):
        dot = F.aggregate(
            F.zip_with(F.col("v"), s["cvec"], lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, u: acc + u,
        )
        nv = F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, u: acc + u,
            )
        )
        nc = F.sqrt(
            F.aggregate(
                F.transform(s["cvec"], lambda x: x * x),
                F.lit(0.0),
                lambda acc, u: acc + u,
            )
        )
        return dot / (nv * nc)

    scored = F.transform(
        F.col("cands"),
        lambda s: F.struct(
            F.coalesce(-_sim(s), F.lit(float("inf"))).alias("negsim"),
            s["cand"].alias("cand"),
        ),
    )
    return (
        e.crossJoin(F.broadcast(cent_arr))
        .withColumn("best", F.array_min(scored))
        .select(
            "vec_id",
            "label",
            F.col("best.cand").alias("assigned_label"),
            (F.col("label") == F.col("best.cand")).alias("is_match"),
            # winner with coalesced +inf key = every sim was NULL for
            # this row; surface NULL like the oracle, not -inf
            F.when(
                F.col("best.negsim") == F.lit(float("inf")), F.lit(None)
            )
            .otherwise(round4(-F.col("best.negsim")))
            .alias("cos_sim"),
        )
    )


@query(
    "sim_matmul_topk",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               FLOOR({_DCOS} * 10000 + 0.5) / 10000 AS cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY FLOOR({_DCOS} * 10000 + 0.5) / 10000 DESC,
                            b.vec_id ASC) AS INTEGER) AS rn
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 10
    ) t WHERE rn <= 3
    """,
)
def sim_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-3 neighbors computed as BLOCK MATRIX MULTIPLY —
    the BLAS-backed executor kernel that replaces sim_topk_neighbors'
    per-pair JVM fold when the query block is large enough to amortize
    Arrow transfer (~10-100× on wide blocks). Each Arrow batch of
    candidates becomes one float64 GEMM against the broadcast,
    pre-normalized query matrix; every batch emits only its LOCAL
    top-3 per query (selection under a total order commutes with
    union, so the global window over ≤ 3·batches·|Q| rows reproduces
    exact top-k — nothing near-quadratic ever shuffles).

    The 10-row query block is collected driver-side by design (same
    bounded-block contract as sim_topk_neighbors; at scale it is a
    parameter table, not data). BLAS reorders additions, so scores can
    differ from the oracle's in-order fold in the last ulps: BOTH
    engines therefore rank on the 4-dp-rounded score (neighbor_id
    tiebreak) — the rounding that elsewhere only guards projection here
    defines the ranking, making the GEMM path hash-exact.
    """
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .collect()
    )
    out_schema = "query_id long, neighbor_id long, cos_sim double"
    if not qrows:  # empty corpus/query block: empty result, same schema
        return literal_table(spark, [], out_schema + ", rn int")
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
    qunit = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def gemm_topk(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            b = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            bn = np.linalg.norm(b, axis=1, keepdims=True)
            scores = (b / bn) @ qunit.T  # (batch, |Q|)
            cos4 = np.floor(scores * 10000 + 0.5) / 10000
            out = []
            for j, qid in enumerate(qids):
                mask = ids != qid
                cand_ids, cand = ids[mask], cos4[mask, j]
                # local top-3 under the SAME total order as the global
                # window: rounded score desc, neighbor_id asc
                order = np.lexsort((cand_ids, -cand))[:3]
                for i in order:
                    out.append((qid, cand_ids[i], cand[i]))
            yield pd.DataFrame(
                out, columns=["query_id", "neighbor_id", "cos_sim"]
            )

    local = e.select("vec_id", "embedding").mapInPandas(gemm_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


@query(
    "embedding_random_projection",
    oracle="""
    WITH dims AS (SELECT unnest(range(64)) AS d),
    comps AS (SELECT unnest(range(8)) AS j),
    signs AS (
        SELECT j, d,
               1 - 2 * (CAST('0x' || substr(md5('rp:' || j || ':' || d),
                             1, 15) AS BIGINT) % 2) AS s
        FROM comps CROSS JOIN dims
    ),
    flat AS (
        SELECT e.vec_id, dims.d,
               e.embedding[CAST(dims.d AS INTEGER) + 1] AS v
        FROM embeddings e CROSS JOIN dims
    )
    SELECT f.vec_id, CAST(s.j AS INTEGER) AS component,
           FLOOR(SUM(f.v * s.s) / sqrt(8.0) * 10000 + 0.5) / 10000
               AS value
    FROM flat f JOIN signs s ON s.d = f.d
    GROUP BY f.vec_id, s.j
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: 64-dim embeddings down
    to 8 components via a FIXED ±1 sign matrix (sign(j,d) from the md5
    family, so the "random" matrix is a pure deterministic function —
    reproducible across engines, reruns, and executors with no
    broadcast state at all, which is the point of sign-matrix JL over
    Gaussian). This is the dimensionality-reduction step ahead of the
    ANN keys: distances are preserved within (1±ε) while the LSH/IVF
    index shrinks 8×. Shape: posexplode → join the 512-row sign
    relation (broadcast) → one (vec_id, component) re-aggregation;
    the fan-out is the constant k·d, independent of corpus size.
    Component sums are order-sensitive doubles — projected values take
    the stable 4-dp round; the 1/√k scale uses IEEE-exact sqrt."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id", F.posexplode("embedding").alias("d", "v")
    )
    comps = spark.range(8).select(F.col("id").alias("j"))
    dims = spark.range(64).select(F.col("id").alias("d"))
    signs = comps.crossJoin(dims).select(
        "j",
        "d",
        (
            1
            - 2
            * F.expr(
                "CAST(conv(substring(md5(concat('rp:', j, ':', d)), 1, 15),"
                " 16, 10) AS BIGINT) % 2"
            )
        ).alias("s"),
    )
    return (
        flat.join(F.broadcast(signs), "d")
        .groupBy("vec_id", F.col("j").cast("int").alias("component"))
        .agg(
            round4(F.sum(F.col("v") * F.col("s")) / F.sqrt(F.lit(8.0))).alias(
                "value"
            )
        )
    )


# Squared-euclidean kernel over columns v (point) / cvec (centroid):
# in-order left fold, so both engines produce bit-identical doubles
# (0.0 + x == x exactly, making Spark's explicit zero and DuckDB's
# first-element seed equivalent).
_SQDIST = (
    "aggregate(zip_with(v, cvec, (x, y) -> (x - y) * (x - y)),"
    " 0.0D, (acc, u) -> acc + u)"
)
_DUCK_SQDIST = (
    # plain-concat (not f-string): the {e}/{c} placeholders below are
    # filled by .format at each use site
    "list_reduce(list_transform(" + _DRANGE + ","
    " i -> ({e}.v[i] - {c}.cvec[i]) * ({e}.v[i] - {c}.cvec[i])),"
    " (x, y) -> x + y)"
)


@query(
    "ml_kmeans_lloyd",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id AS cid, v AS cvec FROM e ORDER BY vec_id LIMIT 4
    ),
    d1 AS (
        SELECT e.vec_id, s.cid,
               FLOOR({_DUCK_SQDIST.format(e='e', c='s')} * 10000 + 0.5)
                   / 10000 AS dist
        FROM e CROSS JOIN seeds s
    ),
    a1 AS (
        SELECT vec_id, cid AS c1
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cid) AS rn
              FROM d1)
        WHERE rn = 1
    ),
    pe AS (
        SELECT a1.c1 AS cid, pos,
               FLOOR(AVG(e.v[pos]) * 10000 + 0.5) / 10000 AS c
        FROM e JOIN a1 USING (vec_id)
        CROSS JOIN (SELECT unnest({_DRANGE}) AS pos) dims
        GROUP BY a1.c1, pos
    ),
    cent2 AS (SELECT cid, list(c ORDER BY pos) AS cvec FROM pe
              GROUP BY cid),
    d2 AS (
        SELECT e.vec_id, c.cid,
               FLOOR({_DUCK_SQDIST.format(e='e', c='c')} * 10000 + 0.5)
                   / 10000 AS dist
        FROM e CROSS JOIN cent2 c
    ),
    a2 AS (
        SELECT vec_id, cid AS c2, dist
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cid) AS rn
              FROM d2)
        WHERE rn = 1
    )
    SELECT a1.vec_id, CAST(a1.c1 AS BIGINT) AS c1,
           CAST(a2.c2 AS BIGINT) AS c2,
           a1.c1 != a2.c2 AS moved, a2.dist AS dist2
    FROM a1 JOIN a2 USING (vec_id)
    """,
)
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration of k-means (k = 4), ORACLE-EXACT — the
    iterative-training step the rows-only ML keys (ALS, pipeline,
    IVF's KMeans) can't hash-check, made deterministic end-to-end:
    seeds are the 4 lowest vec_ids, assignment is argmin of the
    in-order squared-distance fold (bit-identical cross-engine, cid
    tie-break), means are re-estimated per (cluster, dim) and ROUNDED
    to 4 dp before re-scoring (embedding_centroid_assign's rule: the
    round fences cross-partition summation order out of the argmin),
    then every point re-assigns. The output pins both assignments and
    which points MOVED — the convergence signal a full trainer loops
    on. Scale shape: centroid state is k × dims regardless of corpus
    size, assignment is a row-local fold against a ≤4-row broadcast,
    and each iteration is one posexplode rollup — Lloyd at 100 TB is
    exactly this plan repeated."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    seeds = (
        e.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cvec"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        # collapse the ≤4 centroids to a single-row candidate array and
        # broadcast it; the per-point argmin is then a row-local
        # array_min over (dist, cid) structs inside codegen — no
        # window on the unique vec_id, so ZERO corpus shuffles (the
        # round-6 degenerate-window audit). struct compare = the same
        # (dist ASC, cid ASC) tiebreak the previous row_number used,
        # on the same 4-dp-rounded distance.
        carr = cents.agg(F.collect_list(F.struct("cid", "cvec")).alias("cands"))
        scored = F.transform(
            F.col("cands"),
            lambda s: F.struct(
                round4(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"), s["cvec"], lambda x, y: (x - y) * (x - y)
                        ),
                        F.lit(0.0),
                        lambda acc, u: acc + u,
                    )
                ).alias("dist"),
                s["cid"].alias("cid"),
            ),
        )
        return (
            e.crossJoin(F.broadcast(carr))
            .withColumn("best", F.array_min(scored))
            .select(
                "vec_id",
                F.col("best.cid").alias("cid"),
                F.col("best.dist").alias("dist"),
            )
        )

    a1 = assign(seeds).select("vec_id", F.col("cid").alias("c1"))
    pe = (
        e.join(a1, "vec_id")
        .select("c1", F.posexplode("v").alias("pos", "x"))
        .groupBy("c1", "pos")
        .agg(round4(F.avg("x")).alias("c"))
    )
    cent2 = (
        pe.groupBy(F.col("c1").alias("cid"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cid", F.expr("transform(pc, r -> r.c)").alias("cvec"))
    )
    a2 = assign(cent2).select(
        "vec_id", F.col("cid").alias("c2"), "dist"
    )
    return a1.join(a2, "vec_id").select(
        "vec_id",
        F.col("c1").cast("bigint").alias("c1"),
        F.col("c2").cast("bigint").alias("c2"),
        (F.col("c1") != F.col("c2")).alias("moved"),
        F.col("dist").alias("dist2"),
    )


@query(
    "quality_embedding_audit",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, len(embedding) AS dim,
               sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (p, q) -> p + q)) AS norm
        FROM embeddings
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN dim != 64 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bad_dim,
           CAST(SUM(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_vectors,
           FLOOR(MIN(norm) * 10000 + 0.5) / 10000 AS min_norm,
           FLOOR(MAX(norm) * 10000 + 0.5) / 10000 AS max_norm,
           FLOOR(AVG(norm) * 10000 + 0.5) / 10000 AS avg_norm
    FROM e GROUP BY label
    """,
)
def quality_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health audit per label: dimension-constancy
    violations, zero vectors (cosine against them is NaN — they
    poison every similarity key upstream), and the norm distribution
    (a collapsed or exploding norm band is the first symptom of a
    bad encoder export or a mixed-model table). This is the DQ gate
    the entire similarity tier (sim_*, dedup_embedding_cosine, IVF,
    kmeans) should run behind; the relational-table twins are
    quality_null_profile / quality_expectation_suite. Norms are
    in-order JVM folds (bit-identical cross-engine, the vector.py
    kernel contract); the zero test compares the EXACT norm against
    0 — no epsilon, because a true zero vector has a true zero norm
    in IEEE. One narrow map + one O(labels) rollup."""
    e = table(spark, sf_dir, "embeddings").select(
        "label",
        F.size("embedding").alias("dim"),
        F.sqrt(
            F.expr(
                "aggregate(transform(embedding,"
                " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
                " 0.0D, (acc, u) -> acc + u)"
            )
        ).alias("norm"),
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("dim") != 64, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bad_dim"),
        F.sum(F.when(F.col("norm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_vectors"),
        round4(F.min("norm")).alias("min_norm"),
        round4(F.max("norm")).alias("max_norm"),
        round4(F.avg("norm")).alias("avg_norm"),
    )
