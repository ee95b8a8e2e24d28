"""Partition-independence and rewrite-equivalence invariants.

These pin the two properties the engine's scale story leans on hardest:
(1) results must not change when the physical partitioning changes
    (what a 1000-executor cluster does to every query), and
(2) optimized rewrites (binned range join) must be result-identical to
    their naive formulations on data they were never tuned against.
"""

from __future__ import annotations

import pytest

import random

from pyspark.sql import functions as F

from movierecommender_sentimentanalysissytem_spark import registry
from tests.conftest import SF_SMALL

QS = registry.queries()


def test_hash_sample_membership_is_partition_independent(spark):
    """The hash-keyed sample must pick the IDENTICAL row set no matter
    how the input is partitioned — the property seeded `.sample` lacks
    and the reason the hash formulation exists."""
    base = {
        (r.l_orderkey, r.l_linenumber)
        for r in QS["sample_deterministic"](spark, SF_SMALL).collect()
    }
    assert base  # non-empty sample

    # same filter applied after violent repartitioning
    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    li = table(spark, SF_SMALL, "lineitem").repartition(37, "l_partkey")
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('smp:', l_orderkey, ':',"
        " l_linenumber)), 1, 15), 16, 10) AS BIGINT) % 100"
    )
    repart = {
        (r.l_orderkey, r.l_linenumber)
        for r in li.filter(bucket < 10)
        .select("l_orderkey", "l_linenumber")
        .collect()
    }
    assert repart == base


@pytest.mark.slow
def test_binned_range_join_matches_naive_on_random_data(spark):
    """Property check on data the operator was never tuned against:
    the bucket±2 overcover must reproduce the naive theta join exactly,
    including values straddling bucket boundaries."""
    rng = random.Random(7)
    n = 400
    band = 0.1
    # cluster values tightly so many pairs exist AND many sit exactly
    # on bucket edges (k/10 values land on boundaries by construction)
    vals = [
        (i, round(rng.choice([k / 10 for k in range(50)]) + rng.random() * 0.05, 6))
        for i in range(n)
    ]
    df = spark.createDataFrame(vals, "event_id long, value double")

    naive = {
        (r.a, r.b)
        for r in df.alias("x")
        .join(
            df.alias("y"),
            (F.col("x.event_id") < F.col("y.event_id"))
            & (F.abs(F.col("x.value") - F.col("y.value")) <= band),
        )
        .select(F.col("x.event_id").alias("a"), F.col("y.event_id").alias("b"))
        .collect()
    }

    probe = df.select(
        F.col("event_id").alias("b"),
        F.col("value").alias("vb"),
        F.floor(F.col("value") / band).alias("bucket"),
    )
    build = df.select(
        F.col("event_id").alias("a"),
        F.col("value").alias("va"),
        F.explode(
            F.array(*[F.floor(F.col("value") / band) + d for d in range(-2, 3)])
        ).alias("bucket"),
    )
    binned = {
        (r.a, r.b)
        for r in build.join(probe, "bucket")
        .filter(
            (F.col("a") < F.col("b"))
            & (F.abs(F.col("va") - F.col("vb")) <= band)
        )
        .select("a", "b")
        .collect()
    }
    assert binned == naive
    assert len(naive) > 100  # the dataset actually exercises the band


def test_skyline_two_level_matches_naive_on_ties(spark):
    """Skyline on adversarial data: duplicate points, price ties with
    different sizes, size ties with different prices — the two-level
    bucketed reduction must equal the quadratic definition exactly."""
    rng = random.Random(11)
    pts = [(float(rng.randint(0, 9)), rng.randint(1, 6)) for _ in range(300)]
    pts += [(5.0, 3), (5.0, 3), (9.0, 1), (9.0, 6), (0.0, 1)]  # ties/dupes
    df = spark.createDataFrame(pts, "price double, size int")

    from movierecommender_sentimentanalysissytem_spark.operators.statistics import (
        skyline_pareto,
    )
    from pyspark.sql.window import Window

    # naive quadratic definition
    distinct = {(p, s) for p, s in pts}
    naive = {
        (p, s)
        for (p, s) in distinct
        if not any(
            bp >= p and bs <= s and (bp > p or bs < s) for (bp, bs) in distinct
        )
    }

    d = df.distinct().withColumn("bkt", F.pmod(F.hash("price", "size"), F.lit(8)))
    w_local = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("price"), F.asc("size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        d.withColumn("m", F.min("size").over(w_local))
        .filter(F.col("m").isNull() | (F.col("m") > F.col("size")))
        .drop("m", "bkt")
    )
    w_glob = Window.orderBy(F.desc("price"), F.asc("size")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    two_level = {
        (r.price, r.size)
        for r in local.withColumn("m", F.min("size").over(w_glob))
        .filter(F.col("m").isNull() | (F.col("m") > F.col("size")))
        .collect()
    }
    assert two_level == naive


def test_triangle_degree_orientation_matches_bruteforce(spark):
    """Triangle count with degree orientation on a handcrafted graph
    with a hub vertex (worst case for id-ordered counting): K4 (4
    triangles) + a 5-spoke star on the hub (0 triangles) + one
    pendant triangle sharing the hub."""
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4 -> 4 triangles
        (1, 10), (1, 11), (1, 12), (1, 13), (1, 14),      # star on hub 1
        (10, 11),                                          # closes ONE triangle
    ]
    und = spark.createDataFrame(edges, "a int, b int")
    deg = (
        und.select(F.col("a").alias("x"))
        .unionAll(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("x").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("x").alias("b"), F.col("d").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oe = (
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    w1 = oe.select(F.col("u").alias("wu"), F.col("v").alias("wm"))
    w2 = oe.select(F.col("u").alias("wm"), F.col("v").alias("wv"))
    wedges = w1.join(w2, "wm").select("wu", "wv")
    n = (
        wedges.join(oe, (wedges.wu == oe.u) & (wedges.wv == oe.v), "left_semi")
        .count()
    )
    assert n == 5  # 4 in K4 + 1 via the hub star edge


def test_prefix_sum_sharding_is_bucket_width_independent(spark):
    """The two-pass distributed prefix sum must produce the identical
    global shard assignment for ANY order-aligned bucketing — the
    property that lets the bucket count track the cluster size."""
    from pyspark.sql.window import Window as W

    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    d = table(spark, SF_SMALL, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )

    def shards(bucket_width: int) -> dict:
        b = d.withColumn("bkt", F.floor(F.col("doc_id") / bucket_width))
        w_local = (
            W.partitionBy("bkt")
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        local = b.withColumn(
            "lb", F.coalesce(F.sum("n_words").over(w_local), F.lit(0))
        )
        totals = b.groupBy("bkt").agg(F.sum("n_words").alias("tot"))
        w_bkt = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
        offs = totals.withColumn(
            "off", F.coalesce(F.sum("tot").over(w_bkt), F.lit(0))
        ).select("bkt", "off")
        return {
            r.doc_id: (r.lb + r.off) // 4096
            for r in local.join(F.broadcast(offs), "bkt").collect()
        }

    assert shards(1000) == shards(37)


def test_binned_jaccard_blocking_equals_naive_inequality_join(spark):
    """The (lang, length-bin) equi-join rewrite of dedup_ngram_jaccard
    must produce the IDENTICAL candidate pair set as the naive
    lang-equal + |dn_chars| <= 30 inequality join — including docs
    sitting exactly on bin boundaries and exactly 30 chars apart."""
    rng = random.Random(7)
    rows = [
        # cluster lengths around bin edges (width 30) to stress the
        # boundary cases: 29/30/31, 59/60/61, plus random fill
        (i, rng.choice(["en", "de"]), n)
        for i, n in enumerate(
            [29, 30, 31, 59, 60, 61, 89, 90, 0, 1]
            + [rng.randint(0, 200) for _ in range(60)]
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    naive = {
        (r.a, r.b)
        for r in df.alias("x")
        .join(
            df.alias("y"),
            (F.col("x.lang") == F.col("y.lang"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.abs(F.col("x.n_chars") - F.col("y.n_chars")) <= 30),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .collect()
    }
    binned = df.withColumn("bin", F.floor(F.col("n_chars") / F.lit(30)))
    a = binned.select(
        F.col("doc_id").alias("a"),
        F.col("lang").alias("lang_a"),
        F.col("n_chars").alias("nc_a"),
        F.explode(
            F.array(F.col("bin") - 1, F.col("bin"), F.col("bin") + 1)
        ).alias("pbin"),
    )
    b = binned.select(
        F.col("doc_id").alias("b"),
        F.col("lang").alias("lang_b"),
        F.col("n_chars").alias("nc_b"),
        F.col("bin").alias("pbin_b"),
    )
    got = {
        (r.a, r.b)
        for r in a.join(
            b,
            (F.col("pbin") == F.col("pbin_b"))
            & (F.col("lang_a") == F.col("lang_b"))
            & (F.col("a") < F.col("b"))
            & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 30),
        )
        .select("a", "b")
        .collect()
    }
    assert got == naive


def test_windowed_lsh_pairs_equal_naive_collect_list_form(spark):
    """The bounded-state pair generator (window n/hub/members + hub star
    pairs) must emit the IDENTICAL pair multiset as the naive
    collect-the-whole-bucket formulation, across small buckets, buckets
    exactly at the cap, and oversized buckets."""
    from movierecommender_sentimentanalysissytem_spark.functions.dedup import (
        LSH_BUCKET_CAP,
        _lsh_candidate_pairs,
    )

    rng = random.Random(13)
    rows = []
    # bucket sizes: 1 (dropped), 2, cap, cap+1, 3*cap
    for band, size in [(1, 1), (1, 2), (2, LSH_BUCKET_CAP),
                       (3, LSH_BUCKET_CAP + 1), (4, 3 * LSH_BUCKET_CAP)]:
        ids = rng.sample(range(100_000), size)
        rows += [(i, band, f"k{band}", [i, i % 7]) for i in ids]
    bands = spark.createDataFrame(
        rows, "doc_id long, band_id int, band_key string, hvals array<int>"
    )
    out = _lsh_candidate_pairs(bands).collect()
    got = sorted((r.doc_a, r.doc_b) for r in out)
    # every pair carries both members' payloads
    assert all(
        r.sh_a == [r.doc_a, r.doc_a % 7] and r.sh_b == [r.doc_b, r.doc_b % 7]
        for r in out
    )
    all_pairs = """
        flatten(transform(sequence(1, size(ids) - 1),
            i -> transform(slice(ids, i + 1, size(ids) - i),
                x -> named_struct('doc_a', element_at(ids, i), 'doc_b', x))))
    """
    star = """
        transform(slice(ids, 2, size(ids) - 1),
            x -> named_struct('doc_a', element_at(ids, 1), 'doc_b', x))
    """
    naive = sorted(
        (r.doc_a, r.doc_b)
        for r in bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    f"CASE WHEN size(ids) <= {LSH_BUCKET_CAP} THEN {all_pairs} "
                    f"ELSE {star} END"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .collect()
    )
    assert got == naive


def test_lsh_pairs_band_row_uniqueness_contract(spark):
    """_lsh_candidate_pairs documents an input contract: band rows are
    unique per (doc_id, band_id, band_key). Two pins:

    1. The real producer (signature posexplode in dedup_near_minhash)
       satisfies it — one row per doc per band, ever.
    2. The documented divergence under contract VIOLATION: no row
       pairs with its own doc_id, so a duplicated row yields no
       self-pair (a duplicated hub is dropped by the star branch), while
       its other pairs still repeat as in the naive form. This is the
       exact behavior the docstring promises."""
    from movierecommender_sentimentanalysissytem_spark.functions.dedup import (
        LSH_BUCKET_CAP,
        _lsh_candidate_pairs,
    )

    # Pin 2: violate the contract deliberately in an oversized bucket.
    size = LSH_BUCKET_CAP + 2
    rows = [(i, 1, "k", [i]) for i in range(size)]
    rows.append((0, 1, "k", [0]))      # duplicated HUB row (min doc_id)
    rows.append((5, 1, "k", [5]))      # duplicated non-hub row
    bands = spark.createDataFrame(
        rows, "doc_id long, band_id int, band_key string, hvals array<int>"
    )
    got = sorted(
        (r.doc_a, r.doc_b) for r in _lsh_candidate_pairs(bands).collect()
    )
    # Star pairs hub→member per ROW: non-hub dup emits twice, hub dup
    # contributes nothing (doc_id == hub is excluded), no self-pair.
    want = sorted(
        [(0, i) for i in range(1, size)] + [(0, 5)]
    )
    assert got == want
    assert (0, 0) not in got

    # The same violation in a bucket within the cap: each row pairs with
    # every larger member, so the duplicate's pairs repeat (as in the
    # naive all-pairs form) but it never pairs with itself.
    rows = [(i, 2, "s", [i]) for i in range(5)] + [(2, 2, "s", [2])]
    bands = spark.createDataFrame(
        rows, "doc_id long, band_id int, band_key string, hvals array<int>"
    )
    got = sorted(
        (r.doc_a, r.doc_b) for r in _lsh_candidate_pairs(bands).collect()
    )
    want = sorted(
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(0, 2), (1, 2), (2, 3), (2, 4)]
    )
    assert got == want


# Every literal filter constant whose semantics depend on the fixture
# data domain, with its use sites. A driver fixture regeneration that
# shrinks (or explodes) a column's domain must fail HERE, loudly,
# instead of silently turning a selective filter into a no-op (it
# happened once: events.user_id shipped as 0..149 at sf0.01, making a
# historical `user_id <= 200` select everything).
# (table, column, constant, strict_upper, use sites)
FIXTURE_DOMAIN_CONSTANTS = [
    ("events", "user_id", 10, True,
     "statistics.win_rolling_distinct, udfs.udtf_table_argument"),
    ("documents", "doc_id", 50, True,
     "udfs.udf_python_scalar, scalar.fn_string_regexp"),
    ("documents", "doc_id", 100, True,
     "udfs.udf_pandas_vectorized, scalar.fn_hash"),
    ("documents", "doc_id", 200, True,
     "udfs.udf_arrow_optimized, text_analysis.text_pii_redaction"),
    ("embeddings", "vec_id", 10, True,
     "vector.sim_topk_neighbors, vector.sim_topk_ivf query blocks"),
    ("embeddings", "vec_id", 2, True,
     "vector.sim_topk_ivf_partitioned 2-query probe batch (small so "
     "partition pruning is observable — 10 queries union to ~all cells)"),
    ("embeddings", "vec_id", 0, False,
     "vector.multimodal_columns fixed query vector"),
]


def test_fixture_filter_constants_inside_live_domain(spark):
    """Each constant must select a NON-EMPTY, PROPER subset of its
    column at every fixture SF the harness exercises (strict_upper
    rows; equality anchors like vec_id == 0 just need membership).
    Checked via the same table() loader the queries use."""
    import duckdb

    from tests.conftest import SF_ORACLE, SF_SMALL

    failures = []
    for sf_dir in (SF_SMALL, SF_ORACLE, "/root/testdata/sf0.1"):
        domains = {}
        for tbl, col, const, strict, sites in FIXTURE_DOMAIN_CONSTANTS:
            if (tbl, col) not in domains:
                domains[(tbl, col)] = duckdb.sql(
                    f"SELECT MIN({col}), MAX({col}) "
                    f"FROM '{sf_dir}/{tbl}.parquet'"
                ).fetchone()
            mn, mx = domains[(tbl, col)]
            ok = mn <= const < mx if strict else mn <= const <= mx
            if not ok:
                failures.append(
                    f"{sf_dir} {tbl}.{col} domain [{mn}, {mx}] vs "
                    f"constant {const} (used by: {sites})"
                )
    assert not failures, "\n".join(failures)


def test_fixture_domain_list_matches_source():
    """The FIXTURE_DOMAIN_CONSTANTS registry itself must not go stale:
    every (column op constant) literal found in the package source must
    be listed above, so a new fixture-coupled constant cannot be added
    without a domain pin."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / (
        "movierecommender_sentimentanalysissytem_spark"
    )
    pat = re.compile(
        r"(user_id|doc_id|vec_id)[\"']?\)?\s*(?:<=|<|==)\s*(\d+)"
    )
    found = set()
    for py in pkg.rglob("*.py"):
        for m in pat.finditer(py.read_text()):
            found.add((m.group(1), int(m.group(2))))
    listed = {(c, k) for _, c, k, _, _ in FIXTURE_DOMAIN_CONSTANTS}
    unlisted = found - listed
    assert not unlisted, (
        f"fixture-coupled constants missing a domain pin: {unlisted}"
    )


@pytest.mark.slow
def test_threshold_coupled_keys_nonempty_at_oracle_sf(spark):
    """Several round-5 keys couple a semantic threshold to the fixture
    distribution (confidence >= 0.2, co-buy count >= 5, Levenshtein
    <= 3, grid radius 2, PMI vocabulary top-30). A fixture
    regeneration could silently empty these results while the
    hash-vs-oracle check stays green (both sides equally empty) —
    coverage would thin without a red signal. Pin non-emptiness at the
    oracle SF so the failure mode is loud instead. Each query takes a
    few seconds."""
    from tests.conftest import SF_ORACLE

    for key in (
        "rec_association_rules",
        "join_fuzzy_levenshtein",
        "geo_grid_proximity_join",
        "text_keyword_cooccurrence",
        "rec_multihop_expansion",
        "maintenance_snapshot_diff",
        "timeseries_rate_spike",
        "sample_weighted_bernoulli",
        "set_except_distinct",
        "rec_cold_start_backfill",
    ):
        n = QS[key](spark, SF_ORACLE).count()
        assert n > 0, f"{key} returned 0 rows at {SF_ORACLE}"
    # join_full_outer_using's high-value bar (value > 180) is
    # calibrated so genuinely ONE-SIDED days exist — without them the
    # full outer degenerates to an inner join and the key's semantics
    # go untested while both engines stay green.
    one_sided = (
        QS["join_full_outer_using"](spark, SF_ORACLE)
        .filter("click_side_missing OR purchase_side_missing")
        .count()
    )
    assert one_sided > 0, "no one-sided days at the oracle SF"
