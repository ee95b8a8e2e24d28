"""Per-operator unit tests on literal DataFrames + cross-operator
invariants at sf0.001 (SURVEY.md §5.3)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from movierecommender_sentimentanalysissytem_spark import registry
from tests.conftest import SF_SMALL

QS = registry.queries()


def test_session_window_literal(spark):
    """Sessionize semantics on a hand-computed 5-row frame: gaps of
    10 min / 40 min / 5 min / 31 min → sessions {1,1}, {2,3}, {4,5}
    for user 1 (40-min and 31-min gaps split; ties impossible)."""
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return base + datetime.timedelta(minutes=minutes)

    rows = [
        (1, 1, ts(0), 1.0),
        (1, 2, ts(10), 1.0),   # +10min  → same session
        (1, 3, ts(50), 1.0),   # +40min  → new session
        (1, 4, ts(55), 1.0),   # +5min   → same session
        (1, 5, ts(86), 1.0),   # +31min  → new session
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    df = df.withColumn("sec", F.unix_timestamp("ts"))
    from pyspark.sql.window import Window

    worder = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = df.withColumn(
        "new_session",
        F.when(
            F.lag("sec").over(worder).isNull()
            | ((F.col("sec") - F.lag("sec").over(worder)) > 1800),
            1,
        ).otherwise(0),
    )
    wrun = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        flagged.withColumn("session_seq", F.sum("new_session").over(wrun))
        .groupBy("session_seq")
        .agg(F.collect_set("event_id").alias("events"))
        .orderBy("session_seq")
        .collect()
    )
    sessions = [sorted(r.events) for r in out]
    assert sessions == [[1, 2], [3, 4], [5]]


def test_semi_plus_anti_partition(spark):
    """left_semi ∪ left_anti on the same predicate partitions customer."""
    semi = QS["join_left_semi"](spark, SF_SMALL)
    anti = QS["join_left_anti"](spark, SF_SMALL)
    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    c = table(spark, SF_SMALL, "customer")
    o = table(spark, SF_SMALL, "orders")
    all_semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").count()
    assert all_semi + anti.count() == c.count()
    assert semi.count() <= all_semi


def test_rollup_grand_total_matches_global(spark):
    rollup = QS["agg_rollup"](spark, SF_SMALL)
    grand = rollup.filter(F.col("gid") == 3).collect()
    assert len(grand) == 1
    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    assert grand[0]["n"] == table(spark, SF_SMALL, "customer").count()


def test_exceptall_bag_semantics(spark):
    a = spark.createDataFrame([(1,), (1,), (2,)], ["x"])
    b = spark.createDataFrame([(1,)], ["x"])
    out = sorted(r.x for r in a.exceptAll(b).collect())
    assert out == [1, 2]  # bag difference keeps one of the duplicate 1s


def test_minhash_hvals_nonempty_for_every_kept_doc(spark):
    """dedup_near_minhash folds each doc's hvals with aggregate() from
    an all-P init, so an EMPTY hvals would give the sentinel signature
    [P, ..., P] and every such doc would share all band keys. The
    size(w) >= 3 filter rules that out: n >= 3 words give n - 2 >= 1
    shingles. Pinned on edge texts (exactly three tokens, empty tokens
    from repeated, leading or trailing spaces) and on the fixture
    corpus."""
    from movierecommender_sentimentanalysissytem_spark.functions.dedup import (
        _SPARK_HVALS_W,
    )
    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    def hval_sizes(docs):
        return (
            docs.withColumn("w", F.split("text", " "))
            .filter(F.size("w") >= 3)
            .select("text", F.size(F.expr(_SPARK_HVALS_W)).alias("n"))
        )

    edge = spark.createDataFrame(
        [("a b c",), ("a a a",), ("   ",), ("  x",), ("x  ",), ("a  b",),
         ("a b c d e f g h",), ("a b",)],
        "text string",
    )
    # "a b" is dropped by the filter; "a a a" has one distinct shingle
    assert {r.text: r.n for r in hval_sizes(edge).collect()} == {
        "a b c": 1, "a a a": 1, "   ": 1, "  x": 1, "x  ": 1, "a  b": 1,
        "a b c d e f g h": 6,
    }
    lo, kept = hval_sizes(table(spark, SF_SMALL, "documents")).agg(
        F.min("n"), F.count("*")
    ).collect()[0]
    assert kept > 0 and lo >= 1, (lo, kept)


def test_dedup_exact_idempotent(spark):
    once = QS["dedup_exact"](spark, SF_SMALL)
    n = once.count()
    # applying exact dedup to already-unique texts is a fixpoint
    assert once.select("text_md5").distinct().count() == n


def test_topk_never_exceeds_k_per_group(spark):
    topk = QS["win_row_number_topk"](spark, SF_SMALL)
    mx = topk.groupBy("o_custkey").count().agg(F.max("count")).collect()[0][0]
    assert mx <= 3


def test_minhash_pairs_are_near_dups(spark):
    """Every MinHash-surfaced pair must genuinely exceed the Jaccard
    threshold (no false positives survive the verify stage)."""
    pairs = QS["dedup_near_minhash"](spark, SF_SMALL).collect()
    for r in pairs:
        assert r.jaccard >= 0.5


def test_tumbling_window_counts_sum_to_total(spark):
    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    buckets = QS["stream_tumbling_window"](spark, SF_SMALL)
    total = buckets.agg(F.sum("n")).collect()[0][0]
    assert total == table(spark, SF_SMALL, "events").count()


def test_sliding_window_double_counts(spark):
    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    buckets = QS["stream_sliding_window"](spark, SF_SMALL)
    total = buckets.agg(F.sum("n")).collect()[0][0]
    # size 10min / slide 5min → every event in exactly 2 windows
    assert total == 2 * table(spark, SF_SMALL, "events").count()


def test_lsh_bucket_cap_keeps_dup_heavy_corpus_linear(spark):
    """1k identical docs collide into one band bucket per band; the cap
    must emit star pairs (n-1 per bucket), not the quadratic n(n-1)/2."""
    from pyspark.sql import functions as F
    from movierecommender_sentimentanalysissytem_spark.functions.dedup import (
        LSH_BUCKET_CAP,
        _lsh_candidate_pairs,
    )

    n = 1000
    bands = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(1).alias("band_id"),
        F.lit("samekey").alias("band_key"),
        F.array(F.col("id").cast("int")).alias("hvals"),
    )
    pairs = _lsh_candidate_pairs(bands).collect()
    assert n > LSH_BUCKET_CAP  # the cap is actually exercised
    assert len(pairs) == n - 1  # star pairs: linear, not ~500k
    assert all(p.doc_a == 0 for p in pairs)  # bucket-min is the hub
    # below the cap: exact all-pairs
    small = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.lit(1).alias("band_id"),
        F.lit("k").alias("band_key"),
        F.array(F.col("id").cast("int")).alias("hvals"),
    )
    assert len(_lsh_candidate_pairs(small).collect()) == 10


def test_two_pass_ntile_matches_global_window(spark):
    """win_ntile_percent's distributed two-pass rank must reproduce
    Spark's own global-window ntile/percent_rank/cume_dist exactly —
    including the N % 4 != 0 uneven-tile split and tiny-N (< 4 rows)
    edge where some tiles are empty."""
    import tempfile

    from pyspark.sql import Window

    for n in (3, 7, 1000):
        with tempfile.TemporaryDirectory() as tmp:
            spark.range(n).select(
                F.col("id").alias("o_orderkey"),
                # non-monotone price so rank order != insertion order
                ((F.col("id") * 7919) % 104729).cast("double").alias(
                    "o_totalprice"
                ),
                F.lit(1).alias("o_custkey"),
            ).write.parquet(f"{tmp}/orders.parquet")
            got = {
                r.o_orderkey: (r.quartile, r.prank, r.cdist)
                for r in QS["win_ntile_percent"](spark, tmp).collect()
            }
            w = Window.orderBy("o_totalprice", "o_orderkey")
            exp = {
                r.o_orderkey: (r.quartile, r.prank, r.cdist)
                for r in spark.read.parquet(f"{tmp}/orders.parquet")
                .select(
                    "o_orderkey",
                    F.ntile(4).over(w).cast("int").alias("quartile"),
                    F.round(F.percent_rank().over(w), 4).alias("prank"),
                    F.round(F.cume_dist().over(w), 4).alias("cdist"),
                )
                .collect()
            }
            assert got == exp, f"n={n}"


def test_deterministic_mode_tie_break_smallest_value(spark):
    """MODE tie-break on crafted EXACT ties: group 'a' has values tied
    2-2 → the smaller value wins; group 'b' has a strict winner; group
    'c' is a 3-way 1-1-1 tie → smallest again. Native mode() makes no
    such promise, which is why the operator exists."""
    from movierecommender_sentimentanalysissytem_spark.operators.aggregates import (
        deterministic_mode,
    )

    rows = (
        [("a", "y"), ("a", "y"), ("a", "x"), ("a", "x")]      # 2-2 tie
        + [("b", "q"), ("b", "q"), ("b", "p")]                # q wins 2-1
        + [("c", "k"), ("c", "j"), ("c", "m")]                # 1-1-1 tie
    )
    df = spark.createDataFrame(rows, "g string, v string")
    got = {
        (r.g, r.mode_value, r.mode_n)
        for r in deterministic_mode(df, "g", "v").collect()
    }
    assert got == {("a", "x", 2), ("b", "q", 2), ("c", "j", 1)}


def test_interval_overlap_bin_width_invariance(spark):
    """The binned interval-overlap rewrite must produce the IDENTICAL
    pair set for any bin width, equal to the naive theta join —
    including touching intervals (e_a == s_b), nested intervals, point
    intervals, and intervals spanning many bins."""
    from movierecommender_sentimentanalysissytem_spark.operators.joins import (
        _binned_interval_overlap,
    )

    rows = [
        # cust 1: chain of overlaps + one disjoint
        (1, 10, 0, 10), (1, 11, 10, 20),    # touch at day 10 → overlap 1
        (1, 12, 21, 25),                     # disjoint from 11 (gap)
        (1, 13, 2, 100),                     # spans many 30-day bins
        # cust 2: nested + point intervals
        (2, 20, 50, 90), (2, 21, 60, 61),    # nested
        (2, 22, 90, 90),                     # point, touches 20's end
        (2, 23, 91, 91),                     # point, disjoint
        # cust 3: identical intervals
        (3, 30, 5, 6), (3, 31, 5, 6),
    ]
    iv = spark.createDataFrame(rows, "cust long, okey long, s long, e long")

    a, b = iv.alias("a"), iv.alias("b")
    naive = {
        (r.cust, r.order_a, r.order_b, r.overlap_days)
        for r in a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.okey") < F.col("b.okey"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.cust").alias("cust"),
            F.col("a.okey").alias("order_a"),
            F.col("b.okey").alias("order_b"),
            (
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
                + 1
            ).cast("bigint").alias("overlap_days"),
        )
        .collect()
    }
    assert naive  # the fixture actually exercises overlaps

    for w_days in (1, 7, 30, 1000):
        got = {
            (r.cust, r.order_a, r.order_b, r.overlap_days)
            for r in _binned_interval_overlap(iv, w_days).collect()
        }
        assert got == naive, f"w_days={w_days} diverged from naive"


def test_rolling_median_odd_even_frame_edges(spark):
    """Rolling median on a literal frame with hand-computed values —
    exercising the 1-row (odd), 2-row (even, interpolated), and full
    odd/even frames, plus duplicate values inside a frame."""
    from pyspark.sql.window import Window

    from movierecommender_sentimentanalysissytem_spark.operators.statistics import (
        rolling_median_col,
    )

    vals = [5.0, 1.0, 4.0, 4.0, 2.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g int, i int, v double")
    w = (
        Window.partitionBy("g").orderBy("i").rowsBetween(-3, Window.currentRow)
    )
    got = {
        r.i: r.med
        for r in df.select("i", rolling_median_col("v", w).alias("med")).collect()
    }
    assert got == {
        0: 5.0,          # [5]            odd, single row
        1: 3.0,          # [1,5]          even, (1+5)/2
        2: 4.0,          # [1,4,5]        odd
        3: 4.0,          # [1,4,4,5]      even, duplicates, (4+4)/2
        4: 3.0,          # [1,2,4,4]      frame slides off 5, (2+4)/2
    }


def test_min_label_components_crafted_graphs(spark):
    """Connected components on crafted graphs: a 40-node chain (deep
    diameter — plain min-propagation capped at 10 rounds would label it
    WRONG; pointer jumping converges), a cycle, a star, an isolated
    pair, and self-loop/duplicate edges."""
    from movierecommender_sentimentanalysissytem_spark.functions.dedup import (
        min_label_components,
    )

    edges = []
    # chain 100..139 listed high-to-low so the min label (100) must
    # travel the full 39-hop diameter
    edges += [(i + 1, i) for i in range(100, 139)]
    # cycle 200-201-202-200
    edges += [(200, 201), (201, 202), (202, 200)]
    # star centered high with smaller leaf ids
    edges += [(300, 7), (300, 8), (300, 9)]
    # isolated pair + duplicate edge + self-loop noise
    edges += [(400, 401), (400, 401), (500, 500)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.root for r in min_label_components(df).collect()}

    for n in range(100, 140):
        assert got[n] == 100, f"chain node {n} labelled {got[n]}"
    assert got[200] == got[201] == got[202] == 200
    assert got[300] == got[7] == got[8] == got[9] == 7
    assert got[400] == got[401] == 400
    assert got[500] == 500


def test_min_label_components_raises_when_round_bound_too_small(spark):
    """Exhausting max_rounds without convergence must raise, never
    return silently-wrong labels."""
    import pytest

    from movierecommender_sentimentanalysissytem_spark.functions.dedup import (
        min_label_components,
    )

    edges = [(i + 1, i) for i in range(0, 30)]  # 31-node chain
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not observe convergence"):
        min_label_components(df, max_rounds=2)


def test_min_label_components_holds_one_generation(spark):
    """The loop's early release must keep at most ONE label generation's
    checkpoint RDDs persisted at exit (plus the edge cache), no matter
    how many rounds ran — the ≤1-generation property the docstring and
    SCALE.md claim."""
    from movierecommender_sentimentanalysissytem_spark.functions.dedup import (
        min_label_components,
    )
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        release_scoped_caches,
    )

    release_scoped_caches()
    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    edges = [(i + 1, i) for i in range(100, 140)]  # 6+ rounds
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    labels = min_label_components(df)
    labels.collect()
    # live now: the FINAL generation's checkpoint only (sym + prop are
    # Dataset-unpersisted in the loop; superseded checkpoints released)
    assert jsc.getPersistentRDDs().size() - baseline <= 2
    release_scoped_caches()
    assert jsc.getPersistentRDDs().size() <= baseline


def test_python_datasource_partition_contract():
    """_SeqReader must emit exactly n_parts partitions covering
    [0, n_rows) contiguously for divisible AND non-divisible splits."""
    import pytest

    from movierecommender_sentimentanalysissytem_spark.sources.pysource import (
        _HAS_DS_API,
    )

    if not _HAS_DS_API:
        pytest.skip("Spark 4 DataSource API unavailable")
    from movierecommender_sentimentanalysissytem_spark.sources.pysource import (
        _SeqReader,
    )

    for n_rows, n_parts in ((1000, 4), (1001, 4), (10, 4), (7, 3)):
        parts = _SeqReader(
            {"n_rows": str(n_rows), "n_parts": str(n_parts)}
        ).partitions()
        assert len(parts) == n_parts, (n_rows, n_parts, len(parts))
        assert parts[0].start == 0 and parts[-1].end == n_rows
        for a, b in zip(parts, parts[1:]):
            assert a.end == b.start  # contiguous, no gap/overlap
