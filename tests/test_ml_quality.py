"""Model-quality floors for the MLlib workflows (the archetype's
headline metrics: ALS RMSE, sentiment accuracy)."""

from __future__ import annotations

from pyspark.sql import functions as F

from movierecommender_sentimentanalysissytem_spark import registry
from movierecommender_sentimentanalysissytem_spark.sources.tables import table
from perfbench.probes import SparkProbes
from tests.conftest import SF_SMALL

QS = registry.queries()


import pytest

# Heavyweight evidence tier: quality sweeps / scaled corpora /
# multi-second Spark jobs. Fast iteration path: pytest -m "not slow".
pytestmark = pytest.mark.slow


def test_als_recommendations_shape(spark):
    recs = QS["ml_als_recommend"](spark, SF_SMALL)
    per_user = recs.groupBy("user").count().agg(F.min("count"), F.max("count")).collect()[0]
    assert per_user[0] == per_user[1] == 5  # exactly 5 recs per user


def test_als_model_rmse_reasonable(spark):
    """ALS must beat the PER-ITEM-MEAN predictor on its own training
    data — the strongest degenerate baseline (one constant per item is
    exactly what a broken factorization collapses to), strengthened
    from the global-mean floor per the r13 verdict. Baseline ladder
    measured at SF_SMALL: global-mean 14.165, per-user-mean 13.992,
    per-item-mean 13.864, ALS 8.610 at 10 blocks, 8.348 at 8 and 8.648
    at 1 — a 37-40% margin, so the stronger floor carries no flake
    risk. Catches broken wiring,
    seeds, or degenerate convergence that the global-mean bar would
    let through. The model is the one ml_als_recommend serves
    (ml.pipelines.als_estimator), blocked to min(10, task slots,
    lineitem read splits): one split, so one block, at SF_SMALL."""
    from pyspark.sql.window import Window

    from movierecommender_sentimentanalysissytem_spark.ml.pipelines import (
        _ratings,
        als_estimator,
    )

    ratings = _ratings(spark, SF_SMALL)
    model = als_estimator(spark, SF_SMALL).fit(ratings)
    splits = table(spark, SF_SMALL, "lineitem").rdd.getNumPartitions()
    blocks = min(10, spark.sparkContext.defaultParallelism, splits)
    assert blocks == 1
    assert model.userFactors.rdd.getNumPartitions() == blocks
    pred = model.transform(ratings)
    err = pred.select(
        F.pow(F.col("rating") - F.col("prediction"), 2).alias("se"),
        F.pow(
            F.col("rating")
            - F.avg("rating").over(Window.partitionBy("item")),
            2,
        ).alias("se_item_mean"),
    ).agg(
        F.sqrt(F.avg("se")).alias("rmse"),
        F.sqrt(F.avg("se_item_mean")).alias("rmse_item_mean"),
    ).collect()[0]
    assert err.rmse < err.rmse_item_mean, (err.rmse, err.rmse_item_mean)


def test_als_blocks_capped_at_slots_for_a_many_split_input(spark, tmp_path):
    """A lineitem that reads as at least as many splits as the session
    has task slots gets min(10, defaultParallelism) blocks, the cap the
    one-file fixtures never reach. Sizing the estimator launches no
    Spark job."""
    import pyarrow.parquet as pq

    from movierecommender_sentimentanalysissytem_spark.ml.pipelines import (
        als_estimator,
    )

    slots = spark.sparkContext.defaultParallelism
    li = pq.read_table(f"{SF_SMALL}/lineitem.parquet")
    out = tmp_path / "lineitem.parquet"
    out.mkdir()
    step = -(-li.num_rows // slots)
    for i in range(slots):
        pq.write_table(li.slice(i * step, step), out / f"part-{i:03d}.parquet")
    # the first read infers the schema (one job); later reads reuse it
    assert table(spark, str(tmp_path), "lineitem").rdd.getNumPartitions() >= slots
    probes = SparkProbes(spark)
    j0 = probes.jobs()
    als = als_estimator(spark, str(tmp_path))
    assert probes.jobs() == j0
    assert als.getNumUserBlocks() == als.getNumItemBlocks() == min(10, slots)


def test_sentiment_pipeline_beats_chance(spark):
    preds = QS["ml_sentiment_pipeline"](spark, SF_SMALL)
    acc = preds.agg(
        F.avg((F.col("label") == F.col("prediction")).cast("double"))
    ).collect()[0][0]
    # binary task on training data with TF-IDF features — should be
    # well above the majority-class floor
    assert acc > 0.6, acc


def test_sentiment_pipeline_survives_observe_poisoned_session(spark):
    """Regression pin (r14): Spark 4's SparkSession holds a LAZY
    non-Serializable ObservationManager — after any observe() query
    initializes it, a task closure embedding an MLlib model whose
    training summary references the session dies with 'Task not
    serializable'. ml_sentiment_pipeline must therefore strip the
    summary before transform; this test runs an observe key FIRST and
    then fully materializes the pipeline in the same session (the
    failing path needs a real job, not just collect-side planning)."""
    QS["observe_metrics"](spark, SF_SMALL).write.format("noop").mode(
        "overwrite"
    ).save()
    QS["ml_sentiment_pipeline"](spark, SF_SMALL).write.format("noop").mode(
        "overwrite"
    ).save()


def test_dimsum_estimator_recovers_structured_similarity(
    spark, tmp_path_factory
):
    """DIMSUM estimator quality on a corpus with REAL similarity
    structure (the shipped fixtures are near-random — their own exact
    top pairs are 3-user coincidences, so they can't validate an
    estimator). Two disjoint taste groups: every user rates every
    item of their group, so within-group item columns share ~100
    co-raters (exact cosine ≈ 0.97) and cross-group pairs share none.
    Item norms land ≈ 150 > √γ = 100, so the DIMSUM keep-filter is
    ACTIVE (p ≈ 0.67) — this exercises the sampled+unbiased path, not
    the thr=10000 exact degeneration.

    Asserts: (1) the sampled estimator finds every within-group pair
    the exact form finds and nothing cross-group; (2) the unbiased
    estimate tracks the exact cosine (deterministic md5 sampling —
    measured mean error 0.082, worst single pair 0.306 across the 380
    pairs, consistent with the ~0.11 per-pair sampling std at support
    ≈ 44 · keep ≈ 0.44; floors allow mean 0.12 / worst 0.35)."""
    from movierecommender_sentimentanalysissytem_spark import registry

    qs = registry.queries()
    rows_o, rows_l = [], []
    for u in range(200):
        rows_o.append((u, u))
        for item in range(40):
            if item % 2 == u % 2:
                q = 10 + (u * 7 + item * 13) % 11
                rows_l.append((u, item, q))
    out = str(tmp_path_factory.mktemp("dimsum_structured"))
    spark.createDataFrame(
        rows_o, "o_orderkey long, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out}/orders.parquet")
    spark.createDataFrame(
        rows_l, "l_orderkey long, l_partkey long, l_quantity long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    exact = {
        (r.item_a, r.item_b): r.cos_sim
        for r in qs["rec_item_similarity"](spark, out).collect()
    }
    est = {
        (r.item_a, r.item_b): r.cos_est
        for r in qs["rec_item_similarity_dimsum"](spark, out).collect()
    }
    assert set(exact) == set(est), (
        f"pair sets diverge: {len(exact)} exact vs {len(est)} sampled"
    )
    # every pair is within-group (same parity), never cross-group
    assert all((a - b) % 2 == 0 for a, b in est)
    errs = [abs(est[p] - exact[p]) for p in exact]
    mean_err = sum(errs) / len(errs)
    assert mean_err <= 0.12, f"mean estimator error {mean_err:.3f} > 0.12"
    assert max(errs) <= 0.35, f"worst-pair error {max(errs):.3f} > 0.35"


def test_dimsum_live_fixture_drift_pins(spark):
    """Live-fixture pins so future γ/support knob changes can't
    SILENTLY change the DIMSUM survivor set (round-7 verdict item 5).

    Round-8 measurement corrected a round-7 premise: on the live
    fixtures sampling is active on essentially every item column
    (norms average ≈160 vs √γ = 100; only 3/2000 items unsampled at
    sf0.01), so the survivor set is a genuinely sampled estimate and
    pair-set IDENTITY with the exact form does NOT hold (sf0.01:
    275 exact vs 1676 sampled, 45 common; sf0.1: 10 vs 217). What IS
    invariant, and what this test pins at both SFs:

    1. determinism — the md5-gated sampling makes the survivor map a
       pure function of (data, knobs): two runs must agree exactly;
    2. estimator error on the common pairs — measured mean 0.187 /
       max 0.450 at sf0.01 and 0.075 / 0.080 at sf0.1; floors allow
       0.25/0.55 and 0.15/0.20;
    3. survivor-set density — the sampled set sits within a wide but
       bounded band of the exact count (measured 6.1× and 21.7×); a
       γ slip (e.g. √γ 100 → 10 starves support; → 10000 degenerates
       to exact) exits the band at once.
    """
    from tests.conftest import SF_ORACLE, SF_TENTH

    bounds = {
        SF_ORACLE: dict(mean=0.25, mx=0.55, lo=1.0, hi=40.0),
        SF_TENTH: dict(mean=0.15, mx=0.20, lo=1.0, hi=40.0),
    }
    for sf, b in bounds.items():
        exact = {
            (r.item_a, r.item_b): r.cos_sim
            for r in QS["rec_item_similarity"](spark, sf).collect()
        }
        est = {
            (r.item_a, r.item_b): r.cos_est
            for r in QS["rec_item_similarity_dimsum"](spark, sf).collect()
        }
        est2 = {
            (r.item_a, r.item_b): r.cos_est
            for r in QS["rec_item_similarity_dimsum"](spark, sf).collect()
        }
        assert est == est2, f"sampled survivor set not deterministic @ {sf}"
        common = set(exact) & set(est)
        assert common, f"no common pairs @ {sf}"
        errs = [abs(est[p] - exact[p]) for p in common]
        mean_err = sum(errs) / len(errs)
        assert mean_err <= b["mean"], (sf, mean_err)
        assert max(errs) <= b["mx"], (sf, max(errs))
        ratio = len(est) / len(exact)
        assert b["lo"] <= ratio <= b["hi"], (sf, len(exact), len(est))
