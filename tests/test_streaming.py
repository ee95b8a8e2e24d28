"""Batch ↔ streaming parity (SURVEY.md §5.3): the true Structured
Streaming variants must agree with their batch formulations on the
same input."""

from __future__ import annotations

from movierecommender_sentimentanalysissytem_spark import registry
from tests.conftest import SF_SMALL

QS = registry.queries()


import pytest

# Heavyweight evidence tier: quality sweeps / scaled corpora /
# multi-second Spark jobs. Fast iteration path: pytest -m "not slow".
pytestmark = pytest.mark.slow


def test_stream_watermark_matches_batch_windows(spark):
    batch = {
        r.bucket: (r.n, r.total_value)
        for r in QS["stream_tumbling_window"](spark, SF_SMALL).collect()
    }
    stream = {
        r.bucket: (r.n, r.total_value)
        for r in QS["stream_watermark_late"](spark, SF_SMALL).collect()
    }
    # append mode withholds unfinalized trailing windows; everything
    # emitted must match the batch result exactly
    assert stream, "stream produced no finalized windows"
    for bucket, agg in stream.items():
        assert batch[bucket] == agg


def test_stream_dedup_matches_batch_counts(spark):
    from pyspark.sql import functions as F

    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    batch = {
        r.event_type: r.n
        for r in table(spark, SF_SMALL, "events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stream = {
        r.event_type: r.n for r in QS["stream_dedup"](spark, SF_SMALL).collect()
    }
    assert stream == batch


def test_stateful_counter_matches_batch_totals(spark):
    from pyspark.sql import functions as F

    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    batch = {
        r.user_id: r.n
        for r in table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # update mode may emit several rows per user; the last emission per
    # user carries the final totals. The memory sink preserves batch
    # order; with AvailableNow single-batch there is exactly one row.
    stream = {
        r.user_id: r.n_events
        for r in QS["stream_stateful_counter"](spark, SF_SMALL).collect()
    }
    assert stream == batch


def test_stream_stream_join_matches_batch_interval_join(spark):
    from pyspark.sql import functions as F

    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    e = table(spark, SF_SMALL, "events").withColumn(
        "ts_s", F.date_trunc("second", F.col("ts"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("ce"),
        F.col("ts_s").alias("ct"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("ve"),
        F.col("ts_s").alias("vt"),
    )
    batch = {
        (r.cu, r.ce, r.ve)
        for r in clicks.join(
            views,
            (F.col("cu") == F.col("vu"))
            & (F.col("vt") >= F.col("ct") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("vt") <= F.col("ct")),
        ).collect()
    }
    stream = {
        (r.user_id, r.click_eid, r.view_eid)
        for r in QS["stream_stream_join"](spark, SF_SMALL).collect()
    }
    assert stream == batch


def test_stream_stream_left_join_emission_rule(spark):
    """Left-outer emission semantics: matched pairs emit uncondition-
    ally; a view emits null-extended ONLY once the final GLOBAL
    watermark (min over both streams of max-event-time − delay) has
    passed the end of its join interval; unmatched views younger than
    that stay in state and do NOT emit when the stream ends."""
    from pyspark.sql import functions as F

    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    e = table(spark, SF_SMALL, "events").withColumn(
        "ts_s", F.date_trunc("second", F.col("ts"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("ce"),
        F.col("ts_s").alias("ct"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("ve"),
        F.col("ts_s").alias("vt"),
    )
    matched = {
        (r.vu, r.ve, r.ce)
        for r in views.join(
            clicks,
            (F.col("vu") == F.col("cu"))
            & (F.col("ct") >= F.col("vt"))
            & (F.col("ct") <= F.col("vt") + F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    }
    wm = min(
        clicks.agg(F.max("ct")).first()[0],
        views.agg(F.max("vt")).first()[0],
    ) - __import__("datetime").timedelta(minutes=10)
    matched_views = {ve for (_, ve, _) in matched}
    expected_nulls = {
        (r.vu, r.ve, None)
        for r in views.collect()
        if r.ve not in matched_views
        and r.vt + __import__("datetime").timedelta(minutes=10) < wm
    }
    young_unmatched = {
        r.ve
        for r in views.collect()
        if r.ve not in matched_views
        and r.vt + __import__("datetime").timedelta(minutes=10) >= wm
    }
    stream = {
        (r.v_user, r.view_eid, r.click_eid)
        for r in QS["stream_stream_left_join"](spark, SF_SMALL).collect()
    }
    assert stream == matched | expected_nulls
    # the withheld set is genuinely non-trivial on this fixture
    assert not {ve for (_, ve, c) in stream if c is None} & young_unmatched


def test_observe_rate_matches_batch_aggregation(spark):
    """stream_observe_rate's progress-harvested metrics must equal the
    same aggregation computed relationally over the static table —
    the observe() fold is sums/mins/maxes, so it is invariant to how
    AvailableNow split the micro-batches."""
    import math

    from pyspark.sql import functions as F

    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    got = QS["stream_observe_rate"](spark, SF_SMALL).collect()
    assert len(got) == 1
    g = got[0]

    e = table(spark, SF_SMALL, "events").withColumn(
        "ts_s", F.date_trunc("second", F.col("ts"))
    )
    b = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_views"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("cents"),
        F.min(F.unix_timestamp("ts_s")).alias("min_ep"),
        F.max(F.unix_timestamp("ts_s")).alias("max_ep"),
        F.date_format(F.min("ts_s"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts_s"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    ).collect()[0]

    assert (g.n_rows, g.n_views, g.value_cents) == (
        b.n_rows,
        b.n_views,
        b.cents,
    )
    assert (g.min_ts, g.max_ts) == (b.min_ts, b.max_ts)
    rate = b.n_rows / max(1.0, float(b.max_ep - b.min_ep))
    assert g.rows_per_event_sec == math.floor(rate * 10000 + 0.5) / 10000


def test_stream_source_accepts_directory_shaped_events(spark, tmp_path_factory):
    """The round-9 10x scale smoke caught _events_stream crashing
    (IsADirectoryError) whenever the events table is a DIRECTORY of
    part files — the layout every real corpus has; the fixtures'
    single-file shape had masked it. Pin both shapes: a 3-part
    directory copy of the sf0.001 events must stream to the same
    watermark-finalized windows as the single-file fixture."""
    import os

    from movierecommender_sentimentanalysissytem_spark.sources.tables import table

    out = str(tmp_path_factory.mktemp("events_dir"))
    table(spark, SF_SMALL, "events").repartition(3).write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "events.parquet"))
    parts = [
        f
        for f in os.listdir(os.path.join(out, "events.parquet"))
        if f.endswith(".parquet")
    ]
    assert len(parts) == 3, "fixture staging: expected a 3-part directory"

    single = {
        r.bucket: (r.n, r.total_value)
        for r in QS["stream_watermark_late"](spark, SF_SMALL).collect()
    }
    multi = {
        r.bucket: (r.n, r.total_value)
        for r in QS["stream_watermark_late"](spark, out).collect()
    }
    assert multi == single and multi


def test_stream_build_on_micros_fixtures_leaves_nanos_conf_unset(spark):
    """The streaming source picks its read path from the parquet footer
    of events: on the timestamp[us] fixtures it sets no session-wide
    conf, so nanosAsLong stays reserved for the TIMESTAMP(NANOS)
    generation (sources/tables.table's rule)."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        assert QS["stream_dedup"](spark, SF_SMALL).count() > 0
        assert spark.conf.get(key, None) is None
    finally:
        if before is not None:
            spark.conf.set(key, before)
