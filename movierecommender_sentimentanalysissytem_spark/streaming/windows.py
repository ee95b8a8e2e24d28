"""Streaming operators over the events table (SURVEY.md §2.11).

Two tiers:
- Batch-equivalent formulations (tumbling / sliding / session windows)
  are SQL-checked against DuckDB — they pin the exact window semantics.
- True Structured Streaming variants (watermark, stateful dedup,
  applyInPandasWithState counter) run ``readStream`` → memory sink with
  ``Trigger.AvailableNow`` and are rows-checked; batch↔stream parity is
  asserted in tests/test_streaming.py.

Timestamp discipline (SURVEY §1.2): events.ts is ns — every formulation
truncates to second before bucketing/comparing and projects buckets as
formatted strings, never raw timestamps.

Scale notes: windowed streaming aggs shuffle on (key, window) with
watermark-bounded state; session windows and dropDuplicates keep
per-key state in the state store (RocksDB at scale). The batch
formulations shuffle once on user_id — the same movement pattern.

Spark 4's ``transformWithStateInPandas`` was evaluated and does NOT run
in this environment: its driver-side runner needs the ``protobuf``
Python package, which is broken here (``cannot import name
'descriptor'``) and installs are unavailable — ``applyInPandasWithState``
is the custom-stateful path instead (same state semantics, stable API).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from movierecommender_sentimentanalysissytem_spark.functions.rounding import round4
from movierecommender_sentimentanalysissytem_spark.registry import query
from movierecommender_sentimentanalysissytem_spark.sources.tables import (
    literal_table,
    table,
)

_BUCKET_FMT = "yyyy-MM-dd HH:mm:ss"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").withColumn(
        "ts_s", F.date_trunc("second", F.col("ts"))
    )


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT strftime(to_timestamp(floor(epoch(date_trunc('second', ts)) / 600) * 600),
                    '%Y-%m-%d %H:%M:%S') AS bucket,
           COUNT(*) AS n,
           FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS total_value
    FROM events
    GROUP BY bucket
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-10-minute tumbling event counts/sums via ``window()`` — the
    identical expression works under readStream (see the watermark
    variant below). Spark's windows are epoch-aligned, mirrored in
    DuckDB with explicit epoch-floor arithmetic."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts_s", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            round4(F.sum("value")).alias("total_value"),
        )
        .select(
            F.date_format("w.start", _BUCKET_FMT).alias("bucket"),
            "n",
            "total_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle="""
    WITH starts AS (
        SELECT floor(epoch(date_trunc('second', ts)) / 300) * 300 AS s, value
        FROM events
        UNION ALL
        SELECT floor(epoch(date_trunc('second', ts)) / 300) * 300 - 300 AS s, value
        FROM events
    )
    SELECT strftime(to_timestamp(s), '%Y-%m-%d %H:%M:%S') AS bucket,
           COUNT(*) AS n,
           FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS total_value
    FROM starts
    GROUP BY s
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding by 5: every event lands in exactly two
    windows (starts floor(t/300)·300 and that minus 300) — the oracle
    materializes the same two starts with a union of offsets."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts_s", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            round4(F.sum("value")).alias("total_value"),
        )
        .select(
            F.date_format("w.start", _BUCKET_FMT).alias("bucket"),
            "n",
            "total_value",
        )
    )


@query(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, value,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
               LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('second', ts), event_id) AS prev_sec
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
                       THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    sessions AS (
        SELECT *, SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY sec, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS INTEGER) AS session_seq,
           strftime(to_timestamp(MIN(sec)), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute gap, batch formulation:
    lag → gap flag → running sum (the classic sessionize idiom; the
    streaming ``session_window`` equivalent is covered by parity tests).
    """
    e = _events(spark, sf_dir).withColumn(
        "sec", F.unix_timestamp("ts_s")
    )
    worder = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag("sec").over(worder).isNull()
            | ((F.col("sec") - F.lag("sec").over(worder)) > 1800),
            1,
        ).otherwise(0),
    )
    wrun = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = flagged.withColumn(
        "session_seq", F.sum("new_session").over(wrun).cast("int")
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.date_format(F.timestamp_seconds(F.min("sec")), _BUCKET_FMT).alias(
            "session_start"
        ),
        F.count(F.lit(1)).alias("n_events"),
        round4(F.sum("value")).alias("total_value"),
    )


# ------------------------------------------------ true streaming variants

def _events_stream_schema(ts_type: T.DataType) -> T.StructType:
    # ts arrives as int64 nanos (legacy fixtures, via nanosAsLong) or as
    # native timestamp[us] (current fixtures, TIMESTAMP_NTZ) — caller
    # sniffs the static footer and passes the matching type.
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the ns→µs rebuild.

    The file source requires a directory. At production scale the
    source already IS a partitioned directory tree, so that shape is
    used directly; the test fixtures ship events as a SINGLE file,
    which is staged (hard-link or copy) into a temp dir. The
    single-file staging used to be unconditional — the round-9 10x
    scale smoke caught it crashing on any directory-shaped events
    table (IsADirectoryError), i.e. the streaming keys worked on the
    fixtures but not on the layout every real corpus has.
    """
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from movierecommender_sentimentanalysissytem_spark.scratch import mkscratch

    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        stage = src
    else:
        stage = mkscratch("mrsas_stream_src_")
        dst = os.path.join(stage, "events.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
    # ts's type from a parquet footer, without a Spark job. Only the
    # TIMESTAMP(NANOS) generation needs the session-wide nanosAsLong
    # conf (see sources/tables.table); a copy written from such a raw
    # read holds plain int64 nanos. Spark's INT96 timestamps read
    # natively, so they must not look like nanos.
    ts_type = (
        pq.ParquetDataset(stage, coerce_int96_timestamp_unit="us")
        .schema.field("ts")
        .type
    )
    nanos = pa.types.is_timestamp(ts_type) and ts_type.unit == "ns"
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if nanos or pa.types.is_int64(ts_type):
        raw = spark.readStream.schema(
            _events_stream_schema(T.LongType())
        ).parquet(stage)
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        raw = spark.readStream.schema(
            _events_stream_schema(T.TimestampNTZType())
        ).parquet(stage)
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw.withColumn("ts_s", F.date_trunc("second", F.col("ts")))


def _run_available_now(df: DataFrame, spark: SparkSession, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink
    and return the materialized result."""
    name = "mrsas_stream_" + uuid.uuid4().hex[:8]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return df.sparkSession.table(name)


@query(
    "stream_watermark_late",
    oracle="""
    WITH b AS (
        SELECT floor(epoch(date_trunc('second', ts)) / 600) * 600 AS s,
               COUNT(*) AS n,
               FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS total_value
        FROM events GROUP BY 1
    ),
    wm AS (
        SELECT epoch(max(date_trunc('second', ts))) - 600 AS w FROM events
    )
    SELECT strftime(to_timestamp(s), '%Y-%m-%d %H:%M:%S') AS bucket,
           n, total_value
    FROM b, wm WHERE s + 600 <= w
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed streaming aggregation with a 10-minute watermark:
    events later than the watermark are dropped from state; the
    watermark also bounds state size (the 100 TB requirement — without
    it, window state grows forever). Append mode only emits finalized
    windows.

    SQL-checked: with a single AvailableNow batch the final watermark
    is max(event time) − 10 min, and append mode emits exactly the
    windows whose END is ≤ that watermark — the oracle reproduces the
    emission rule relationally (verified row-for-row at sf0.01)."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts_s", "10 minutes")
        .groupBy(F.window("ts_s", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            round4(F.sum("value")).alias("total_value"),
        )
        .select(
            F.date_format("w.start", _BUCKET_FMT).alias("bucket"),
            "n",
            "total_value",
        )
    )
    return _run_available_now(agg, spark, "append")


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n
    FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on event_id with watermark-bounded
    state, then a per-type count.

    SQL-checked: the per-type count of deduped events is independent
    of which duplicate wins (and event_id is globally unique in the
    fixture), so the count-distinct formulation is the exact oracle."""
    e = _events_stream(spark, sf_dir)
    deduped = (
        e.withWatermark("ts_s", "10 minutes")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _run_available_now(deduped, spark, "complete")


@query(
    "stream_stateful_counter",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    ``applyInPandasWithState`` (arbitrary state, Arrow-batched).
    The state is one (count, total) pair per user — fixed width,
    watermark-free GroupState with no timeout.

    SQL-checked: per-user count and 4-dp-rounded total are independent
    of batch order, so the plain relational groupBy is the exact
    oracle for the stateful run."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    e = _events_stream(spark, sf_dir).select("user_id", "value")

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    counted = e.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = _run_available_now(counted, spark, "update")
    return result.select(
        "user_id", "n_events", round4(F.col("total_value")).alias("total_value")
    )


@query(
    "stream_session_window_native",
    oracle="""
    WITH ordered AS (
        SELECT user_id, value,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
               LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('second', ts), event_id) AS prev_sec
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
                       THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    sessions AS (
        SELECT *, SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY sec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           strftime(to_timestamp(MIN(sec)), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` operator (works identically
    under readStream for true streaming sessionization). Gap boundary
    semantics, determined empirically at sf0.1 (one exact-1800 s gap
    exists there): an event at EXACTLY gap seconds after the previous
    one still merges — so the oracle splits only on ``> 1800``, same as
    the manual lag formulation.

    SQL-checked against the same lag+running-sum formulation as the
    manual variant, pinning that the native operator and the relational
    idiom agree row-for-row.
    """
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts_s", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round4(F.sum("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", _BUCKET_FMT).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS total
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: the production pattern for streaming into
    arbitrary batch sinks (upserts, parquet compaction, JDBC). Each
    micro-batch aggregates per event_type and appends to a parquet dir;
    the returned DataFrame re-reads and re-aggregates the sink.
    SQL-checked: with AvailableNow + one source file there is exactly
    one batch, so the sink's re-aggregation equals the plain batch
    groupBy, which is the oracle."""
    from movierecommender_sentimentanalysissytem_spark.scratch import mkscratch

    out = mkscratch("mrsas_feb_") + "/by_type"
    e = _events_stream(spark, sf_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), round4(F.sum("value")).alias("total"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    q = (
        e.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.round(F.sum("total"), 4).alias("total"))
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_eid,
           v.event_id AS view_eid
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND date_trunc('second', v.ts)
         BETWEEN date_trunc('second', c.ts) - INTERVAL 10 MINUTE
             AND date_trunc('second', c.ts)
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each click joined to the same
    user's views in the preceding 10 minutes — attribution, the
    canonical two-stream correlation. Both sides carry watermarks, and
    the time-interval predicate is what lets Spark BOUND the join
    state: a view older than (watermark − 10 min) can never match a
    future click and is evicted. Without the interval condition a
    stream-stream join's state grows forever — the 100 TB failure
    mode this operator exists to demonstrate.

    SQL-checked: an inner interval join emits exactly the pairs the
    batch formulation produces (watermarks only bound state, they
    drop no matches within a single AvailableNow batch).
    """
    e = _events_stream(spark, sf_dir)
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_eid"),
            F.col("ts_s").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_eid"),
            F.col("ts_s").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = clicks.join(
        views,
        F.expr(
            "c_user = v_user AND "
            "view_ts BETWEEN click_ts - INTERVAL 10 MINUTES AND click_ts"
        ),
    ).select(F.col("c_user").alias("user_id"), "click_eid", "view_eid")
    return _run_available_now(joined, spark, "append")


@query(
    "stream_stream_left_join",
    oracle="""
    WITH wm AS (
        SELECT LEAST(
            (SELECT date_trunc('second', max(ts)) FROM events
             WHERE event_type = 'click'),
            (SELECT date_trunc('second', max(ts)) FROM events
             WHERE event_type = 'view')
        ) - INTERVAL 10 MINUTE AS w
    ),
    c AS (
        SELECT user_id, event_id, date_trunc('second', ts) AS cts
        FROM events WHERE event_type = 'click'
    ),
    v AS (
        SELECT user_id, event_id, date_trunc('second', ts) AS vts
        FROM events WHERE event_type = 'view'
    ),
    matched AS (
        SELECT v.user_id AS v_user, v.event_id AS view_eid,
               c.event_id AS click_eid, v.vts
        FROM v JOIN c ON v.user_id = c.user_id
           AND c.cts BETWEEN v.vts AND v.vts + INTERVAL 10 MINUTE
    )
    SELECT v_user, view_eid, click_eid FROM matched
    UNION ALL
    SELECT v.user_id, v.event_id, NULL
    FROM v, wm
    WHERE v.vts + INTERVAL 10 MINUTE < wm.w
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.view_eid = v.event_id)
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view, with the
    click that followed it within 10 minutes or NULL if none came.
    Outer emission is watermark-driven: a view only emits null-extended
    once the watermark proves no future click can match (its interval
    end has passed the final watermark) — unmatched views younger than
    that are still in state when the stream ends and do NOT emit.
    The oracle reproduces exactly that emission rule relationally:
    matched pairs unconditionally, null-extensions only for views whose
    interval closed before the final GLOBAL watermark — which is the
    MINIMUM over both input streams' (max event time − delay), the
    multi-input watermark rule."""
    e = _events_stream(spark, sf_dir)
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_eid"),
            F.col("ts_s").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_eid"),
            F.col("ts_s").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = views.join(
        clicks,
        F.expr(
            "c_user = v_user AND "
            "click_ts BETWEEN view_ts AND view_ts + INTERVAL 10 MINUTES"
        ),
        "leftOuter",
    ).select("v_user", "view_eid", "click_eid")
    return _run_available_now(joined, spark, "append")


@query(
    "stream_static_join",
    oracle="""
    SELECT event_id, c_mktsegment,
           FLOOR(value * 10000 + 0.5) / 10000 AS value
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the
    customer dimension — the most common streaming topology (enrich
    then route/aggregate). Stream-static inner joins are stateless in
    Structured Streaming: the static side broadcasts into every
    micro-batch, no watermark or state store involved, append mode
    row-per-match. The static side is re-read per batch at scale (a
    slowly-changing dim picks up updates between batches — the
    streaming twin of scd2_history's point-in-time semantics).
    SQL-checked: the single AvailableNow batch emits exactly the
    batch-join row set."""
    ev = _events_stream(spark, sf_dir)
    c = table(spark, sf_dir, "customer")
    joined = (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .select(
            "event_id",
            "c_mktsegment",
            round4(F.col("value")).alias("value"),
        )
    )
    return _run_available_now(joined, spark, "append")


@query(
    "stream_windowed_topk",
    oracle="""
    WITH counts AS (
        SELECT floor(epoch(date_trunc('second', ts)) / 600) * 600 AS s,
               event_type, COUNT(*) AS n
        FROM events GROUP BY s, event_type
    ),
    ranked AS (
        SELECT s, event_type, n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY s ORDER BY n DESC, event_type ASC)
                   AS INTEGER) AS rnk
        FROM counts
    )
    SELECT strftime(to_timestamp(s), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type, n, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-k leaderboard: the 3 most frequent event types in
    every 10-minute tumbling window — the trending-now panel every
    event dashboard renders. Rank-over-aggregate is NOT expressible
    inside a single incremental streaming query (rank is
    non-monotonic under late data), so the production shape is the
    two-stage pattern this key pins: the windowed counts run
    incrementally under readStream + watermark (identical expression
    to stream_tumbling_window), and the rank runs per micro-batch
    over the emitted window rows in foreachBatch
    (stream_foreach_batch_sink demonstrates that half). State stays
    bounded: rank state is O(event types) per window, and the window
    partition key distributes it."""
    e = _events(spark, sf_dir)
    counts = e.groupBy(
        F.window("ts_s", "10 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w_rank = Window.partitionBy("w").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select(
            F.date_format("w.start", _BUCKET_FMT).alias("bucket"),
            "event_type",
            "n",
            "rnk",
        )
    )


@query(
    "stream_observe_rate",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                AS BIGINT) AS n_views,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
           strftime(MIN(date_trunc('second', ts)),
                    '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(MAX(date_trunc('second', ts)),
                    '%Y-%m-%d %H:%M:%S') AS max_ts,
           FLOOR(COUNT(*) / GREATEST(1.0,
                     EPOCH(MAX(date_trunc('second', ts)))
                     - EPOCH(MIN(date_trunc('second', ts))))
                 * 10000 + 0.5) / 10000 AS rows_per_event_sec
    FROM events
    """,
)
def stream_observe_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rate/health observer: ``observe()`` metrics attached
    to a live readStream and harvested from StreamingQueryProgress —
    the zero-extra-scan instrumentation a production pipeline alerts
    on (batch observe_metrics' streaming sibling). Each micro-batch
    reports its observed row count, per-type count, value total and
    event-time bounds through ``progress.observedMetrics``; the
    driver-side fold across progress events is how a monitor derives
    ingest rate without a second aggregation query touching the
    stream's state store.

    Determinism contract: wall-clock rates (inputRowsPerSecond,
    batchDuration) live in the same progress objects but vary per
    run, so the key reports the DETERMINISTIC fold — total rows,
    view-event rows, exact integer value cents, event-time bounds,
    and throughput in EVENT-time (rows per observed event-second),
    all invariant under micro-batch splits (sums of counts, min of
    mins, max of maxes). Value totals sum as integer cents because a
    cross-batch float fold would depend on batch boundaries.

    Scale: observe() aggregates piggyback on the scan (partial maps
    merged per batch), state O(metrics); the collected progress list
    is O(batches) on the driver — the same bounded telemetry the
    Spark UI itself holds."""
    import datetime as _dt
    import math

    e = _events_stream(spark, sf_dir)
    observed = e.observe(
        "rate_obs",
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_views"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
            "value_cents"
        ),
        F.min(F.unix_timestamp("ts_s")).alias("min_epoch"),
        F.max(F.unix_timestamp("ts_s")).alias("max_epoch"),
    )
    name = "mrsas_stream_" + uuid.uuid4().hex[:8]
    q = (
        observed.writeStream.format("noop")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_rows = n_views = cents = 0
    min_ep: int | None = None
    max_ep: int | None = None
    for p in q.recentProgress:
        # StreamingQueryProgress.observedMetrics: dict name -> Row
        m = (p.observedMetrics or {}).get("rate_obs")
        if m is None or not m["n_rows"]:
            continue  # empty batch observes nothing aggregatable
        n_rows += m["n_rows"]
        n_views += m["n_views"]
        cents += m["value_cents"]
        min_ep = m["min_epoch"] if min_ep is None else min(min_ep, m["min_epoch"])
        max_ep = m["max_epoch"] if max_ep is None else max(max_ep, m["max_epoch"])
    if min_ep is None:
        return literal_table(
            spark,
            [],
            "n_rows bigint, n_views bigint, value_cents bigint,"
            " min_ts string, max_ts string, rows_per_event_sec double",
        )
    rate = n_rows / max(1.0, float(max_ep - min_ep))
    fmt = "%Y-%m-%d %H:%M:%S"
    return literal_table(
        spark,
        [
            (
                n_rows,
                n_views,
                cents,
                _dt.datetime.fromtimestamp(min_ep, _dt.timezone.utc).strftime(fmt),
                _dt.datetime.fromtimestamp(max_ep, _dt.timezone.utc).strftime(fmt),
                math.floor(rate * 10000 + 0.5) / 10000,
            )
        ],
        "n_rows bigint, n_views bigint, value_cents bigint,"
        " min_ts string, max_ts string, rows_per_event_sec double",
    )
