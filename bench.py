"""Benchmark harness (SURVEY.md §6): headline queries at sf0.1.

Runs each headline query to full materialization (noop sink — forces
every stage, no driver collect overhead) on local[$SPARK_GRAFT_CPUS],
reading $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), and prints
ONE JSON line:
  {"metric": "total_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The headline set spans every heavy shape: scan+multiway join, wide
# agg, window top-k, exploding text, TF-IDF joins, minhash LSH, knn
# kernel, streaming buckets, JSON extraction, distinct, sessionize,
# and the CF pair self-join (item-item cosine).
HEADLINE = [
    "agg_groupby",
    "join_star_multiway",
    "win_row_number_topk",
    "agg_count_distinct",
    "sort_multikey",
    "text_wordcount",
    "text_tfidf",
    "dedup_near_minhash",
    "sim_topk_neighbors",
    "stream_tumbling_window",
    "stream_session_window",
    "fn_map_json",
    "ml_eval_rmse",
    "dedup_exact",
    "rec_item_similarity",
]


def _quiesce() -> dict:
    """Cool-down + load-average guard (round-7 verdict item 3).

    BENCH_r05 and BENCH_r07 both carried the post-correctness-sweep
    residue signature (calib_sec +40%, fn_map_json +50-64% on unchanged
    code — BASELINE.md's three contamination regimes). The driver runs
    bench right after its 50-key sweep, so the guard lives HERE: wait
    (up to BENCH_MAX_COOLDOWN_SEC, default 120 s) for the 1-minute load
    average to fall below BENCH_LOAD_THRESHOLD (default 2.0), then
    annotate the JSON with the observed loads and wait time so a
    contaminated sample is self-identifying instead of costing a
    diagnosis round. Soft guard: it never refuses — the driver needs a
    BENCH file either way."""
    thresh = float(os.environ.get("BENCH_LOAD_THRESHOLD", "2.0"))
    max_wait = float(os.environ.get("BENCH_MAX_COOLDOWN_SEC", "120"))
    try:
        load_start = os.getloadavg()[0]
    except OSError:
        # Platform without load averages: skip the cooldown but keep the
        # guard soft — annotate the gap instead of crashing before JSON.
        return {
            "load1_start": None,
            "load1_at_run": None,
            "cooldown_sec": 0.0,
            "guest_quiescent": None,
            # Legacy alias: BENCH_r08.json and earlier carry this key
            # name; emit both so cross-round tooling keyed on either
            # name sees every sample (r9 ADVICE).
            "quiescent": None,
        }
    waited = 0.0
    load = load_start
    while load > thresh and waited < max_wait:
        time.sleep(10.0)
        waited += 10.0
        load = os.getloadavg()[0]
    if waited:
        print(
            f"# cooldown: waited {waited:.0f}s (load1 {load_start:.2f} "
            f"-> {load:.2f}, threshold {thresh})",
            file=sys.stderr,
        )
    # "guest_" because this sees only in-VM load: host-level CPU theft
    # (BASELINE.md regime 3) is invisible here — calib_drift below is
    # the in-file signal for that.
    return {
        "load1_start": round(load_start, 2),
        "load1_at_run": round(load, 2),
        "cooldown_sec": waited,
        "guest_quiescent": load <= thresh,
        # Legacy alias for pre-r09 artifacts' key name (r9 ADVICE).
        "quiescent": load <= thresh,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    quiesce = _quiesce()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mrsas-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        # fixtures are single ~25 MB parquet files; the default 128 MB
        # split size would scan them in ONE task — split small so the
        # scan parallelizes across local cores (at production scale the
        # input is many files and the default is right)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "16g")
        # Measurement-only (r15): the per-query task-time probe below
        # reads summed executorRunTime from the status store; the
        # default 1000-stage retention is within one bench run's reach
        # (~500 stages), and eviction between two snapshots would
        # corrupt a delta. No effect on query plans or timings.
        .config("spark.ui.retainedStages", "5000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from movierecommender_sentimentanalysissytem_spark import registry

    qs = registry.queries()

    # Warmup: JIT/codegen/parquet-footer caches and every table's read
    # path, so per-query timings measure the queries, not JVM startup.
    spark.range(1_000_000).count()
    from movierecommender_sentimentanalysissytem_spark.sources.tables import (
        TABLES,
        table,
    )

    for t in TABLES:
        table(spark, sf_dir, t).count()
    qs["agg_global"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Per-boot calibration: a fixed, shuffle-free, JVM-only fold whose
    # cost depends ONLY on this machine's current CPU speed. Cross-round
    # bench comparisons divide by this to separate engine regressions
    # from VM-speed drift between boots (r3→r4 showed a uniform ~40%
    # environmental slowdown that was otherwise indistinguishable from
    # a code regression — see BASELINE.md). One untimed run settles
    # this codepath's codegen/JIT; the median of three timed runs
    # suppresses single-sample noise (the constant scales every
    # normalized comparison, so it must be stable).
    def _calib_run() -> float:
        t = time.perf_counter()
        spark.range(0, 100_000_000, 1, int(cpus)).selectExpr(
            "sum(id * 3 + 7) AS s"
        ).collect()
        return time.perf_counter() - t

    _calib_run()  # warm the fold itself
    calib = round(sorted(_calib_run() for _ in range(3))[1], 3)
    print(f"# calib_sec: {calib:.3f}s", file=sys.stderr)

    # Each query runs TWICE: `queries` keeps the FIRST run (the
    # contract field since round 1 — includes per-query codegen, the
    # honest cold number), `queries_best2` keeps the min of the two.
    # Added in round 10 after a session where transient host stalls
    # hit exactly one query per sample (fn_map_json 15.6 s once,
    # rec_item_similarity 12.4-12.6 s twice, every OTHER query at
    # clean-band level, calib probes normal-to-rejecting): a
    # single-query spike that survives into `value` is
    # indistinguishable from a plan regression without a second
    # sample, while min-of-2 is immune to any stall shorter than a
    # full query. Purely additive — `value`/`queries` semantics are
    # unchanged for cross-round comparison.
    # Per-query executor task time (summed executorRunTime over the
    # stages each first run triggered), added r15 for the driver's
    # core-scaling probe: much of the wall total is serial driver work
    # (Spark jobs launched while queries are built: model fits, eager
    # cache counts, schema inference), so WALL barely moves between 8
    # and 32 cores at this SF while the executor-parallel component
    # does — task_time is the parallelism-sensitive metric that makes
    # the $SPARK_GRAFT_CPUS contract observable. The status store is
    # fed by the asynchronous listener bus, so the bus is drained
    # before each read; otherwise a stage that completed just before
    # the snapshot would be charged to the next query. Purely additive;
    # `value`/`queries` first-run wall semantics are unchanged.
    def _task_time_ms() -> int:
        try:
            sc = spark.sparkContext._jsc.sc()
            sc.listenerBus().waitUntilEmpty()
            ss = sc.statusStore()
            jvm = spark._jvm
            gw = spark.sparkContext._gateway
            stages = ss.stageList(
                jvm.java.util.ArrayList(),
                False,
                False,
                gw.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
            return sum(stages.apply(i).executorRunTime() for i in range(stages.size()))
        except Exception:  # noqa: BLE001 — metric is best-effort, never fail the bench
            return -1

    timings: dict[str, float] = {}
    timings_best2: dict[str, float] = {}
    task_sec: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        tt0 = _task_time_ms()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        tt1 = _task_time_ms()
        task_sec[name] = round((tt1 - tt0) / 1000.0, 3) if tt0 >= 0 and tt1 >= 0 else -1.0
        t1 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        second = time.perf_counter() - t1
        timings_best2[name] = round(min(timings[name], second), 3)
        print(
            f"# {name}: {timings[name]:.3f}s (2nd {second:.3f}s, "
            f"task {task_sec[name]:.3f}s)",
            file=sys.stderr,
        )

    # Second calibration at the END of the run: decay-phase contamination
    # (bench launched while a prior workload's load is still draining —
    # BENCH_r08's signature) inflates the START calib but not the END one,
    # so calib_drift makes that regime self-identifying from the JSON
    # alone. Sustained host-level theft inflates both equally and still
    # needs the BASELINE.md band check; drift only catches the decay case.
    calib_end = round(sorted(_calib_run() for _ in range(3))[1], 3)
    drift = round(calib / calib_end, 3) if calib_end else None
    # comparable gates on BOTH legs: drift inside the band AND the
    # guest load guard having PASSED. If os.getloadavg() was
    # unavailable (guest_quiescent None) the quiescence leg never ran,
    # so emit null rather than silently passing on drift alone
    # (r9 ADVICE); quiesce_checked says which regime a reader is in.
    drift_ok = drift is not None and abs(drift - 1.0) <= 0.25
    if quiesce.get("guest_quiescent") is None:
        comparable = None
    else:
        comparable = quiesce["guest_quiescent"] and drift_ok
    print(f"# calib_end_sec: {calib_end:.3f}s (drift {drift})", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "value_best2": round(sum(timings_best2.values()), 3),
                "queries_best2": timings_best2,
                "cpus": int(cpus),
                "queries_task_sec": task_sec,
                "task_time_note": (
                    "queries_task_sec sums executorRunTime of each "
                    "first run's stages, read after draining the "
                    "listener bus; wall-vs-cores is flat at this SF "
                    "because the serial cost is Spark jobs launched "
                    "while queries are built (model fits, eager cache "
                    "counts, schema inference), while forced optimize "
                    "+ plan take only 7-8% of the query time, so judge "
                    "core scaling by task_sec/cpus occupancy, not wall"
                ),
                "sf": sf,
                "calib_sec": calib,
                "calib_end_sec": calib_end,
                "calib_drift": drift,
                "comparable": comparable,
                "quiesce_checked": quiesce.get("guest_quiescent") is not None,
                **quiesce,
            }
        )
    )


if __name__ == "__main__":
    main()
