"""Where each query's time went and what it launched.

Runs each key once to a noop sink under the bench session
(local[$SPARK_GRAFT_CPUS], $SPARK_GRAFT_SF_DIR, default sf0.1) and
reports wall seconds, Spark jobs (build-time jobs included), executed
stages, tasks, executor task seconds and shuffle-write MB, read
through ``perfbench/probes.py``. With no keys,
every registry key runs (one that raises is recorded, not fatal), the
table is repeated slowest first and written as JSON to
``<tmpdir>/profile_<sf>.json`` for diffing. Keys share one warm
session: read walls as a ranking.

Usage: python scripts/query_profile.py [key ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.probes import SparkProbes  # noqa: E402

COLUMNS = ("wall_s", "jobs", "stages", "tasks", "task_s", "shuffle_mb")


def profile(spark, probes: SparkProbes, fn, sf_dir: str) -> dict:
    """The counters of one noop run of ``fn``."""
    probes.drain()
    j0, s0 = probes.jobs(), probes.stage_id()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    probes.drain()
    stages = probes.stages(s0)
    return {
        "wall_s": round(wall, 3),
        "jobs": probes.jobs() - j0,
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "task_s": round(sum(s["task_s"] for s in stages), 3),
        "shuffle_mb": round(sum(s["shuffle_write_mb"] for s in stages), 2),
    }


def line(name, values) -> str:
    return f"{name:40s}" + "".join(f" {v:>10}" for v in values)


def row(key: str, rec: dict) -> str:
    return line(key, ["ERROR", rec["error"]] if "error" in rec else [rec[c] for c in COLUMNS])


def main() -> int:
    from movierecommender_sentimentanalysissytem_spark import registry
    from movierecommender_sentimentanalysissytem_spark.session import (
        env_cpus,
        local_session,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    named = sys.argv[1:]
    spark = local_session(env_cpus(), "mrsas-profile", {"spark.driver.memory": "16g"})
    probes = SparkProbes(spark)
    qs = registry.queries()
    spark.range(1_000_000).count()  # JVM warm-up

    print(line("key", COLUMNS))
    out: dict[str, dict] = {}
    for key in named or list(qs):
        try:
            out[key] = profile(spark, probes, qs[key], sf_dir)
        except Exception as e:  # noqa: BLE001 — a full sweep must survive any key
            out[key] = {"error": f"{type(e).__name__}: {e}"}
        print(row(key, out[key]), flush=True)
    if named:
        return 0

    print("\n== slowest first ==\n" + line("key", COLUMNS))
    for key in sorted(out, key=lambda k: -out[k].get("wall_s", -1.0)):
        print(row(key, out[key]))
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"profile_{tag}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"\nwrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
