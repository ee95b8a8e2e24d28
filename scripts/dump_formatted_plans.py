"""Dump ``.explain("formatted")`` plans of registry keys.

Writes each key's full plan (default: the bench HEADLINE set) to
``<outdir>/<key>_<tag>.txt`` under the bench session at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 fixtures), so a plan-shape
claim can be checked without running Spark. Plan shape is pinned by
PLAN_FINGERPRINTS.json (scripts/plan_fingerprints.py).

Usage: python scripts/dump_formatted_plans.py <outdir> <tag> [key ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from movierecommender_sentimentanalysissytem_spark import registry
    from movierecommender_sentimentanalysissytem_spark.session import (
        env_cpus,
        local_session,
    )

    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    outdir, tag, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    # building a query is not plan-only: eager scoped persists
    # materialize caches during the build, and the default 1g driver
    # heap OOMs on the heavier keys at sf0.1 (r15)
    spark = local_session(env_cpus(), "mrsas-plan-dump", {"spark.driver.memory": "16g"})
    qs = registry.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    if not keys:
        import bench

        keys = bench.HEADLINE
    for name in keys:
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(formatted(qs[name](spark, sf_dir)))
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
