"""The one local session shape shared by ``bench.py``, every script and
the test suite (``perfbench/`` keeps its own), so a number read from one
tool carries over to another.

16 MB splits: each fixture table is one parquet file, which the default
128 MB split would scan in one task. Spark splits at
``min(maxPartitionBytes, max(openCostInBytes, bytes per slot))``, so up
to sf0.1 (largest file 10.8 MB) the 4 MB open-cost floor binds and the
cap changes nothing; it matters for larger inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def env_cpus() -> str:
    """Task slots of a bench-shaped session: $SPARK_GRAFT_CPUS, default 32."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def base_conf(cpus: int | str) -> dict[str, str]:
    """One shuffle partition per task slot, AQE on, 16 MB splits, UTC
    (timestamp parity with DuckDB depends on it), no UI or progress bar."""
    return {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def local_session(
    cpus: int | str, app: str, conf: dict[str, str] | None = None
) -> SparkSession:
    """Get or create the ``local[cpus]`` session ``app`` with ``conf``
    over ``base_conf(cpus)``, logging at ERROR. ``conf`` holds only the
    caller's real deviations: driver heap, a retained-stage count, a
    shuffle fan-out."""
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    for key, value in {**base_conf(cpus), **(conf or {})}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
