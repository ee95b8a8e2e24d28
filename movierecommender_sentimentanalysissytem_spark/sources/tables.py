"""Parquet source layer.

All fixture tables (FIXTURES.md) load through here so that scale-aware
settings live in one place. At 100 TB the same code path works: Spark's
vectorized parquet reader handles partition discovery, predicate
pushdown and column pruning on the datasource level — we only ever
express *logical* plans downstream, never per-file logic.

Schema cache: a plain ``spark.read.parquet`` infers the file's schema
with a Spark job (~105 ms warm per read at sf0.01) every time a query
is built, and ``table()`` has hundreds of call sites. So ``table()``
infers a file's schema on the first read of each file version and
hands it to ``spark.read.schema(...)`` afterwards (~20 ms, no job).
The cache is keyed on the absolute path plus the path's ``st_mtime_ns``
and ``st_size``: rewriting a file (or adding or removing part files of
a directory-style table, which changes the directory's mtime) is a new
version and is inferred again. Paths ``os.stat`` cannot see (remote
URIs) are read uncached. ``events`` is left out: its schema depends on
the session, not only on the file — on the TIMESTAMP(NANOS) generation
the native read fails and the table is re-read with the
``nanosAsLong`` conf, so that failing inference is the very check that
picks the read path.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensionality of the ``embeddings.embedding`` fixture column. The
# Spark kernels fold over the actual arrays (zip_with/transform), but
# DuckDB oracle mirrors that index two aliased tables in one lambda
# need an explicit ``range(1, EMBEDDING_DIM + 1)`` — every such oracle
# derives its bound from THIS constant so engine and oracle cannot
# silently desynchronize if the fixture dimensionality changes
# (round-7 advice). tests/test_vectors.py pins the fixture invariant.
EMBEDDING_DIM = 64

# Dimension tables small enough to always broadcast in joins (the 100 TB
# design point: region/nation are fixed-size; customer/supplier/part grow
# with SF and must NOT be assumed broadcastable).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})

# Scanned bytes per partition when spread_scan fans a one-file table out
# over the task slots. It sits between the two measured `documents`
# sizes: 65 049 B at sf0.01 (one partition: no exchange) and 594 568 B
# at sf0.1 (five partitions, fewer where there are fewer slots).
SPREAD_BYTES = 128 * 1024

# absolute path -> ((st_mtime_ns, st_size), schema inferred on the first
# read of that file version); one entry per path, so a rewritten file
# replaces its stale entry
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    first read of this version of the file (see the module docstring)."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key, version = os.path.abspath(path), (st.st_mtime_ns, st.st_size)
    cached = _SCHEMAS.get(key)
    if cached is not None and cached[0] == version:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (version, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    ``events.ts`` has shipped in two fixture generations: parquet
    TIMESTAMP(NANOS) — which Spark's reader rejects outright
    (PARQUET_TYPE_ILLEGAL), so we read it as raw int64 nanoseconds via
    ``spark.sql.legacy.parquet.nanosAsLong`` and rebuild a microsecond
    TimestampType with integer arithmetic (``div`` on longs, never
    double division, which loses sub-µs precision at epoch-nanosecond
    magnitudes ~1.7e18 > 2^53) — and plain ``timestamp[us]``, which
    Spark reads natively as TIMESTAMP_NTZ. We sniff the loaded dtype
    and normalize both to session-zone TimestampType (session tz is
    pinned to UTC, so the NTZ→TZ cast is wall-clock identity).

    The legacy conf is set ONLY if the native read actually rejects
    the file (nanos generation): a session-global conf flipped as a
    side effect of loading one table would silently change how every
    later nanos-typed parquet read in the session behaves. On the µs
    generation (current fixtures) the conf is never touched.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        try:
            df = spark.read.parquet(path)
        except Exception:
            # TIMESTAMP(NANOS) fixture generation: re-read as raw int64
            # ns. The conf stays set for the session afterward BY
            # DESIGN — every engine read goes through table(), and the
            # flag only affects nanos-typed columns, which this session
            # then wants read the same way.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read_parquet(spark, path)


def rating_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived ratings fixture (FIXTURES.md): lineitem joined with
    orders on the order key, one row per lineitem, with ``user`` =
    ``o_custkey``, ``item`` = ``l_partkey`` and ``rating`` =
    ``l_quantity``. Every lineitem and orders column rides along, so
    keys can split folds by ``o_orderkey``, hash a line's primary key
    (``l_orderkey``, ``l_linenumber``) or decay by ``o_orderdate``, and a
    table holding only the columns a key reads still serves that key.
    Every ratings key derives its own average, sum, distinct pairs or
    raw rows from here; column pruning drops what it does not read, so
    its plan is unchanged."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey).withColumns(
        {
            "user": F.col("o_custkey"),
            "item": F.col("l_partkey"),
            "rating": F.col("l_quantity"),
        }
    )


def spread_partitions(df: DataFrame) -> int:
    """How many partitions ``spread_scan`` gives ``df``:
    ``min(spark.sql.shuffle.partitions, ceil(bytes / SPREAD_BYTES))``,
    at least 1. ``bytes`` is the optimizer's size estimate of ``df``
    (for a bare scan, the file size); reading it plans the query but
    runs no Spark job."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    slots = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(slots, math.ceil(size / SPREAD_BYTES)))


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """``df`` (a one-file table scan feeding CPU-heavy per-row work)
    hash-repartitioned on the unique column ``key`` into
    ``spread_partitions(df)`` partitions, or ``df`` untouched when that
    is 1.

    A fixture table is one parquet file, so it scans as one partition,
    and everything up to the next exchange (shingle hashing, MinHash
    folds, bigram explodes) would otherwise run on one core. But each
    extra partition is one more task running cold, interpreted code,
    so the count follows the input's bytes, not the slot count: a small
    corpus stays one task with no exchange. Hash on a unique key, not
    round-robin: round-robin pays a hidden per-map-task sort of the
    full rows, text included, inside the exchange
    (``spark.sql.execution.sortBeforeRepartition``, needed for retry
    determinism), while hashing a unique key spreads just as evenly,
    skips that sort and is retry-deterministic by construction. An
    explicit count also keeps AQE from coalescing the partitions back
    into one task (REPARTITION_BY_NUM shuffles are exempt)."""
    n = spread_partitions(df)
    return df if n == 1 else df.repartition(n, key)


def literal_table(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A constant relation built in the JVM: ``rows`` (tuples in column
    order; nested structs as dicts) under exactly the schema ``ddl``
    declares, nullability included.

    Every constant table in the package goes through here, never through
    ``spark.createDataFrame(list)``. That call becomes ``sc.parallelize``
    plus an identity re-pickling ``map`` (a PythonRDD), so each execution
    of the query launches one task per ``defaultParallelism`` slice that
    waits on a Python worker — for a 10-row lexicon, seconds of executor
    time. A ``pyarrow.Table`` instead becomes a ``LocalRelation``, which
    Spark plans as ``LocalTableScan`` (no RDD, no Python worker) as long
    as the Arrow data is under
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default); above it Spark parallelizes the Arrow batches as an RDD,
    so this is for small literal tables. Empty ``rows`` give an empty
    relation with the same schema.

    ``pyarrow`` is imported here, not at module level, so importing the
    registry does not pay for it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    names = schema.fieldNames()
    data = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(data)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables and register each as a temp view, so both
    the DataFrame API and ``spark.sql`` formulations are available
    (SURVEY.md §3.2)."""
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
