"""Source layer: ``sources.tables.table`` infers a parquet file's
schema once per file version, ``spread_scan`` sizes a one-file scan's
repartition to its bytes, ``literal_table`` builds constant relations
in the JVM, and ``rating_events`` is the one home of the derived
ratings join. Pinned with Spark job counts and plan shapes, not
timings, so host noise cannot make these pass or fail."""

from __future__ import annotations

import ast
import contextlib
import io
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

import movierecommender_sentimentanalysissytem_spark as pkg
from movierecommender_sentimentanalysissytem_spark.sources.tables import (
    literal_table,
    spread_partitions,
    spread_scan,
    table,
)
from perfbench.probes import SparkProbes
from tests.conftest import SF_ORACLE, SF_SMALL, SF_TENTH


def test_table_reuses_inferred_schema(spark):
    first = table(spark, SF_SMALL, "lineitem").schema
    j0 = SparkProbes(spark).jobs()
    second = table(spark, SF_SMALL, "lineitem")
    assert SparkProbes(spark).jobs() - j0 == 0, "second read inferred the schema again"
    assert second.schema == first


def test_table_reinfers_schema_of_a_rewritten_file(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    j0 = SparkProbes(spark).jobs()
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    assert SparkProbes(spark).jobs() - j0 >= 1, "first read of a new file must infer"
    table(spark, str(tmp_path), "region")

    pq.write_table(
        pa.table({"r_regionkey": [7], "r_comment": ["c"], "r_extra": [1.5]}), path
    )
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment", "r_extra"]
    assert [tuple(r) for r in df.collect()] == [(7, "c", 1.5)]


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


@contextlib.contextmanager
def _shuffle_partitions(spark, n: int):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_spread_scan_leaves_a_small_scan_unshuffled(spark):
    """The sf0.01 corpus (65 KB) stays one partition with no exchange,
    and sizing it plans the scan without running a Spark job."""
    docs = table(spark, SF_ORACLE, "documents")
    j0 = SparkProbes(spark).jobs()
    assert spread_partitions(docs) == 1
    plan = _physical_plan(spread_scan(docs, "doc_id"))
    assert SparkProbes(spark).jobs() - j0 == 0
    assert "Exchange" not in plan, plan


def test_spread_scan_splits_a_large_scan_by_bytes(spark):
    """The sf0.1 corpus (595 KB) is five 128 KiB chunks: 4 partitions
    on 4 slots, 5 (not 32) on 32, hashed on the key."""
    docs = table(spark, SF_TENTH, "documents")
    with _shuffle_partitions(spark, 4):
        assert spread_partitions(docs) == 4
        plan = _physical_plan(spread_scan(docs, "doc_id"))
        assert "Exchange hashpartitioning(doc_id#" in plan, plan
        assert ", 4), REPARTITION_BY_NUM" in plan, plan
    with _shuffle_partitions(spark, 32):
        assert spread_partitions(docs) == 5


@pytest.mark.parametrize("slots", [1, 3, 64])
@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_ORACLE, SF_TENTH])
def test_spread_partitions_stays_within_one_and_the_slots(spark, sf_dir, slots):
    docs = table(spark, sf_dir, "documents")
    with _shuffle_partitions(spark, slots):
        assert 1 <= spread_partitions(docs) <= slots
        # an empty relation's size estimate is 0 bytes
        assert spread_partitions(docs.limit(0)) == 1


@pytest.mark.parametrize(
    "ddl, rows",
    [
        ("word string, score bigint", [("fast", 3), ("slow", -3)]),
        ("n bigint not null, label string", [(1, "a"), (2, None)]),
        ("n_rows bigint, max_ts string", []),
        (
            "polygon_id int, vs array<struct<px: double, py: double>>",
            [(1, [{"px": 0.0, "py": 1.5}, {"px": 2.0, "py": None}]), (2, [])],
        ),
    ],
    ids=["flat", "not-null", "empty", "array-of-struct"],
)
def test_literal_table_is_a_local_scan_with_the_ddl_schema(spark, ddl, rows):
    df = literal_table(spark, rows, ddl)
    # StructType equality compares nullability at every nesting level
    assert df.schema == StructType.fromDDL(ddl)
    plan = _physical_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    got = [r.asDict(recursive=True) for r in df.collect()]
    names = df.schema.fieldNames()
    assert got == [dict(zip(names, r)) for r in rows]


def test_only_literal_table_builds_constant_relations():
    """``createDataFrame`` on Python data and ``parallelize`` ship rows
    through a Python-worker RDD on every execution; the package builds
    every constant relation with ``sources.tables.literal_table``."""
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == root / "sources" / "tables.py":
            allowed = {
                id(n)
                for f in ast.walk(tree)
                if isinstance(f, ast.FunctionDef) and f.name == "literal_table"
                for n in ast.walk(f)
            }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("createDataFrame", "parallelize")
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders


def test_only_rating_events_joins_the_ratings_fixture():
    """The derived ratings fixture (user = ``o_custkey``, item =
    ``l_partkey``) has one home, ``sources.tables.rating_events``: no
    other package function names both columns. ``quality_fk_matrix``
    is exempt: it audits each foreign key on its own, not ratings."""
    root = Path(pkg.__file__).parent
    allowed = {
        ("sources/tables.py", "rating_events"),
        ("operators/statistics.py", "quality_fk_matrix"),
    }
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for f in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(f, ast.FunctionDef) or (rel, f.name) in allowed:
                continue
            names = {
                n.value
                for stmt in f.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
            }
            if {"o_custkey", "l_partkey"} <= names:
                offenders.append(f"{rel}:{f.lineno} {f.name}")
    assert not offenders, offenders
