"""Source layer: ``sources.tables.table`` infers a parquet file's
schema once per file version, and ``literal_table`` builds constant
relations in the JVM. Pinned with Spark job counts and plan shapes, not
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
    table,
)
from perfbench.probes import SparkProbes
from tests.conftest import SF_SMALL


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
