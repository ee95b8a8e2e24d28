"""Source layer: ``sources.tables.table`` infers a parquet file's
schema once per file version. Pinned with Spark job counts, not
timings, so host noise cannot make these pass or fail."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from movierecommender_sentimentanalysissytem_spark.sources.tables import table
from tests.conftest import SF_SMALL


def _jobs(spark) -> int:
    """Id the next Spark job will get: the delta counts jobs launched."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_table_reuses_inferred_schema(spark):
    first = table(spark, SF_SMALL, "lineitem").schema
    j0 = _jobs(spark)
    second = table(spark, SF_SMALL, "lineitem")
    assert _jobs(spark) - j0 == 0, "second read inferred the schema again"
    assert second.schema == first


def test_table_reinfers_schema_of_a_rewritten_file(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    j0 = _jobs(spark)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    assert _jobs(spark) - j0 >= 1, "first read of a new file must infer"
    table(spark, str(tmp_path), "region")

    pq.write_table(
        pa.table({"r_regionkey": [7], "r_comment": ["c"], "r_extra": [1.5]}), path
    )
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment", "r_extra"]
    assert [tuple(r) for r in df.collect()] == [(7, "c", 1.5)]
