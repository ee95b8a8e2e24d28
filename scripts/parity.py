"""Local replica of the driver's t2 oracle check (SURVEY.md §5).

Runs every registered query at a given SF, runs its DuckDB oracle SQL,
and compares: row count, column-name set, and order-insensitive values
(columns sorted by name, rows sorted, exact equality after
normalization). Flags float values that match only within tolerance —
those are hash-mismatch risks on the driver side.

Usage:  python scripts/parity.py [sf_dir] [key ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
from decimal import Decimal

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    return v


def sortkey(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


_SPARK_INT_TYPES = frozenset({"tinyint", "smallint", "int", "bigint"})
_DUCK_INT_TYPES = frozenset({"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"})


def type_drift(spark_dtypes, duck_cols, duck_types):
    """Detect cross-engine result-type drift that value comparison (after
    Decimal→float normalization) hides but the driver's value-hash does
    not — the class behind the r3 ``scan_schema_evolution`` /
    ``maintenance_compact_small_files`` hash-fails, where an uncast
    DuckDB SUM(integer) produced HUGEINT against Spark's BIGINT.

    Returns a list of human-readable drift descriptions (empty = clean).
    """
    spark_map = dict(spark_dtypes)
    drifts = []
    for col, dt in zip(duck_cols, duck_types):
        duck_t = str(dt).upper()
        spark_t = spark_map.get(col)
        if spark_t is None:
            continue
        spark_base = spark_t.split("(")[0]
        if spark_base in _SPARK_INT_TYPES:
            if duck_t == "HUGEINT" or duck_t.startswith("DECIMAL"):
                drifts.append(
                    f"col {col!r}: duck {duck_t} vs spark {spark_t}"
                    " — wrap the oracle aggregate in CAST(... AS BIGINT)"
                )
            elif duck_t in ("DOUBLE", "FLOAT"):
                drifts.append(
                    f"col {col!r}: duck {duck_t} vs spark integer {spark_t}"
                    " — int-vs-float render drift"
                )
        elif spark_base in ("double", "float"):
            if duck_t in _DUCK_INT_TYPES or duck_t == "HUGEINT" or duck_t.startswith(
                "DECIMAL"
            ):
                drifts.append(
                    f"col {col!r}: duck {duck_t} vs spark {spark_t}"
                    " — cast the oracle to DOUBLE"
                )
        elif spark_base == "decimal" and duck_t in ("DOUBLE", "FLOAT"):
            drifts.append(
                f"col {col!r}: duck {duck_t} vs spark {spark_t}"
                " — decimal-vs-float render drift"
            )
    return drifts


def compare(spark_rows, spark_cols, duck_rows, duck_cols):
    """Returns (ok, message). Mirrors the driver: sort columns by name,
    sort rows, compare values."""
    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"schema mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return False, f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = sorted(
        (tuple(normalize(r[i]) for i in s_order) for r in spark_rows), key=sortkey
    )
    d = sorted(
        (tuple(normalize(r[i]) for i in d_order) for r in duck_rows), key=sortkey
    )
    n_fuzzy = 0
    for i, (sr, dr) in enumerate(zip(s, d)):
        for j, (sv, dv) in enumerate(zip(sr, dr)):
            if sv == dv:
                continue
            if (
                isinstance(sv, float)
                and isinstance(dv, float)
                and abs(sv - dv) <= 1e-9 * max(1.0, abs(sv), abs(dv))
            ):
                n_fuzzy += 1
                continue
            col = sorted(spark_cols)[j]
            return False, (
                f"value mismatch row {i} col {col!r}: spark={sv!r} duck={dv!r}"
            )
    if n_fuzzy:
        return True, f"OK but {n_fuzzy} float cells matched only fuzzily (hash risk!)"
    return True, "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from movierecommender_sentimentanalysissytem_spark import registry
    from movierecommender_sentimentanalysissytem_spark.session import local_session

    spark = local_session(
        8,
        "parity",
        {
            "spark.sql.shuffle.partitions": os.environ.get("PARITY_SHUFFLE_PARTITIONS", "32"),
            "spark.sql.adaptive.enabled": os.environ.get("PARITY_AQE", "true"),
            "spark.driver.memory": "8g",
        },
    )

    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = registry.queries()
    oracles = registry.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for key in sorted(qs):
        if only and key not in only:
            continue
        try:
            sdf = qs[key](spark, sf_dir)
            spark_rows = sdf.collect()
            spark_cols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {key}: spark error: {exc}")
            n_fail += 1
            continue
        if key not in oracles:
            print(f"rows {key}: {len(spark_rows)} rows (rows-only check)")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[key])
            duck_cols = list(rel.columns)
            duck_types = list(rel.types)
            duck_rows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {key}: duckdb error: {exc}")
            n_fail += 1
            continue
        ok, msg = compare(spark_rows, spark_cols, duck_rows, duck_cols)
        if ok:
            drifts = type_drift(sdf.dtypes, duck_cols, duck_types)
            if drifts:
                ok, msg = False, "type drift (hash risk): " + "; ".join(drifts)
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        print(f"{status} {key}: {msg} ({len(spark_rows)} rows)")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
