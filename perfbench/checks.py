"""Output checks, run after the timed passes.

Oracle-backed keys are compared with their DuckDB oracle by the
repository's parity comparison (row count, column names, values
order-insensitively, result-type drift). Keys without an oracle (model
output) are checked for their columns and row count on the benchmark's
fixed data.
"""

from __future__ import annotations

# columns and row count of the keys that have no oracle, on the
# benchmark's generated sf0.01 data
ROWS_ONLY: dict[str, tuple[tuple[str, ...], int]] = {
    "ml_als_recommend": (("user", "rec_rank", "item"), 7500),
}


class OutputChecker:
    def __init__(self, data_dir: str, oracles: dict[str, str]) -> None:
        import duckdb

        from movierecommender_sentimentanalysissytem_spark.sources.tables import TABLES

        self.oracles = oracles
        self.con = duckdb.connect()
        self.con.sql("SET TimeZone='UTC'")
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def check(self, key: str, df) -> str | None:
        """Collect ``df`` and return None if it is right, else why not."""
        from scripts.parity import compare, type_drift

        rows = df.collect()
        if key not in self.oracles:
            cols, n = ROWS_ONLY[key]
            if tuple(df.columns) != cols or len(rows) != n:
                return f"expected {n} rows of {cols}, got {len(rows)} of {tuple(df.columns)}"
            return None
        rel = self.con.sql(self.oracles[key])
        duck_cols, duck_types = list(rel.columns), list(rel.types)
        ok, msg = compare(rows, df.columns, rel.fetchall(), duck_cols)
        if not ok:
            return msg
        drift = type_drift(df.dtypes, duck_cols, duck_types)
        return "; ".join(drift) if drift else None

    def close(self) -> None:
        self.con.close()
