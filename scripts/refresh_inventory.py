"""Regenerate the auto-maintained inventory sections: SURVEY.md §2.13
(extras table + inventory count line) and the README surface paragraph.

Reads the package, SURVEY.md and README.md of the checkout this script
sits in, whatever the working directory.

Usage: python scripts/refresh_inventory.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from movierecommender_sentimentanalysissytem_spark.registry import (
        _SECTION2,
        oracle_sql,
        queries,
    )

    qs, osql = queries(), oracle_sql()
    extras = [k for k in sorted(qs) if k not in _SECTION2]
    rows = []
    for k in extras:
        fn = qs[k].__wrapped__ if hasattr(qs[k], "__wrapped__") else qs[k]
        doc = (fn.__doc__ or "").strip().split("\n")[0].rstrip(".")
        rows.append(f"| `{k}` | {doc} | {'SQL' if k in osql else 'rows'} |")

    survey = ROOT / "SURVEY.md"
    s = survey.read_text()
    marker = "### 2.13 Extras beyond the mandated inventory"
    start = s.index(marker)
    end = s.index("**Inventory count:", start)
    table = "\n".join(rows)
    s = (
        s[:start]
        + f"""{marker}

Auto-generated by scripts/refresh_inventory.py ({len(extras)} keys beyond
the §2.1-§2.12 tables; "SQL" = exact DuckDB hash oracle, "rows" =
rows-only driver check with quality/recall tests in `tests/`).

| key | what | oracle |
| --- | --- | --- |
{table}

"""
        + s[end:]
    )
    s = re.sub(
        r"\*\*Inventory count: .*?\*\*",
        f"**Inventory count: {len(qs)} keys (89 mandated §2.1-§2.12 + "
        f"{len(extras)} extras), {len(osql)} with full DuckDB-hash oracles; "
        f"{len(qs) - len(osql)} rows-only (ML model outputs, LSH/IVF ANN "
        f"recall paths).**",
        s,
        count=1,
        flags=re.S,
    )
    survey.write_text(s)

    readme = ROOT / "README.md"
    r = readme.read_text()
    r = re.sub(
        r"\d+ registered query keys, \d+ SQL-checked exactly",
        f"{len(qs)} registered query keys, {len(osql)} SQL-checked exactly",
        r,
    )
    readme.write_text(r)
    print(f"{len(qs)} keys, {len(osql)} oracles, {len(extras)} extras")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
