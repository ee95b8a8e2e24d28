"""One sweep over every registered query's physical plan: regenerate
PLAN_FINGERPRINTS.json and run the static plan audit.

Each key outside ``plans/audit.SKIP`` is built once and its plan
objects walked once (``plans/fingerprint.plan_nodes``); the walk gives
both the key's fingerprint and its audit flags (``plans/audit.py``).
The snapshot is the plan-shape baseline every key is diffed against:
tests/test_plan_fingerprints.py runs the same sweep in the pytest gate
and checks every stored fingerprint, the key set and the flags. Run
this after an intentional plan change and commit the JSON diff — the
diff IS the review artifact. Prints one ``FLAG`` line per flagged key
and exits non-zero on any build error or audit flag.

Usage: python scripts/plan_fingerprints.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)

    from movierecommender_sentimentanalysissytem_spark.plans.audit import (
        audit_plans,
    )
    from movierecommender_sentimentanalysissytem_spark.session import local_session

    spark = local_session(8, "plan-fingerprints")
    fps, flags = audit_plans(spark, sf_dir)
    with open(os.path.join(root, "PLAN_FINGERPRINTS.json"), "w") as fh:
        json.dump(fps, fh, indent=1, sort_keys=True)
    n_err = sum(1 for v in fps.values() if "__error__" in v)
    for f in flags:
        print(f"FLAG {f}")
    print(f"{len(fps)} fingerprints written, {n_err} errors")
    print(f"audited {len(fps) - n_err} plans, {len(flags)} flags")
    return 1 if n_err or flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
