"""Dump ``.explain("formatted")`` plans of registry keys.

No arguments: regenerate PLANS.md, the plan tree of each ``EXPECT`` key
on the sf0.001 fixtures next to $SPARK_GRAFT_SF_DIR (default: the
sf0.1 fixtures), under the plan feature it must show.
``<outdir> <tag> [key ...]``: write each key's full plan (default: the
bench HEADLINE set) to ``<outdir>/<key>_<tag>.txt`` under the bench
session at $SPARK_GRAFT_SF_DIR, so a plan-shape claim can be checked
without running Spark.

Usage: python scripts/dump_formatted_plans.py [<outdir> <tag> [key ...]]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EXPECT = {
    "agg_groupby": "partial+final HashAggregate, pushed l_shipdate filter",
    "join_star_multiway": "BroadcastHashJoin for nation/region dims",
    "win_row_number_topk": "WindowGroupLimit (per-group top-k, no full sort)",
    "sort_multikey": "TakeOrderedAndProject (top-k without global sort)",
    "text_tfidf": "single tokens explode and (doc_id, word) exchange; df is a word-window count over tf",
    "dedup_near_minhash": "one band-key shuffle under two stacked windows (bucket size/hub, then the (doc_id, hvals) member list of buckets within the cap and the hub's set for oversized ones), pairs emitted per row with both hash sets and Jaccard-checked there, star pairs for oversized buckets, no cache, no join",
    "sim_topk_neighbors": "broadcast query block, no CartesianProduct",
    "ml_eval_rmse": "single ratings lineage, window over item partition",
    "join_range_binned": "hash equi-join on value bucket, no nested loop",
    "join_lateral": "decorrelated to window + equi-join",
    "tpch_q18_large_orders": "broadcast of HAVING-filtered agg keys, TakeOrderedAndProject",
    "tpch_q21_waiting_suppliers": "semi+anti both shuffled on l_orderkey, broadcast supplier dim",
    "embedding_centroid_assign": "single-row broadcast candidate array, row-local fold + array_min argmax (no corpus shuffle)",
    "pipeline_corpus_funnel": "digest-keyed dedup exchanges, broadcast benchmark shingles, 1-row stage aggs",
    "timeseries_ewma": "single user_id shuffle, in-order array fold (no window recursion)",
    "skyline_pareto": "bucketed local skylines (parallel windows) then bounded global pass, no all-pairs join",
    "graph_triangle_count": "degree-oriented edges, wedge join on middle vertex, LeftSemi closing probe",
    "curation_shard_token_budget": "per-bucket parallel cumsum windows + broadcast bucket offsets (distributed prefix sum)",
    "tpch_q2_min_cost_supplier": "window MIN decorrelation over l_partkey, broadcast region-filtered supplier dim",
    "win_ntile_percent": "two-pass global rank: ONE bkt hash exchange + parallel per-bucket windows; counts partial-agg map-side, broadcast O(buckets) offsets; no whole-table SinglePartition",
    "join_interval_overlap": "binned rewrite: hash equi-join on (cust, bin) with the exact overlap predicate as join filter; no nested loop",
    "quality_benford_digits": "digit counts persisted once; both the counts branch and the 1-row total broadcast read the InMemoryRelation",
    "sim_topk_ivf": "broadcast centroids for both multi-assignment (2 cells/vector) and probe selection; probe join keyed on cell (partition pruning at scale); pair dedup then exact cosine inside probed cells",
}

HEADER = [
    "# PLANS — physical plans of the headline queries",
    "",
    "Auto-generated by `scripts/dump_formatted_plans.py` (sf0.001 fixtures; the",
    "plan SHAPE is scale-invariant — AQE re-sizes, it does not",
    "re-shape). Each section notes the feature the plan must show;",
    "`tests/test_plans.py` asserts these shapes in CI.",
    "",
]


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

    plans_md = len(sys.argv) == 1
    # building a query is not plan-only: eager scoped persists
    # materialize caches during the build, and the default 1g driver
    # heap OOMs on the heavier keys at sf0.1 (r15)
    spark = local_session(
        8 if plans_md else env_cpus(),
        "mrsas-plan-dump",
        {"spark.driver.memory": "16g"},
    )
    qs = registry.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    if plans_md:
        sf_small = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
        out = list(HEADER)
        for key, note in EXPECT.items():
            # keep the tree, drop the verbose per-node detail sections
            tree = formatted(qs[key](spark, sf_small)).split("\n\n")[0]
            out += [f"## {key}", "", f"Expected: {note}.", "", "```", tree, "```", ""]
        with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
            fh.write("\n".join(out))
        print(f"wrote PLANS.md ({len(EXPECT)} plans)")
        return 0

    outdir, tag, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
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
