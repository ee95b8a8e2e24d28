"""Generate PLANS.md: formatted physical plans for the headline bench
queries, annotated with the plan features each one is expected to show
(broadcasts, pushed filters, WindowGroupLimit, partial aggregation).

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys

EXPECT = {
    "agg_groupby": "partial+final HashAggregate, pushed l_shipdate filter",
    "join_star_multiway": "BroadcastHashJoin for nation/region dims",
    "win_row_number_topk": "WindowGroupLimit (per-group top-k, no full sort)",
    "sort_multikey": "TakeOrderedAndProject (top-k without global sort)",
    "text_tfidf": "single tokens explode and (doc_id, word) exchange; df is a word-window count over tf",
    "dedup_near_minhash": "one band-key shuffle under two stacked windows (bucket size/hub, then the member list of buckets within the cap), pairs emitted per row, star pairs for oversized buckets, no self-join, one cache (hv)",
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


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(0, "/root/repo")
    from pyspark.sql import SparkSession

    from movierecommender_sentimentanalysissytem_spark import registry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Auto-generated by `scripts/dump_plans.py` (sf0.001 fixtures; the",
        "plan SHAPE is scale-invariant — AQE re-sizes, it does not",
        "re-shape). Each section notes the feature the plan must show;",
        "`tests/test_plans.py` asserts these shapes in CI.",
        "",
    ]
    for key, note in EXPECT.items():
        df = qs[key](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the tree, drop the verbose per-node detail sections
        tree = plan.split("\n\n")[0]
        out += [f"## {key}", "", f"Expected: {note}.", "", "```", tree, "```", ""]
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(EXPECT)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
