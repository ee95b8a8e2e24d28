"""Empirical 10x scale smoke: replicate the sf0.1 fixtures into a
disjoint 10x-size corpus and measure the flagship heavy plans at both
sizes. A plan that is linear in the data should cost ~10x wall (modulo
fixed overheads); anything super-linear (a quadratic term escaping its
cap, a shuffle that degenerates) shows up as a blow-up factor well
beyond the replication factor.

Replication is DISJOINT by construction — each replica shifts its join
keys (orderkey/custkey/suppkey, doc_id) and prefixes document words
with a replica tag — so the expected cost model is exactly "10 copies
of the sf0.1 problem": near-dup groups do not span replicas, the
supplier graph becomes 10 disconnected copies, the CF user base grows
10x with the item catalog fixed (the realistic growth axis: users
scale, catalogs don't).

Usage: python scripts/scale_smoke.py [replicas]
Writes the replicated tables under /tmp/scale_smoke_<r>x/ (reused if
present) and prints per-key seconds at 1x and Nx with the blow-up
factor.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from movierecommender_sentimentanalysissytem_spark.session import env_cpus, local_session

SF_DIR = "/root/testdata/sf0.1"

# Keys whose scale behavior this smoke pins, with the growth axis the
# replication exercises:
#   rec_item_similarity   capped pairwise CF — users x10, catalog fixed
#   dedup_near_minhash    banded LSH — corpus x10, dup density constant
#   graph_triangle_count  degree-oriented intersection — 10 disjoint graphs
#   text_tfidf            explode + two aggregates — corpus x10
#   sim_threshold_join_lsh  bucketed candidates — corpus x10, near-linear
# The brute-force sibling (sim_threshold_join) is deliberately NOT in
# the default list: its work is quadratic BY CONTRACT (the exact oracle
# baseline), so at 10x it costs ~100x — run it explicitly
# (`python scripts/scale_smoke.py 10 sim_threshold_join ...`) when you
# want the brute-vs-LSH scale gap on the record.
KEYS = (
    "rec_item_similarity",
    "dedup_near_minhash",
    "graph_triangle_count",
    "text_tfidf",
    "sim_threshold_join_lsh",
    # round 8: the exact n-gram pair — jaccard's inverted-index rewrite
    # (addendum 5) must STAY sub-linear; containment is the capped
    # control
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
)

# Key shifts chosen far above the sf0.1 id ranges (orderkey max 6e5,
# custkey 1.5e4, suppkey 1e3, doc_id 2e4).
ORDER_SHIFT = 10_000_000
CUST_SHIFT = 1_000_000
SUPP_SHIFT = 100_000
DOC_SHIFT = 1_000_000
VEC_SHIFT = 1_000_000


def _replicate(spark: SparkSession, out: str, replicas: int) -> None:
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")

    def shifted(df, i):
        out_df = df
        if "l_orderkey" in df.columns:
            out_df = (
                out_df.withColumn("l_orderkey", F.col("l_orderkey") + i * ORDER_SHIFT)
                .withColumn("l_suppkey", F.col("l_suppkey") + i * SUPP_SHIFT)
            )
        if "o_orderkey" in df.columns:
            out_df = (
                out_df.withColumn("o_orderkey", F.col("o_orderkey") + i * ORDER_SHIFT)
                .withColumn("o_custkey", F.col("o_custkey") + i * CUST_SHIFT)
            )
        if "event_id" in df.columns:
            # user base x10, per-user event streams preserved exactly
            out_df = out_df.withColumn(
                "event_id", F.col("event_id") + i * ORDER_SHIFT
            ).withColumn("user_id", F.col("user_id") + i * CUST_SHIFT)
        if "vec_id" in df.columns:
            # per-replica component ROTATION: preserves norms and all
            # in-replica geometry exactly, while cross-replica cosines
            # decorrelate to ~N(0, 1/64) on this near-isotropic corpus
            # (essentially never >= the 0.4 join threshold) — so the
            # similarity workload is ~10 disjoint copies of 1x
            roll = (i * 7) % 64
            if roll:
                out_df = out_df.withColumn(
                    "embedding",
                    F.concat(
                        F.slice(F.col("embedding"), roll + 1, 64 - roll),
                        F.slice(F.col("embedding"), 1, roll),
                    ),
                )
            out_df = out_df.withColumn(
                "vec_id", F.col("vec_id") + i * VEC_SHIFT
            )
        if "doc_id" in df.columns:
            # per-word replica prefix: replicas share NO shingles, so
            # near-dup groups stay within a replica (dup density is
            # constant, pair work scales linearly by construction)
            out_df = out_df.withColumn(
                "doc_id", F.col("doc_id") + i * DOC_SHIFT
            ).withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(F.lit(f"r{i}"), w),
                    ),
                    " ",
                ),
            )
        return out_df

    for name, base in (
        ("lineitem", li),
        ("orders", o),
        ("documents", d),
        ("embeddings", emb),
        ("events", ev),
    ):
        parts = [shifted(base, i) for i in range(replicas)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(32).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
    # the remaining tables are read by some keys' lineage but not
    # scaled by these plans — symlink-equivalent copies
    for name in "region nation customer supplier part".split():
        spark.read.parquet(f"{SF_DIR}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{name}.parquet")


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    keys = tuple(sys.argv[2:]) or KEYS
    out = f"/tmp/scale_smoke_{replicas}x"
    # The bench session shape matters here (round 8): the 1x fixtures
    # are ONE file per table while the replicated corpus is 32, and
    # without the small split size the 1x scan stage serializes on one
    # core, so scan-bound keys report flattering sub-1x "blowups"
    # (graph_pagerank measured 0.8x under the old config, 2.0x aligned).
    spark = local_session(env_cpus(), "scale_smoke", {"spark.driver.memory": "16g"})

    if not os.path.exists(f"{out}/lineitem.parquet"):
        t0 = time.time()
        _replicate(spark, out, replicas)
        print(f"replicated {replicas}x fixtures in {time.time()-t0:.1f}s")

    from movierecommender_sentimentanalysissytem_spark import registry

    qs = registry.queries()

    def run(key: str, sf_dir: str) -> float:
        t0 = time.time()
        qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # Report WARM timings at both sizes: the first touch of a
    # freshly-written replica set is page-cache-cold and measures the
    # disk, not the plan (observed 3-4x inflation on the first 10x
    # run). Run each (key, size) twice, keep the second.
    print(f"{'key':28s} {'1x':>8s} {f'{replicas}x':>8s} {'blowup':>7s}")
    for key in keys:
        run(key, SF_DIR)
        t1 = run(key, SF_DIR)
        run(key, out)
        tn = run(key, out)
        print(f"{key:28s} {t1:8.2f} {tn:8.2f} {tn / t1:6.1f}x")


if __name__ == "__main__":
    main()
