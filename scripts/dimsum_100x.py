"""DIMSUM at two decades: wall + sampling-rate behavior at 1x/10x/100x
(round-9 verdict item 4).

`rec_item_similarity_dimsum` is the stated 100 TB path for the capped
CF self-join (`rec_item_similarity`), but round 8 measured it only at
10x (1.5x wall). This script reuses the scale_smoke replica corpora
(users scale with replicas, item catalog FIXED — the realistic growth
axis, and the one that stresses DIMSUM most: item norms grow ~sqrt(R)
with replicas R, so the keep probability min(1, sqrt(gamma)/||c_i||)
FALLS as the corpus grows and sampling does strictly more work per
decade) and reports, per SF:

  - wall for the exact capped-CF key and the DIMSUM key (warm, 2nd run)
  - the sampling rate DIMSUM actually achieved: kept entries / capped
    ratings entries, plus the fraction of items whose threshold is
    saturated (thr = 10000, i.e. no sampling on that column)
  - candidate-pair volume both ways (the quantity sampling bounds):
    co-rating pairs entering the groupBy, SUM over users of C(n_u, 2)

Usage: python scripts/dimsum_100x.py [replicas ...] (default: 10 100)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from movierecommender_sentimentanalysissytem_spark.session import env_cpus, local_session

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    replicas = [int(a) for a in sys.argv[1:]] or [10, 100]
    spark = local_session(env_cpus(), "dimsum_100x", {"spark.driver.memory": "16g"})

    from scripts.scale_smoke import _replicate

    dirs = [("1x", SF_DIR)]
    for r in replicas:
        out = f"/tmp/scale_smoke_{r}x"
        if not os.path.exists(f"{out}/lineitem.parquet"):
            t0 = time.time()
            _replicate(spark, out, r)
            print(f"replicated {r}x fixtures in {time.time()-t0:.1f}s")
        dirs.append((f"{r}x", out))

    from movierecommender_sentimentanalysissytem_spark import registry
    from movierecommender_sentimentanalysissytem_spark.operators.recommender import (
        dimsum_sampling_lineage,
    )
    from movierecommender_sentimentanalysissytem_spark.plans.caching import (
        release_scoped_caches,
    )

    qs = registry.queries()

    def wall(key: str, sf_dir: str) -> float:
        release_scoped_caches()
        qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_scoped_caches()
        t0 = time.time()
        qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def sampling_stats(sf_dir: str) -> dict:
        """Reads off what the sampler did via the SAME lineage the
        registered key runs (dimsum_sampling_lineage — shared helper,
        r10 ADVICE: the former hand-duplicated expressions here would
        silently drift if the key's constants or hash changed)."""
        release_scoped_caches()
        ratings, probs, kept = dimsum_sampling_lineage(spark, sf_dir)

        def pair_volume(entries) -> int:
            per_u = entries.groupBy("u").agg(F.count(F.lit(1)).alias("n"))
            row = per_u.agg(
                F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p")
            ).collect()[0]
            return int(row.p or 0)

        stats = {
            "entries": ratings.count(),
            "kept": kept.count(),
            "items": probs.count(),
            "saturated": probs.filter(F.col("thr") == 10000).count(),
            "pairs_exact": pair_volume(ratings),
            "pairs_sampled": pair_volume(kept),
        }
        release_scoped_caches()
        return stats

    print(
        f"{'sf':>5s} {'exactCF':>8s} {'dimsum':>8s} "
        f"{'keep%':>6s} {'sat%':>6s} {'pairs_exact':>12s} {'pairs_dimsum':>12s} {'pair_reduction':>14s}"
    )
    base = {}
    for label, d in dirs:
        t_exact = wall("rec_item_similarity", d)
        t_dim = wall("rec_item_similarity_dimsum", d)
        s = sampling_stats(d)
        keep = 100.0 * s["kept"] / max(s["entries"], 1)
        sat = 100.0 * s["saturated"] / max(s["items"], 1)
        red = s["pairs_exact"] / max(s["pairs_sampled"], 1)
        print(
            f"{label:>5s} {t_exact:8.2f} {t_dim:8.2f} "
            f"{keep:6.1f} {sat:6.1f} {s['pairs_exact']:12d} {s['pairs_sampled']:12d} {red:13.1f}x"
        )
        if label == "1x":
            base = {"exact": t_exact, "dim": t_dim}
        else:
            print(
                f"      blowup: exactCF {t_exact/base['exact']:.1f}x, "
                f"dimsum {t_dim/base['dim']:.1f}x"
            )


if __name__ == "__main__":
    main()
