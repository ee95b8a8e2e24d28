"""Static plan audit (SURVEY.md §7 phase 8): build every registered
query once, walk its physical plan and flag what would not survive a
100× scale-up or the driver's correctness check.

Flags:
- CartesianProduct anywhere
- BroadcastNestedLoopJoin not on the reviewed allowlist (acceptable
  only when one side is provably tiny)
- single-partition Exchange (global sort/window without partitioning)
  that is not a final top-k/limit
- Python execution node (rows shipped to a Python worker) not on the
  reviewed allowlist
- nondeterministic expression not on the reviewed allowlist (a stage
  retried after a lost executor recomputes it, and can emit rows that
  differ from the attempt its consumers already read)
- an allowlist entry whose rule did not fire (a stale exemption would
  hide the next regression of that key)
- a non-atomic output column on a key with an oracle

The same sweep computes every key's plan fingerprint (plans/
fingerprint.py): both read the plan objects through one walker,
``plan_nodes``. The pytest gate (tests/test_plan_fingerprints.py) and
``python scripts/plan_fingerprints.py [sf_dir]`` both run it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
    PlanNode,
    plan_nodes,
    tally,
)

# Keys whose plans MLlib builds: each has a flagged shape the engine
# cannot change, so the audit does not build them (their own tests in
# tests/test_ml_quality.py cover them). Both are rows-only, so the
# output-type rule loses nothing.
SKIP = {
    # CartesianProduct: recommendForAllUsers' blocked cross product of
    # user and item factor blocks (ml/pipelines.py:13)
    "ml_als_recommend",
    # Nondeterministic expression in a Project: VectorAssembler's
    # assembling UDF, which MLlib marks nondeterministic
    # (``UDF(struct(idf1, ..., idf2, ...)) AS features``). The values are
    # deterministic, as the key's docstring says; Spark cannot know it.
    "ml_sentiment_pipeline",
}

# Queries where a nested-loop broadcast is the intended plan (bounded
# side is a literal/tiny relation).
NLJ_OK = {
    "join_cross",          # 5 × 25 literal dims
    "sim_topk_neighbors",  # 10-row query block broadcast
    "sim_threshold_join",  # vec_id < vec_id band on one table
    "multimodal_columns",   # 1-row query vector cross join
    "win_ntile_percent",    # two-pass rank: the only SinglePartition is
                            # the per-partition-counts offset window
                            # (O(shuffle partitions) rows, not O(rows))
    "text_tfidf",           # 1-row N-docs scalar broadcast cross join
    "agg_hll_sketch_union",  # 1-row exact × 1-row sketch-estimate cross
    "corpus_mix_rebalance",   # 1-row corpus-total broadcast cross join
    "embedding_centroid_assign",  # n_labels-row centroid broadcast cross
    "tpch_q22_dormant_customers",  # 1-row avg-balance scalar broadcast
    "subq_any_all",           # 1-row ALL/ANY bound set broadcast
    "tpch_q11_important_stock",  # 1-row fraction-of-total threshold broadcast
    "quality_benford_digits",    # 1-row digit-total broadcast cross join
    "stats_chi_square",       # 1-row N-total and 1-row dof broadcast crosses
    "stats_psi_drift",        # 1-row decile-boundary broadcast cross join
    "text_keyword_cooccurrence",  # 1-row N-docs scalar broadcast cross
                                  # (same class as text_tfidf)
    "rec_association_rules",      # 1-row basket-count scalar broadcast
    "ml_target_encoding",         # 1-row global-mean scalar broadcast
    "profile_join_skew",          # 1-row moment-summary broadcast onto
                                  # the O(keys) top-5 rollup
    "embedding_random_projection",  # 8×64 literal-range sign matrix
                                    # (512 constant rows, built by cross
                                    # of two spark.range literals)
    "rec_rfm_segmentation",   # 1-row quartile-boundary broadcast cross join
    "rec_popularity_time_decay",  # 1-row max-order-date broadcast cross
    "ml_kmeans_lloyd",        # ≤4-row centroid broadcast crosses
                              # (embedding_centroid_assign class)
    "events_bot_detection",   # 1-row population-moment broadcast cross
    "stats_kaplan_meier",     # horizon + total 1-row broadcasts; both
                              # cumulative windows run over the
                              # O(distinct durations) rollup
    "tpch_abc_classification",  # 1-row grand-total broadcast; the
                                # cumulative window runs over the
                                # O(parts) dimension rollup
    "timeseries_decompose_additive",  # centered-MA window over the
                                      # O(days) rollup
    "rec_cold_start_backfill",  # 3-row top-items broadcast cross
                                # (bounded fan-out, not user×catalog)
    "quality_control_chart",    # 1-row centerline broadcast cross
    "stats_anova_oneway",       # 1-row grand-moments broadcast cross
    "text_collocation_llr",     # 1-row bigram-total broadcast cross
    "agg_share_of_parent",      # 1-row grand-total broadcast; parent
                                # window over the O(nations) rollup
    "quality_fk_matrix",        # seven 1-row × 1-row report crosses
    # reviewed single-partition sorts over BOUNDED rollups (the consumer-
    # aware SinglePartition check, live since round 5):
    "curation_shard_token_budget",  # offsets pass: O(buckets) rows
    "skyline_pareto",               # global pass over union of local
                                    # skylines: O(buckets · |sizes|) rows
    "timeseries_mom_growth",        # growth window: O(months) rows
    "stats_mann_whitney",           # rank-from-counts window: O(distinct
                                    # 2-dp event values), not O(rows)
    "events_cumulative_unique",     # growth-curve window: O(months) rows
    "timeseries_rate_spike",        # trailing-week window: O(days) rows
    "rec_diversity_coverage",       # Gini rank pass: O(catalog items)
                                    # rollup, not O(interactions)
    "timeseries_backlog_curve",     # running-sum window: O(days) spine
    "events_conversion_latency_quantiles",  # cumulative window over the
                                            # O(distinct delay seconds)
                                            # rollup + 1-row n broadcast
    "ml_learning_curve",   # 1-row global-mean/n_train broadcast cross
                           # per training fraction (3 bounded crosses)
    "stats_fdr_bh",        # BH rank + step-up windows over the O(tests)
                           # summary relation: O(segments) rows (25
                           # brands; thousands in production), never
                           # O(fact rows)
    "stats_permutation_test",  # two bounded broadcasts: the 99-row
                               # permutation index onto the O(users)
                               # sum relation, and the 1-row observed
                               # statistic onto the 99-row perm stats
    "stats_permutation_test_paired",  # same class: 99-row sign-flip
                                      # index onto the O(users) diff
                                      # relation + 1-row observed stat
    "geo_point_in_polygon",  # 3-row polygon-fence broadcast with bbox
                             # band predicates — the spatial-join
                             # asymmetry (billions of points, a tiny
                             # fence relation) is the operator's point
    "rec_eval_coverage_at_k",  # 4-row literal k-sweep broadcast onto
                               # the O(users)/O(items) min-rank rollups
    "sim_topk_ivf_probe_sweep",  # three 1-row count aggregates crossed
                                 # per probe width (bounded 4-width
                                 # sweep over one fitted index)
}


# Physical nodes that run Python: each ships rows to a Python worker
# and back, the cost a JVM-only plan never pays.
PYTHON_NODES = frozenset({
    "BatchEvalPython",
    "BatchEvalPythonUDTF",
    "ArrowEvalPython",
    "ArrowEvalPythonUDTF",
    "ArrowAggregatePython",
    "ArrowWindowPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
})

# Queries whose point is Python execution (UDF/UDTF/pandas keys, the
# multimodal kernels, the NumPy GEMM). Any other key gaining a Python
# node is flagged: a quiet Python hop is a per-row serialization cost.
PYTHON_OK = {
    "udf_python_scalar",      # BatchEvalPython: the row-at-a-time baseline
    "udf_arrow_optimized",    # ArrowEvalPython
    "udf_pandas_vectorized",  # ArrowEvalPython
    "udf_pandas_iter",        # ArrowEvalPython (iterator of batches)
    "udf_map_in_arrow",       # MapInArrow
    "udf_cogrouped_map",      # FlatMapCoGroupsInPandas
    "udaf_pandas_grouped",    # FlatMapGroupsInPandas
    "udtf",                   # BatchEvalPythonUDTF
    "udtf_table_argument",    # BatchEvalPythonUDTF
    "multimodal_decode_image",     # MapInPandas decoders/extractors over
    "multimodal_decode_audio",     # binary payloads
    "multimodal_frame_sample",
    "multimodal_feature_extract",
    "sim_matmul_topk",        # MapInPandas NumPy GEMM per batch
}


# Queries whose plans evaluate a nondeterministic expression by design:
# Spark treats every Python UDTF call as nondeterministic.
NONDETERMINISTIC_OK = {"udtf", "udtf_table_argument"}


# The driver hashes every oracle key's result cells after sorting them.
# Its pandas canonicalizer crashes on list cells (``TypeError:
# unhashable type: 'list'``: fn_array_setops, CORRECTNESS_r05.json), and
# struct cells (Row objects) and raw binary break the same sort. A key
# with an oracle must project composites as scalar encodings (the
# agg_collect ``concat_ws('|', sort_array(...))`` idiom), never raw.
_COMPOSITE = (ArrayType, MapType, StructType, BinaryType)


def _python(nodes) -> list[str]:
    """Names of the Python execution nodes among ``nodes``."""
    return [n.name for n in nodes if n.name in PYTHON_NODES]


def _nondeterministic(nodes) -> list[str]:
    """Names of the nodes holding an expression whose ``deterministic()``
    is false. A node's ``deterministic()`` is true only when all of its
    expressions are, so it screens out clean nodes in one call."""
    out = []
    for n in nodes:
        if n.obj.deterministic():
            continue
        exprs = n.obj.expressions()
        if not all(exprs.apply(i).deterministic() for i in range(exprs.size())):
            out.append(n.name)
    return out


def _consumers(nodes) -> list[str]:
    """Names of the plan nodes that directly consume a SinglePartition
    shuffle exchange."""
    return [
        n.parent
        for n in nodes
        if n.cls == "ShuffleExchangeExec"
        and n.obj.outputPartitioning().getClass().getSimpleName()
        == "SinglePartition$"
    ]


def _flags(
    key: str, nodes: list[PlanNode], schema: StructType | None = None
) -> list[str]:
    """The audit's flags for ``key``'s walked plan. ``schema`` is the
    key's output schema when it has an oracle, else None."""
    names = {n.name for n in nodes}
    nested = []
    if "BroadcastNestedLoopJoin" in names:
        nested.append("BroadcastNestedLoopJoin (unreviewed)")
    # A single-partition exchange is only a cliff when a global
    # SORT/WINDOW consumes it — every global aggregate legitimately
    # funnels its per-partition partials through one.
    for consumer in _consumers(nodes):
        if consumer.startswith(("Sort", "Window")):
            nested.append(f"SinglePartition exchange into {consumer}")
            break
    python = [f"Python execution node {n} (unreviewed)" for n in _python(nodes)[:1]]
    nondet = [
        f"Nondeterministic expression in {n} (unreviewed)"
        for n in _nondeterministic(nodes)[:1]
    ]
    flags = ["CartesianProduct"] if "CartesianProduct" in names else []
    for allowlist, name, found in (
        (NLJ_OK, "NLJ_OK", nested),
        (PYTHON_OK, "PYTHON_OK", python),
        (NONDETERMINISTIC_OK, "NONDETERMINISTIC_OK", nondet),
    ):
        if key not in allowlist:
            flags += found
        elif not found:
            flags.append(f"stale {name} entry (its rule did not fire)")
    if schema is not None:
        flags += [
            f"non-atomic output column {f.name} ({f.dataType.typeName()})"
            for f in schema.fields
            if isinstance(f.dataType, _COMPOSITE)
        ]
    return flags


def audit_plans(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, dict[str, int]], list[str]]:
    """Build and walk every registered query outside ``SKIP``. Returns
    each key's fingerprint (``{"__error__": ...}`` when its build or walk
    failed) and the audit's flag strings (empty list = clean)."""
    from movierecommender_sentimentanalysissytem_spark import registry

    qs = registry.queries()
    oracles = registry.oracle_sql()
    fingerprints: dict[str, dict[str, int]] = {}
    flags_out: list[str] = []
    for key in sorted(qs):
        if key in SKIP:
            continue
        try:
            df = qs[key](spark, sf_dir)
            nodes = list(plan_nodes(df))
            flags = _flags(key, nodes, df.schema if key in oracles else None)
        except Exception as exc:  # noqa: BLE001
            fingerprints[key] = {"__error__": str(exc)[:80]}
            continue
        fingerprints[key] = tally(nodes)
        if flags:
            flags_out.append(f"{key}: {', '.join(flags)}")
    return fingerprints, flags_out
