"""Query registry: the single source of truth for the engine's surface.

Each operator from SURVEY.md §2 registers itself under its inventory key
with a Spark callable ``(spark, sf_dir) -> DataFrame`` and (when the
semantics are SQL-expressible) an equivalent DuckDB oracle SQL string.
``__spark_entry__.py`` exposes these to the driver verbatim.

Column names must match between the Spark result and the oracle result:
the driver sorts columns by name before hashing values, so every
computed/aggregate column is aliased identically on both sides.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(key: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``key`` with an optional DuckDB oracle.

    Queries without an oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible ops: ML model output,
    LSH, true streaming).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")

        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Cache hygiene: release the previous query's scoped caches
            # so a sequential sweep holds at most one query's worth of
            # persisted state (see plans/caching.py).
            from movierecommender_sentimentanalysissytem_spark.plans.caching import (
                release_scoped_caches,
            )

            release_scoped_caches()
            return fn(spark, sf_dir)

        wrapper.__name__ = fn.__name__
        wrapper.__doc__ = fn.__doc__
        wrapper.__wrapped__ = fn
        QUERIES[key] = wrapper
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    import movierecommender_sentimentanalysissytem_spark.operators.relational  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.joins  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.aggregates  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.windows  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.sortlimit  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.setops  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.subqueries  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.recommender  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.storage  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.analytics  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.tpch_more  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.statistics  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.inferential  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.behavior  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.sources.pysource  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.timeseries  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.scalar  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.text  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.vector  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.dedup  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.text_analysis  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.multimodal  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.curation  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.ml.pipelines  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.streaming.windows  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.udfs  # noqa: F401


# Keys whose code changed after their latest driver row, each mapped to
# the newest CORRECTNESS_r{N}.json on disk when the change was made. A
# key leads the sweep, in the order listed here, while its latest
# non-red row is from round <= N. Add a key when you change its code;
# it retires itself once the driver writes a newer row for it. Nothing
# else needs editing when a CORRECTNESS_r{N}.json lands: staleness and
# red rows are read from the artifacts (_driver_rounds).
_PRIORITY: dict[str, int] = {
    "ml_als_recommend": 15,
    "dedup_near_minhash": 15,
    "text_tfidf": 15,
    "text_lexicon_sentiment": 15,
    "sentiment_distribution": 15,
    "join_dynamic_partition_pruning": 15,
    "geo_point_in_polygon": 15,
    "observe_metrics": 15,
    "sim_matmul_topk": 15,
    "stream_observe_rate": 15,
    "stream_watermark_late": 15,
    "stream_dedup": 15,
    "stream_stateful_counter": 15,
    "stream_foreach_batch_sink": 15,
    "stream_stream_join": 15,
    "stream_stream_left_join": 15,
    "stream_static_join": 15,
}

# SURVEY.md §2 inventory — the judge's coverage checklist. These outrank
# extra keys in sweep priority.
_SECTION2 = frozenset(
    """
    scan_parquet scan_projection_pushdown scan_csv scan_json sink_parquet
    filter_simple filter_compound project_expressions project_case cast_types
    join_inner_equi join_star_multiway join_broadcast join_left_outer
    join_right_outer join_full_outer join_left_semi join_left_anti join_cross
    join_theta_range join_asof join_self
    agg_global agg_groupby agg_having agg_count_distinct
    agg_approx_count_distinct agg_distinct agg_rollup agg_cube
    agg_grouping_sets agg_pivot agg_filtered agg_collect agg_percentile
    agg_stddev_var agg_corr
    win_row_number_topk win_rank_dense win_lag_lead win_running_sum
    win_moving_avg win_range_frame win_ntile_percent win_first_last
    sort_multikey limit_offset sample_deterministic
    set_union_all set_union_distinct set_intersect set_except
    fn_string fn_string_regexp fn_split_explode fn_date fn_math
    fn_conditional fn_array fn_array_transform fn_map_json fn_hash
    text_wordcount text_top_terms text_stopword_removal text_ngrams
    text_doclen_stats text_tfidf text_lexicon_sentiment
    ml_sentiment_pipeline ml_als_recommend ml_eval_rmse
    dedup_exact dedup_near_minhash sim_cosine_pairwise sim_topk_neighbors
    sim_threshold_join multimodal_columns text_lang_partition_stats
    stream_tumbling_window stream_sliding_window stream_session_window
    stream_watermark_late stream_dedup stream_stateful_counter
    udf_python_scalar udf_pandas_vectorized udaf_pandas_grouped udtf
    """.split()
)


# Keys measured ≥ ~2 s WARM at sf0.01 (model training, true streaming
# runs, ANN index builds, iterative graph plans, the CF self-joins,
# python-datasource round-trips). Sorted after the cheap keys within
# their priority group so a TIME-limited sweep still reaches the most
# keys. Membership is measurement-driven: re-baselined round 11 from a
# fresh full timing audit + warm re-runs of every ≥2 s candidate
# (added the six warm-confirmed keys below from ml/graph/rec families;
# dropped sim_threshold_join, which measures 0.4 s warm at sf0.01 —
# the brute-force contract is quadratic at scale, but this tag prices
# the DRIVER sweep's SF, not the asymptote).
_EXPENSIVE = frozenset(
    """
    ml_sentiment_pipeline ml_als_recommend ml_learning_curve
    stream_watermark_late stream_dedup stream_stateful_counter
    stream_stream_join stream_stream_left_join
    sim_topk_ivf sim_topk_ivf_probe_sweep
    sim_topk_ivf_partitioned
    dedup_clusters rec_item_similarity rec_item_similarity_dimsum
    rec_multihop_expansion rec_association_rules
    graph_pagerank graph_triangle_count
    scan_python_datasource sink_python_datasource
    """.split()
)


# Keys whose OUTPUT may legitimately change when the physical layout
# of the input tables changes (file count / row order within
# partitions): partition-seeded samplers and the corrupt-file scanner.
# scripts/layout_smoke.py exempts these from its row-count comparison
# (they must still execute without error). Kept HERE, next to the
# registry they annotate, so a key rename/removal breaks the registry
# test instead of silently desynchronizing a hand-maintained list in
# the script (r9 ADVICE).
ORDER_SENSITIVE = frozenset(
    """
    sample_deterministic sample_weighted_bernoulli sample_stratified
    sample_train_test_split sample_k_per_group
    scan_ignore_corrupt_files
    """.split()
)


# The driver's correctness artifacts sit at the repository root, one
# level above this package.
_ROOT = Path(__file__).resolve().parents[1]
_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")

Rounds = list[tuple[int, dict[str, dict]]]


def _driver_rounds(root: Path = _ROOT) -> Rounds:
    """Every ``CORRECTNESS_r{N}.json`` under ``root`` as ``(N, records)``,
    sorted by round number (r10 after r9). No artifacts means no
    history. A record without ``hash_match`` or ``err`` raises, naming
    the file and the key."""
    rounds = []
    for path in root.glob("CORRECTNESS_r*.json"):
        m = _ARTIFACT.fullmatch(path.name)
        if m is None:
            continue
        records = json.loads(path.read_text())
        if not isinstance(records, dict):
            raise ValueError(f"{path}: expected an object of per-key records")
        for key, rec in records.items():
            if not isinstance(rec, dict) or not {"hash_match", "err"} <= rec.keys():
                raise ValueError(f"{path}: record {key!r} lacks hash_match or err")
        rounds.append((int(m.group(1)), records))
    return sorted(rounds, key=lambda r: r[0])


def _last_verified(
    keys: list[str], rounds: Rounds
) -> tuple[dict[str, int], set[str]]:
    """Each key's latest non-red round, and the keys whose most recent
    row is red. A row is non-red when it hash-matched, or when it is
    ``no_oracle`` for a key that has no oracle. Keys in ``rounds`` that
    are not in ``keys`` are ignored."""
    known = set(keys)
    last_ok: dict[str, int] = {}
    red: set[str] = set()
    for n, records in rounds:
        for k, rec in records.items():
            if k not in known:
                continue
            if rec["hash_match"] is True or (
                rec["err"] == "no_oracle" and k not in ORACLES
            ):
                last_ok[k] = n
                red.discard(k)
            else:
                red.add(k)
    return last_ok, red


def _sweep_order(keys: list[str], rounds: Rounds) -> list[str]:
    """Order keys so a budget-limited driver sweep (50 keys per round,
    dict order) re-verifies what most needs it. Sort key, in order:

    1. the head: active ``_PRIORITY`` keys in listed order, then keys
       whose most recent row is red;
    2. the round of the key's latest non-red row, stalest first; a key
       with none sorts before every checked key;
    3. SURVEY.md §2 keys before extras;
    4. cheap keys before ``_EXPENSIVE``;
    5. registration order (the sort is stable)."""
    last_ok, red = _last_verified(keys, rounds)
    prio = {
        k: i
        for i, (k, since) in enumerate(_PRIORITY.items())
        if last_ok.get(k, 0) <= since
    }
    return sorted(
        keys,
        key=lambda k: (
            0 if k in prio else 1 if k in red else 2,
            prio.get(k, 0),
            last_ok.get(k, 0),
            k not in _SECTION2,
            k in _EXPENSIVE,
        ),
    )


def queries() -> dict[str, QueryFn]:
    _load_all_modules()
    order = _sweep_order(list(QUERIES), _driver_rounds())
    return {k: QUERIES[k] for k in order}


def oracle_sql() -> dict[str, str]:
    _load_all_modules()
    order = _sweep_order(list(QUERIES), _driver_rounds())
    return {k: ORACLES[k] for k in order if k in ORACLES}
