"""Registry contract invariants (SURVEY.md §5.2)."""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as entrymod
from movierecommender_sentimentanalysissytem_spark import registry
from movierecommender_sentimentanalysissytem_spark.plans import audit


def test_all_oracle_keys_have_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 90


def test_surveyed_inventory_keys_present():
    """Every SURVEY.md §2 inventory key the engine claims must exist."""
    qs = entrymod.queries()
    required = [
        # §2.1-2.2
        "scan_parquet", "scan_projection_pushdown", "scan_csv", "scan_json",
        "sink_parquet", "filter_simple", "filter_compound",
        "project_expressions", "project_case", "cast_types",
        # §2.3
        "join_inner_equi", "join_star_multiway", "join_broadcast",
        "join_left_outer", "join_right_outer", "join_full_outer",
        "join_left_semi", "join_left_anti", "join_cross",
        "join_theta_range", "join_asof", "join_self",
        # §2.4
        "agg_global", "agg_groupby", "agg_having", "agg_count_distinct",
        "agg_approx_count_distinct", "agg_distinct", "agg_rollup",
        "agg_cube", "agg_grouping_sets", "agg_pivot", "agg_filtered",
        "agg_collect", "agg_percentile", "agg_stddev_var", "agg_corr",
        # §2.5
        "win_row_number_topk", "win_rank_dense", "win_lag_lead",
        "win_running_sum", "win_moving_avg", "win_range_frame",
        "win_ntile_percent", "win_first_last",
        # §2.6-2.7
        "sort_multikey", "limit_offset", "sample_deterministic",
        "set_union_all", "set_union_distinct", "set_intersect", "set_except",
        # §2.8
        "fn_string", "fn_string_regexp", "fn_split_explode", "fn_date",
        "fn_math", "fn_conditional", "fn_array", "fn_array_transform",
        "fn_map_json", "fn_hash",
        # §2.9
        "text_wordcount", "text_top_terms", "text_stopword_removal",
        "text_ngrams", "text_doclen_stats", "text_tfidf",
        "text_lexicon_sentiment", "ml_sentiment_pipeline",
        "ml_als_recommend", "ml_eval_rmse",
        # §2.10
        "dedup_exact", "dedup_near_minhash", "sim_cosine_pairwise",
        "sim_topk_neighbors", "sim_threshold_join", "multimodal_columns",
        "text_lang_partition_stats",
        # §2.11
        "stream_tumbling_window", "stream_sliding_window",
        "stream_session_window", "stream_watermark_late", "stream_dedup",
        "stream_stateful_counter",
        # §2.12
        "udf_python_scalar", "udf_pandas_vectorized", "udaf_pandas_grouped",
        "udtf",
    ]
    missing = [k for k in required if k not in qs]
    assert not missing, f"missing inventory keys: {missing}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"n_name", "revenue", "n_items"}


GREEN = {"hash_match": True, "err": None}
RED = {"hash_match": False, "err": None}
NO_ORACLE = {"hash_match": None, "err": "no_oracle"}


def _live_sweep():
    """The live order with its derived history: (order, last_ok, head),
    where head is the active priority keys in listed order, then the
    keys whose most recent row is red."""
    order = list(registry.queries())
    last_ok, red = registry._last_verified(order, registry._driver_rounds())
    active = [
        k for k, since in registry._PRIORITY.items() if last_ok.get(k, 0) <= since
    ]
    return order, last_ok, active + [k for k in order if k in red and k not in active]


def test_driver_rounds_reads_the_repo_artifacts(tmp_path, monkeypatch):
    """The artifacts are found from the package's location, whatever
    the working directory: a wrong path would silently empty the
    history and the sweep would fall back to registration order."""
    monkeypatch.chdir(tmp_path)
    numbers = [n for n, _ in registry._driver_rounds()]
    assert set(range(1, 16)) <= set(numbers)
    assert numbers == sorted(numbers)


def test_driver_rounds_sort_by_round_number(tmp_path):
    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps({"a": RED}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"a": GREEN}))
    rounds = registry._driver_rounds(tmp_path)
    assert [n for n, _ in rounds] == [9, 10]
    assert registry._last_verified(["a"], rounds) == ({"a": 10}, set())


def test_driver_rounds_reject_a_malformed_record(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"agg_global": GREEN, "agg_groupby": {"hash_match": True}})
    )
    with pytest.raises(ValueError, match=r"CORRECTNESS_r01\.json.*agg_groupby"):
        registry._driver_rounds(tmp_path)


def test_no_artifacts_still_lists_every_key(tmp_path, monkeypatch):
    assert registry._driver_rounds(tmp_path) == []
    read = registry._driver_rounds
    monkeypatch.setattr(registry, "_driver_rounds", lambda: read(tmp_path))
    assert set(registry.queries()) == set(registry.QUERIES)
    assert set(registry.oracle_sql()) == set(registry.ORACLES)


def test_priority_head_leads_in_listed_order(monkeypatch):
    monkeypatch.setattr(registry, "_PRIORITY", {"p2": 1, "p1": 1})
    rounds = [(1, {k: GREEN for k in ("a", "b", "p1", "p2")})]
    assert registry._sweep_order(["a", "p1", "b", "p2"], rounds) == [
        "p2", "p1", "a", "b",
    ]


def test_priority_key_retires_after_a_newer_row(monkeypatch):
    monkeypatch.setattr(registry, "_PRIORITY", {"p": 1})
    keys = ["a", "b", "p"]
    rounds = [(1, {"a": GREEN, "p": GREEN}), (2, {"b": GREEN})]
    assert registry._sweep_order(keys, rounds) == ["p", "a", "b"]
    rounds.append((3, {"p": GREEN}))
    assert registry._sweep_order(keys, rounds) == ["a", "b", "p"]


def test_key_whose_latest_row_is_red_leads():
    keys = ["a", "b", "r"]
    rounds = [(1, {k: GREEN for k in keys}), (2, {"b": GREEN, "r": RED})]
    assert registry._sweep_order(keys, rounds) == ["r", "a", "b"]
    # a later green row clears it back into staleness order
    rounds.append((3, {"r": GREEN}))
    assert registry._sweep_order(keys, rounds) == ["a", "b", "r"]


def test_no_oracle_row_is_green_only_for_keys_without_an_oracle():
    registry._load_all_modules()
    with_oracle = next(iter(registry.ORACLES))
    rows_only = next(k for k in registry.QUERIES if k not in registry.ORACLES)
    rounds = [(4, {with_oracle: NO_ORACLE, rows_only: NO_ORACLE})]
    last_ok, red = registry._last_verified([with_oracle, rows_only], rounds)
    assert last_ok == {rows_only: 4}
    assert red == {with_oracle}


def test_keys_without_rows_come_before_checked_keys():
    """Unregistered keys in the artifacts are ignored."""
    rounds = [(1, {"c1": GREEN, "c2": GREEN, "gone": RED})]
    assert registry._sweep_order(["c1", "n1", "c2", "n2"], rounds) == [
        "n1", "n2", "c1", "c2",
    ]


def test_sweep_order_maximizes_new_driver_coverage():
    """On the live artifacts: the head leads, then every key without a
    driver row sorts before every checked key, and oracle_sql() follows
    the same order."""
    order, last_ok, head = _live_sweep()
    assert order[: len(head)] == head
    seen = [k in last_ok for k in order[len(head):]]
    assert seen == sorted(seen), "unchecked keys sorted after checked ones"
    osql = list(registry.oracle_sql())
    assert osql == [k for k in order if k in registry.ORACLES]


def test_checked_tail_is_staleness_ordered():
    """Outside the head, a key last verified in round i never sorts
    after a key last verified in round j > i."""
    order, last_ok, head = _live_sweep()
    seq = [last_ok.get(k, 0) for k in order[len(head):]]
    assert seq == sorted(seq), "checked tail not staleness-ordered"


def test_sweep_budget_skips_the_newest_round_while_staler_keys_wait():
    """The driver checks the first 50 keys. Outside the head, none of
    them may have a row from the newest round while 50 or more keys
    with staler rows wait behind them."""
    order, last_ok, head = _live_sweep()
    newest = max(last_ok.values())
    staler = [k for k in order if k not in head and last_ok.get(k, 0) < newest]
    if len(staler) >= 50:
        fresh = [
            k for k in order[:50] if k not in head and last_ok.get(k) == newest
        ]
        assert not fresh, f"first 50 re-check round-{newest} keys: {fresh}"


@pytest.mark.parametrize(
    "keys, families",
    [
        # layout_smoke's row-count exemptions: partition-seeded samplers
        # and the corrupt-file scanner are the only layout-dependent
        # families (r9 ADVICE)
        pytest.param(
            registry.ORDER_SENSITIVE,
            ("sample_", "scan_ignore_corrupt"),
            id="ORDER_SENSITIVE",
        ),
        # the sweep-budget cost tier: model training, true streaming
        # runs, ANN index builds, iterative graph plans, the
        # CF/recommender self-joins, connected components, or the
        # python-datasource round-trips; a new family must be documented
        # at the constant
        pytest.param(
            registry._EXPENSIVE,
            (
                "ml_", "stream_", "sim_", "dedup_clusters", "rec_", "graph_",
                "scan_python_datasource", "sink_python_datasource",
            ),
            id="_EXPENSIVE",
        ),
        pytest.param(registry._PRIORITY, None, id="_PRIORITY"),
        pytest.param(audit.SKIP, None, id="SKIP"),
        pytest.param(audit.NLJ_OK, None, id="NLJ_OK"),
        pytest.param(audit.PYTHON_OK, None, id="PYTHON_OK"),
        pytest.param(audit.NONDETERMINISTIC_OK, None, id="NONDETERMINISTIC_OK"),
    ],
)
def test_hand_kept_key_set_names_registered_keys(keys, families):
    """Every hand-kept key set annotates registered keys: a rename or
    removal goes red here instead of silently exempting, prioritizing
    or skipping nothing while the real key drifts (a misspelled
    ``_PRIORITY`` key would lead nothing; a stale ``_EXPENSIVE`` entry
    lets the real key drift back into the cheap tier, r10 verdict
    item 6). Sets limited to some key families must stay inside them."""
    unknown = set(keys) - set(registry.queries())
    assert not unknown, f"unregistered keys: {unknown}"
    if families:
        stray = [k for k in keys if not k.startswith(families)]
        assert not stray, f"undocumented family, document why at the constant: {stray}"


def test_recall_artifact_covers_exactly_the_rows_only_keys():
    """RECALL.json (scripts/quality_report.py) is the driver-visible
    quality evidence for the keys the driver can only rows-only-check.
    Its key set must stay exactly the registry's no-oracle set: a new
    rows-only key without a quality metric goes red here, as does a
    stale artifact entry for a key that gained an oracle (r10 verdict
    item 2). Every recorded metric must also be passing its floor —
    a failing committed artifact is a regression, not evidence."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "RECALL.json")
    with open(path) as f:
        artifact = json.load(f)
    qs = entrymod.queries()
    rows_only = set(qs) - set(entrymod.oracle_sql())
    assert set(artifact["keys"]) == rows_only, (
        set(artifact["keys"]) ^ rows_only
    )
    failing = [k for k, v in artifact["keys"].items() if not v["pass"]]
    assert not failing, f"RECALL.json records failing floors: {failing}"


def test_recall_artifact_matches_live_fixture_fingerprint():
    """RECALL.json's numbers are only evidence for the fixture bytes
    they were measured on. The artifact records a content fingerprint
    (md5 over every parquet byte per sf dir) at generation time; this
    test recomputes it against the live /root/testdata, so a driver
    fixture regeneration turns "remember to re-run quality_report"
    into a red test instead of a silently stale artifact (r11 verdict
    item 2). On failure: python scripts/quality_report.py && commit
    the refreshed RECALL.json."""
    import importlib.util
    import json
    import os

    root = os.path.dirname(os.path.dirname(__file__))
    spec = importlib.util.spec_from_file_location(
        "quality_report", os.path.join(root, "scripts", "quality_report.py")
    )
    qr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(qr)
    with open(os.path.join(root, "RECALL.json")) as f:
        artifact = json.load(f)
    recorded = artifact.get("_fixture_fingerprint")
    assert recorded is not None, (
        "RECALL.json predates fixture fingerprinting — regenerate it"
    )
    live = qr.fixture_fingerprint()
    assert recorded == live, (
        "RECALL.json is stale: /root/testdata content changed since the "
        f"artifact was generated ({recorded} != {live}); re-run "
        "scripts/quality_report.py and commit the result"
    )
