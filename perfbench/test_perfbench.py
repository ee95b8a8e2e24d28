"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import datagen
import run
import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_seed_fixes_the_query_order():
    for name, w in workloads.WORKLOADS.items():
        assert workloads.query_keys(name, 7) == workloads.query_keys(name, 7)
        assert sorted(workloads.query_keys(name, 7)) == sorted(w.keys)
        orders = {tuple(workloads.query_keys(name, seed)) for seed in range(10)}
        assert len(orders) > 1, name


def test_workload_keys_are_distinct_and_tables_exist():
    names = set(datagen.tables(0.001))
    for w in workloads.WORKLOADS.values():
        assert len(set(w.keys)) == len(w.keys), w.name
        assert w.tables and set(w.tables) <= names, w.name


def test_every_metric_has_a_valid_name_and_the_unit_run_reports():
    bench = _benchmark()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64, m["name"]
        assert m["unit"] and m["unit"] == run.unit(m["name"]), m["name"]


def _span(tracer, name, parent, start, end):
    tracer.spans.append(spans.Span(name, 0, parent, start, end))
    return len(tracer.spans) - 1


def test_self_time_subtracts_covered_child_intervals():
    t = spans.Tracer()
    q = _span(t, "query", None, 0.0, 10.0)
    b = _span(t, "build", q, 0.0, 6.0)
    _span(t, "sources.table", b, 1.0, 2.0)
    _span(t, "caching.persist", b, 1.5, 3.0)  # overlaps the table span
    fit = _span(t, "ml.fit", b, 4.0, 5.5)
    _span(t, "ml.fit", fit, 4.5, 5.0)
    _span(t, "execute", q, 7.0, 12.0)  # runs past its parent's end
    assert t.self_time(q) == 10.0 - 6.0 - 3.0
    assert t.self_time(b) == 6.0 - 2.0 - 1.5
    assert t.self_time(fit) == 1.0
    selfs = t.self_times()
    assert selfs["ml.fit"] == 1.5
    assert [s.seconds for s in t.outermost("ml.fit")] == [1.5]


def test_tracer_nests_spans_and_counts_jobs():
    jobs = iter(range(100))
    t = spans.Tracer(lambda: next(jobs))
    with t.query_span("k"):
        with t.span("build"):
            with t.span("sources.table"):
                pass
    q, b, s = t.spans
    assert (q.parent, b.parent, s.parent) == (None, 0, 1)
    assert q.query == b.query == s.query == 0
    assert s.jobs == 1 and b.jobs == 3 and q.jobs == 5


def test_parse_spark_metric_text():
    import probes

    assert probes.parse_metric("2.5 s") == 2.5
    assert probes.parse_metric("435 ms") == 0.435
    assert probes.parse_metric("131.1 KiB") == 131.1 * 1024
    multi = "total (min, med, max (stageId: taskId))\n1.5 m (0.1 s, 2 s, 1 m (stage 3.0: task 7))"
    assert probes.parse_metric(multi) == 90.0


def test_generated_data_is_deterministic_and_has_every_table():
    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert sorted(a) == sorted(
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    )
    for name in a:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000
    assert a["embeddings"].schema.field("embedding").type.value_type.bit_width == 32


def test_steal_share_and_unstolen_time():
    import probes

    assert probes.steal_share((100, 10), (160, 30)) == 0.25
    assert probes.steal_share((5, 5), (5, 5)) == 0.0
    assert run.unstolen(8.0, 0.25) == 6.0
    busy, stolen = probes.cpu_ticks()
    assert busy > 0 and stolen >= 0
