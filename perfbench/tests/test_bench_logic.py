"""Tests for the benchmark's own logic (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH]

import inputs  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402
from spans import Span, Tracer, covered  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- seeded inputs -----------------------------------------------------------

def test_same_seed_same_inputs():
    a, b = inputs.lake_sources(7, n_orders=300), inputs.lake_sources(7, n_orders=300)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert inputs.documents(7, 200).equals(inputs.documents(7, 200))
    assert inputs.request_mix(7, 60) == inputs.request_mix(7, 60)
    assert inputs.hot_bodies(7) == inputs.hot_bodies(7)
    d1 = inputs.upsert_delta(7, 3, a["events"], 20, 5)
    assert d1.equals(inputs.upsert_delta(7, 3, b["events"], 20, 5))


def test_other_seed_other_inputs():
    assert not inputs.documents(7, 200).equals(inputs.documents(8, 200))
    assert inputs.request_mix(7, 60) != inputs.request_mix(8, 60)


def test_request_mix_shares():
    mix = inputs.request_mix(3, 600)
    per_class = {c: sum(m[0] == c for m in mix) for c in inputs.REQUEST_CLASSES}
    assert set(per_class.values()) == {100}
    for c in inputs.REQUEST_CLASSES:
        # hot and fresh alternate within a class: one of each per pair
        flags = [m[3] for m in mix if m[0] == c]
        assert all(a != b for a, b in zip(flags, flags[1:])), c
    # hot requests repeat a body of the hot set the warm-up sends
    hot_set = {json.dumps(b, sort_keys=True) for _, _, b in inputs.hot_bodies(3)}
    assert len(hot_set) == inputs.HOT_PER_CLASS * len(inputs.REQUEST_CLASSES)
    assert {json.dumps(m[2], sort_keys=True) for m in mix if m[3]} <= hot_set


def test_fresh_requests_rarely_repeat():
    """Over run-sized mixes (24 requests after the warm-up), nearly
    every repeated body is a hot one."""
    n = repeats = 0
    for seed in range(50):
        seen = {json.dumps(b, sort_keys=True)
                for _, _, b in inputs.warmup_bodies(seed)}
        for _, _, body, hot in inputs.request_mix(seed, 24):
            key = json.dumps(body, sort_keys=True)
            n, repeats = n + 1, repeats + (not hot and key in seen)
            seen.add(key)
    assert repeats / n < 0.05


def test_upsert_delta_shape():
    ev = inputs.lake_sources(5, n_orders=300)["events"]
    d = inputs.upsert_delta(5, 0, ev, 30, 10)
    ids = d.column("event_id").to_pylist()
    base = set(ev.column("event_id").to_pylist())
    assert sum(i in base for i in ids) == 30
    assert sum(i not in base for i in ids) == 10
    assert len(set(ids)) == 40


# -- metric names and units ----------------------------------------------------

def test_benchmark_json_matches_catalogue():
    bj = _bench_json()
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == {
        k: v[0] for k, v in metrics.END_TO_END.items()}
    assert {m["name"]: m["better"] for m in bj["end_to_end"]} == {
        k: v[1] for k, v in metrics.END_TO_END.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in bj["per_layer"]} == {
        n: (u, b) for n, u, b, *_ in metrics.PER_LAYER}
    import workloads

    assert [w["name"] for w in bj["workloads"]] == list(workloads.WORKLOADS)
    for m in metrics.PER_LAYER:
        assert m[3] in metrics.END_TO_END, m


class _FakeRun:
    """Just enough of workloads.Run for the layer functions."""

    def __init__(self, tracer):
        self.trace, self.tracer, self.traced_from = True, tracer, 0
        self.attempted = self.failed = 0
        self.ops = [(1.0, 0.5, False, ""), (1.1, 0.6, True, "")]
        self.work = "/nonexistent"

    def record(self, ok, what):
        self.attempted += 1
        self.failed += not ok


def _tracer_with(names_attrs):
    tr = Tracer(active=True)
    t = 0.0
    for name, parent, attrs in names_attrs:
        tr.spans.append(Span(len(tr.spans), name, t, t + 1.0, parent,
                             attrs=dict(attrs)))
        t += 0.1
    return tr


def _printed_names(layer_values: dict) -> set[str]:
    names = {n for n, *_ in metrics.PER_LAYER}
    unknown = set(layer_values) - names
    assert not unknown, unknown
    return names


def test_layer_metrics_are_catalogued(tmp_path):
    reqs = []
    for i, c in enumerate(metrics.REQUEST_CLASSES):
        reqs.append(("api.request", None,
                     {"cls": c, "hot": False, "client_wall": 1.0}))
    tr = _tracer_with(reqs)
    api = layers.api_layers(_FakeRun(tr), [1] * len(reqs))
    _printed_names(api)
    corpus = layers.corpus_layers(_FakeRun(_tracer_with(
        [(f"registry.{m}.{k}", None, {}) for m in metrics.MEMBERS
         for k in ("build", "run")])), 3)
    _printed_names(corpus)
    sync = layers.sync_layers(_FakeRun(_tracer_with([
        ("lake_sync.full_sync", None, {}), ("sinks.write_lake", 0, {}),
        ("sinks.merge_latest_wins", None, {})])), str(tmp_path), 1.2, 4.0)
    _printed_names(sync)
    # together with the common block they cover the whole catalogue
    everything = set(api) | set(corpus) | set(sync) | {
        "trace_overhead_frac", "process.peak_rss_mb", "op_wall_ms",
        "setup_wall_s", "throughput_per_s"}
    assert everything == {n for n, *_ in metrics.PER_LAYER}


def test_result_lines_carry_catalogue_units():
    import run

    e2e = run.format_metrics(
        {k: 1.0 for k in metrics.END_TO_END}, trace=False)
    bj = _bench_json()
    assert {k: v["unit"] for k, v in e2e.items()} == {
        m["name"]: m["unit"] for m in bj["end_to_end"]}
    per = run.format_metrics({}, trace=True)
    assert {k: v["unit"] for k, v in per.items()} == {
        m["name"]: m["unit"] for m in bj["per_layer"]}


# -- spans ----------------------------------------------------------------------

def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1.0)
    assert covered([], 0, 1) == 0.0


def test_self_times_sum_to_wall():
    tr = Tracer(active=True)
    tr.spans = [Span(0, "api.request", 0.0, 10.0),
                Span(1, "api.service", 1.0, 9.0, parent=0),
                Span(2, "plans.compile_dsl", 2.0, 3.0, parent=1),
                Span(3, "plans.run_aggs", 4.0, 8.0, parent=1),
                Span(4, "sources.load_table", 5.0, 6.0, parent=3)]
    assert sum(tr.self_time(s) for s in tr.subtree(tr.spans[0])) == \
        pytest.approx(10.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(3.0)
    tr.spans[4].jobs = [(5.5, 7.0)]
    tr.spans[2].jobs = [(2.5, 3.0)]
    assert tr.job_time(tr.spans[0]) == pytest.approx(2.0)


def test_request_span_short_of_client_wall_counts_as_failed():
    def api_run(client_wall):
        tr = _tracer_with([("api.request", None, {
            "cls": c, "hot": False, "client_wall": client_wall})
            for c in metrics.REQUEST_CLASSES])
        run = _FakeRun(tr)
        out = layers.api_layers(run, [1] * len(tr.spans))
        return run, out["api.request.self_sum_error_frac"]

    run, err = api_run(1.001)  # spans are 1.0 s long
    assert (run.failed, err) == (0, pytest.approx(0.001 / 1.001))
    run, err = api_run(1.5)  # a third of the request outside every span
    assert run.failed == 1 and err == pytest.approx(1 / 3)


# -- wrong outputs count as failures ----------------------------------------------

def _events_fixture(tmp_path):
    ev = inputs.lake_sources(11, n_orders=300)["events"]
    delta = inputs.upsert_delta(11, 0, ev, 20, 5)
    src, d = tmp_path / "src", tmp_path / "delta"
    inputs.write_tables({"events": ev}, str(src))
    inputs.write_tables({"events": delta}, str(d))
    import workloads

    con = workloads._duckdb()
    merged = con.execute(f"""
        SELECT event_id AS events_event_id, ts AS events_ts,
               value AS events_value FROM (
            SELECT *, row_number() OVER (PARTITION BY event_id
                                         ORDER BY ts DESC, s DESC) AS rn
            FROM (SELECT *, 0 AS s FROM read_parquet('{src}/events.parquet')
                  UNION ALL SELECT *, 1 AS s
                  FROM read_parquet('{d}/events.parquet')))
        WHERE rn = 1""").arrow()
    return con, str(src), str(d), merged


def _write_out(tmp_path, table: pa.Table) -> str:
    out = tmp_path / "out"
    out.mkdir(exist_ok=True)
    pq.write_table(table, str(out / "part-0.parquet"))
    return str(out)


def test_wrong_upsert_output_counts_as_failed(tmp_path):
    import workloads

    con, src, d, merged = _events_fixture(tmp_path)
    run = workloads.Run(1, 1.0, False, str(tmp_path), 0.0, 1)
    good = _write_out(tmp_path, merged)
    run.record(not workloads.check_upsert(con, src, d, good), "good")
    assert (run.attempted, run.failed) == (1, 0)
    vals = merged.column("events_value").to_pylist()
    vals[0] += 1.0  # one stale value
    bad = _write_out(tmp_path, merged.set_column(
        2, "events_value", pa.array(vals)))
    run.record(not workloads.check_upsert(con, src, d, bad), "bad")
    assert (run.attempted, run.failed) == (2, 1)
    assert run.failed / run.attempted == 0.5  # the failed fraction


def test_wrong_search_response_is_caught(tmp_path):
    import workloads

    con = duckdb.connect()
    con.execute("CREATE VIEW data_lake_customer AS SELECT * FROM (VALUES "
                "(1, 'BUILDING', 1.0), (1, 'HOUSEHOLD', 2.0), "
                "(2, 'HOUSEHOLD', 3.0)) t(customer_c_nationkey, "
                "customer_c_mktsegment, customer_c_acctbal)")
    body = {"query": {"bool": {"must_not": [
        {"term": {"customer_c_mktsegment": "BUILDING"}}]}},
            "aggs": {"by_nation": {"terms": {"size": 10}}}}
    right = {"aggregations": {"by_nation": {"buckets": [
        {"key": 1, "doc_count": 1}, {"key": 2, "doc_count": 1}]}}}
    assert workloads.check_response(con, "terms_aggs", body, right) is None
    wrong = {"aggregations": {"by_nation": {"buckets": [
        {"key": 1, "doc_count": 2}, {"key": 2, "doc_count": 1}]}}}
    assert workloads.check_response(con, "terms_aggs", body, wrong)
