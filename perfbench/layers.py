"""Per-layer metrics of a traced run, computed from its spans.

Values cover the traced half of the run: write_lake figures per full
sync, ``api.*``/``plans.*`` per request, ``registry.*`` per member run
(``task_skew``: the largest over them). ``session.*`` and
``sources.load_table.*`` also count set-up, which is always traced.
"""

from __future__ import annotations

import os
import statistics
import sys

import metrics
from spans import PACKAGE, Tracer, instrument

#: Tolerance on a traced request: its spans' self times must sum to the
#: wall the client measured around it within this share.
SELF_SUM_TOLERANCE = 0.01


def instrument_all(tracer: Tracer) -> None:
    """Wrap each layer's public entry points in spans."""
    import __spark_entry__  # noqa: F401  (loads every registry module)
    from sql_database_to_elastic_datalake_spark import api, generic
    from sql_database_to_elastic_datalake_spark.operators import denormalize
    from sql_database_to_elastic_datalake_spark.plans import es_aggs, es_dsl
    from sql_database_to_elastic_datalake_spark.sinks import upsert, writer
    from sql_database_to_elastic_datalake_spark.sources import parquet

    for mod, attr, name in (
        (parquet, "load_table", "sources.load_table"),
        (generic, "sync_generic_table", "generic.sync_generic_table"),
        (denormalize, "denormalized_orders", "operators.denormalized_orders"),
        (writer, "write_lake", "sinks.write_lake"),
        (upsert, "merge_latest_wins", "sinks.merge_latest_wins.build"),
        (es_aggs, "run_aggs", "plans.run_aggs"),
    ):
        instrument(tracer, mod, attr, name)

    orig_compile = es_dsl.compile_dsl

    def compile_dsl(dsl, field_resolver=None, schema_fields=None):
        # tag whether the program's own compile cache held this key
        key = (es_dsl._compile_cache_key(dsl, schema_fields)
               if field_resolver is None else None)
        hit = key is not None and key in es_dsl._COMPILE_CACHE
        with tracer.span("plans.compile_dsl", cache_hit=hit):
            return orig_compile(dsl, field_resolver, schema_fields)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE) and \
                getattr(mod, "compile_dsl", None) is orig_compile:
            mod.compile_dsl = compile_dsl

    for meth in ("search", "advanced_search"):
        orig = getattr(api.LakeService, meth)

        def method(self, *a, _orig=orig, **kw):
            with tracer.span("api.service"):
                return _orig(self, *a, **kw)

        setattr(api.LakeService, meth, method)


def lake_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dp, f))
                files += 1
    return size, files


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _traced(run, name: str, outermost: bool = True):
    return [s for s in run.tracer.named(name, outermost)
            if s.sid >= run.traced_from]


def _jobs(tr: Tracer, sp) -> int:
    return sum(len(s.jobs) for s in tr.subtree(sp))


def _common(run) -> dict:
    tr = run.tracer
    loads = tr.named("sources.load_table")
    return {
        "session.get_spark_s": sum(s.duration for s in tr.named("session.get_spark")),
        "sources.load_table.calls": len(loads),
        "sources.load_table.s": sum(s.duration for s in loads),
    }


def overhead(run) -> float:
    """The unit-operation statistic traced over untraced, minus one."""
    return run.op_ms(traced=True) / run.op_ms(traced=False) - 1.0


def sync_layers(run, lake: str, bytes_ratio: float, amplification: float) -> dict:
    if not run.trace:
        return {}
    tr = run.tracer
    out = _common(run)
    syncs = _traced(run, "lake_sync.full_sync")
    out["generic.sync_generic_table.build_s"] = _med(
        s.duration for s in _traced(run, "generic.sync_generic_table"))
    den = _traced(run, "operators.denormalized_orders")
    out["operators.denormalized_orders.build_s"] = _med(s.duration for s in den)
    out["operators.denormalized_orders.build_jobs"] = _med(_jobs(tr, s) for s in den)
    sync_ids = {s.sid for s in syncs}
    writes = [w for w in _traced(run, "sinks.write_lake") if w.parent in sync_ids]
    n = max(1, len(syncs))
    out["sinks.write_lake.s"] = sum(w.duration for w in writes) / n
    out["sinks.write_lake.jobs"] = sum(_jobs(tr, w) for w in writes) / n
    for attr in ("stages", "shuffle_write_bytes", "executor_run_s"):
        out[f"sinks.write_lake.{attr}"] = sum(tr.total(w, attr) for w in writes) / n
    out["sinks.write_lake.bytes_out"], out["sinks.write_lake.files_out"] = \
        lake_bytes(lake)
    out["sinks.write_lake.bytes_per_source_byte"] = bytes_ratio
    merges = _traced(run, "sinks.merge_latest_wins")
    out["sinks.merge_latest_wins.s"] = _med(s.duration for s in merges)
    out["sinks.merge_latest_wins.shuffle_write_bytes"] = _med(
        tr.total(s, "shuffle_write_bytes") for s in merges)
    out["sinks.merge_latest_wins.rewrite_amplification"] = amplification
    return out


def api_layers(run, hits: list[int]) -> dict:
    if not run.trace:
        return {}
    tr = run.tracer
    out = _common(run)
    reqs = _traced(run, "api.request")
    for c in metrics.REQUEST_CLASSES:
        out[f"api.{c}.p50_ms"] = 1e3 * _med(
            s.duration for s in reqs if s.attrs["cls"] == c)
    out["api.request.jobs"] = _med(_jobs(tr, s) for s in reqs)
    out["api.request.stages"] = _med(tr.total(s, "stages") for s in reqs)
    job_s = [tr.job_time(s) for s in reqs]
    out["api.request.job_s"] = _med(job_s)
    out["api.request.driver_s"] = _med(s.duration - j for s, j in zip(reqs, job_s))
    route, errors = [], []
    for s in reqs:
        service = sum(c.duration for c in tr.children(s) if c.name == "api.service")
        route.append(s.duration - service)
        # the client's own perf_counter wall, taken outside the span: a
        # span that misses part of the request shows as a gap here
        self_sum = sum(tr.self_time(x) for x in tr.subtree(s))
        wall = s.attrs["client_wall"]
        errors.append(abs(self_sum - wall) / wall)
    out["api.request.route_s"] = _med(route)
    err = max(errors, default=0.0)
    out["api.request.self_sum_error_frac"] = err
    run.record(err <= SELF_SUM_TOLERANCE,
               f"request span self times sum to wall (error {err:.4f})")
    records = sum(tr.total(s, "input_records") for s in reqs)
    out["api.request.input_records_per_hit"] = records / max(
        1, sum(hits[-len(reqs):]) if reqs else 1)
    n = max(1, len(reqs))
    calls = _traced(run, "plans.compile_dsl", outermost=False)
    out["plans.compile_dsl.calls"] = len(calls) / n
    out["plans.compile_dsl.s"] = sum(
        s.duration for s in _traced(run, "plans.compile_dsl")) / n
    out["plans.compile_dsl.cache_hit_ratio"] = (
        sum(s.attrs["cache_hit"] for s in calls) / len(calls) if calls else 0.0)
    aggs = _traced(run, "plans.run_aggs")
    n_agg = max(1, sum(s.attrs["cls"] in ("terms_aggs", "pipeline_aggs")
                       for s in reqs))
    out["plans.run_aggs.s"] = sum(s.duration for s in aggs) / n_agg
    out["plans.run_aggs.jobs"] = sum(_jobs(tr, s) for s in aggs) / n_agg
    return out


def corpus_layers(run, capped: int) -> dict:
    if not run.trace:
        return {}
    tr = run.tracer
    out = _common(run)
    for m in metrics.MEMBERS:
        builds = _traced(run, f"registry.{m}.build")
        runs = _traced(run, f"registry.{m}.run")
        out[f"registry.{m}.build_s"] = _med(s.duration for s in builds)
        out[f"registry.{m}.build_jobs"] = _med(_jobs(tr, s) for s in builds)
        out[f"registry.{m}.run_s"] = _med(s.duration for s in runs)
        out[f"registry.{m}.run_jobs"] = _med(_jobs(tr, s) for s in runs)
        n = max(1, len(runs))
        for attr in ("stages", "shuffle_write_bytes", "executor_run_s"):
            out[f"registry.{m}.{attr}"] = sum(
                tr.total(s, attr) for s in builds + runs) / n
        out[f"registry.{m}.task_skew"] = max(
            (x.task_skew for s in builds + runs for x in tr.subtree(s)),
            default=0.0)
    out["registry.neardup_minhash_lsh.capped_bucket_docs"] = capped
    return out
