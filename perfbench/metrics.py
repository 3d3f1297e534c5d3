"""Metric catalogue: every name the benchmark prints, with its unit.

``BENCHMARK.json`` lists the same names (a test checks they agree).
Each workload prints every end-to-end metric; each metric's meaning on
a workload is given in ``END_TO_END``. Per-layer metrics name the
end-to-end metric and workload they should move; a traced run of a
workload that never enters a layer prints 0 for it.
"""

from __future__ import annotations

#: corpus_prep's members, in pass order.
MEMBERS = (
    "text_stats",
    "exact_substring_dedup",
    "benchmark_decontamination_spans",
    "lm_kneser_ney_features",
    "neardup_minhash_lsh",
    "dsir_importance_weights",
)
REQUEST_CLASSES = ("search_all", "bool_page", "terms_aggs", "pipeline_aggs",
                   "match_highlight", "scored_page")

# name: (unit, better, meaning per workload)
END_TO_END = {
    "setup_s": ("s", "lower",
                "CPU time of the process tree from process start to the "
                "first timed operation: session, any lake written with "
                "write_lake, warm-up; less the benchmark's own work in "
                "that span (input generation, output checks)"),
    "op_cpu_ms": ("ms", "lower",
                  "CPU time of the process tree (Python driver, JVM, UDF "
                  "workers) per unit operation. lake_sync_search: "
                  "class-balanced median request, each class's median "
                  "averaged over the six classes; corpus_prep: median "
                  "pass, each member's median build+run summed over the "
                  "six members"),
    "throughput_per_cpu_s": ("1/s", "higher",
                             "lake_sync_search: source rows read per CPU "
                             "second of write-path work (full syncs plus "
                             "upsert cycles), median over steps; "
                             "corpus_prep: documents per CPU second of the "
                             "median pass"),
}

_SYNC = _API = "lake_sync_search"
_CORPUS, _ALL = "corpus_prep", "all"


def _per_layer() -> list[tuple[str, str, str, str, str]]:
    """(name, unit, better, end-to-end metric it moves, workload)."""
    rows = [
        ("session.get_spark_s", "s", "lower", "setup_s", _ALL),
        ("sources.load_table.calls", "count", "lower", "setup_s", _ALL),
        ("sources.load_table.s", "s", "lower", "setup_s", _ALL),
        ("generic.sync_generic_table.build_s", "s", "lower",
         "throughput_per_cpu_s", _SYNC),
        ("operators.denormalized_orders.build_s", "s", "lower",
         "throughput_per_cpu_s", _SYNC),
        ("operators.denormalized_orders.build_jobs", "count", "lower",
         "throughput_per_cpu_s", _SYNC),
    ]
    for m, unit in (("s", "s"), ("jobs", "count"), ("stages", "count"),
                    ("shuffle_write_bytes", "bytes"),
                    ("executor_run_s", "s"), ("bytes_out", "bytes"),
                    ("files_out", "count")):
        rows.append((f"sinks.write_lake.{m}", unit, "lower",
                     "throughput_per_cpu_s", _SYNC))
    rows += [
        ("sinks.write_lake.bytes_per_source_byte", "ratio", "lower",
         "throughput_per_cpu_s", _SYNC),
        ("sinks.merge_latest_wins.s", "s", "lower", "throughput_per_cpu_s", _SYNC),
        ("sinks.merge_latest_wins.shuffle_write_bytes", "bytes", "lower",
         "throughput_per_cpu_s", _SYNC),
        ("sinks.merge_latest_wins.rewrite_amplification", "ratio", "lower",
         "throughput_per_cpu_s", _SYNC),
    ]
    rows += [(f"api.{c}.p50_ms", "ms", "lower", "op_cpu_ms", _API)
             for c in REQUEST_CLASSES]
    rows += [
        ("api.request.jobs", "count", "lower", "op_cpu_ms", _API),
        ("api.request.stages", "count", "lower", "op_cpu_ms", _API),
        ("api.request.job_s", "s", "lower", "op_cpu_ms", _API),
        ("api.request.driver_s", "s", "lower", "op_cpu_ms", _API),
        ("api.request.route_s", "s", "lower", "op_cpu_ms", _API),
        ("api.request.input_records_per_hit", "ratio", "lower",
         "op_cpu_ms", _API),
        ("api.request.self_sum_error_frac", "ratio", "lower",
         "op_cpu_ms", _API),
        ("plans.compile_dsl.calls", "count", "lower", "op_cpu_ms", _API),
        ("plans.compile_dsl.s", "s", "lower", "op_cpu_ms", _API),
        ("plans.compile_dsl.cache_hit_ratio", "ratio", "higher",
         "op_cpu_ms", _API),
        ("plans.run_aggs.s", "s", "lower", "op_cpu_ms", _API),
        ("plans.run_aggs.jobs", "count", "lower", "op_cpu_ms", _API),
    ]
    for member in MEMBERS:
        for m, unit in (("build_s", "s"), ("build_jobs", "count"),
                        ("run_s", "s"), ("run_jobs", "count"),
                        ("stages", "count"),
                        ("shuffle_write_bytes", "bytes"),
                        ("executor_run_s", "s"), ("task_skew", "ratio")):
            rows.append((f"registry.{member}.{m}", unit, "lower",
                         "op_cpu_ms", _CORPUS))
    rows += [
        ("registry.neardup_minhash_lsh.capped_bucket_docs", "count",
         "lower", "op_cpu_ms", _CORPUS),
        ("trace_overhead_frac", "ratio", "lower", "op_cpu_ms", _ALL),
        # the wall-time twins of the end-to-end metrics (op_wall_ms and
        # throughput_per_s from the untraced half): what one client
        # waits, but on a shared host they move with the host's load as
        # much as with the program
        ("setup_wall_s", "s", "lower", "setup_s", _ALL),
        ("op_wall_ms", "ms", "lower", "op_cpu_ms", _ALL),
        ("throughput_per_s", "1/s", "higher", "throughput_per_cpu_s", _ALL),
        # peak resident memory of the Python driver plus its JVM: kept
        # out of the bounded set because JVM heap growth alone moves it
        # by 20-40% between runs of the same code
        ("process.peak_rss_mb", "MB", "lower", "setup_s", _ALL),
    ]
    return rows


PER_LAYER = _per_layer()
