"""Benchmark harness: times registry members and prints ONE JSON line.

Usage::

    python bench.py [--sf1 | --all] [--allow-contended] [--plans DIR] [NAME ...]

Env: ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
``SPARK_GRAFT_CPUS`` (default 32). Without NAMEs the HEADLINE members
run (``--sf1``/``--all`` add SF1_EXTRA); NAMEs pick members instead.
Each run builds the query and materializes it via the noop sink (no
collect, no disk write cost). ``queries`` holds each member's min over
runs of construction plus run; ``layers`` splits that into
construction, first run and steady run and attributes the member's
Spark jobs and stages to construction or run. ``--plans DIR`` writes
each member's ``explain("formatted")`` to ``DIR/<member>.txt``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.spans import Tracer  # noqa: E402

#: Queries timed for BENCH_r{N}.json. Kept to the heavy hitters — full
#: coverage correctness is the selfcheck/driver gate, not the bench.
#: Only scalable paths: the quadratic pair verifiers are correctness-
#: gate queries. docs/bench-history.md records why each group was added.
HEADLINE = (
    # relational core
    "denormalized_orders",
    "pricing_summary",
    "latest_event_per_key",
    "top3_events_per_user",
    "group_to_array",
    "filter_project",
    "union_all_entities",
    "content_hash_ids",
    "json_extract",
    "merge_upsert",
    # search surface
    "search_dsl_bool",
    "search_multimatch_scored",
    # analytics classics
    "q4_order_priority",
    "q10_returned_revenue",
    "distinct_counts_by_flag",
    # non-equi joins
    "events_range_join_prior",
    "events_asof_order",
    # streaming
    "streaming_window_counts",
    "session_window_counts",
    "streaming_dedup_keys",
    # training-data pipeline
    "text_stats",
    "text_fingerprint",
    "dedup_exact",
    "embed_cosine_topk",
    "embed_ann_bucketed",
    "multimodal_decode",
    "search_bm25_scored",
    "doc_chunks",
    "pack_token_budget",
    "pii_redaction",
    "stratified_sample_langs",
    "embed_quantize_int8",
    "incremental_sync_events",
    # search surface: pages, aggs, spans, suggesters, rescore, knn
    "search_from_size_page",
    "search_aggs_nested_levels",
    "search_aggs_significant_terms",
    "benchmark_decontamination",
    "search_aggs_timezone",
    "search_dsl_phrase_slop",
    "search_ranked_offset_page",
    "search_aggs_nested_parent",
    "search_aggs_multi_terms",
    "search_aggs_top_metrics",
    "search_aggs_extended_stats",
    "search_aggs_tsvb_math",
    "search_knn_vector",
    "search_suggest_terms",
    "search_rescore_window",
    "semdedup_embeddings",
    "search_dsl_function_score",
    "search_dsl_span_near",
    "boilerplate_chunk_removal",
    # corpus prep and the rest of the search surface
    "dsir_importance_weights",
    "search_aggs_significant_text",
    "search_aggs_sampler_significant",
    "search_dsl_span_nested",
    "search_dsl_intervals_filter",
    "search_suggest_completion_fuzzy",
    "exact_substring_dedup",
    "embed_neardup_pairs",
    "lm_perplexity_features",
    "benchmark_decontamination_spans",
    "search_aggs_frequent_item_sets",
    "mixture_domain_resample",
    "lm_kneser_ney_features",
    "fineweb_quality_filters",
    # one member stands in for the boosted ranked-page family (the
    # others share its plan shape)
    "search_boosted_multimatch",
    # geo, percolate, join-field and knn IVF families
    "search_knn_ivf",
    "geo_grid_counts",
    "percolate_orders",
    "geo_tile_counts",
    "geo_rings_balance",
    "geo_bounds_centroid",
    "geo_distance_feature_rank",
    "geo_polygon_members",
    "join_field_has_child",
    "join_field_has_parent",
    "children_agg_lineitems",
    "scripted_metric_priority",
    "moving_percentiles_daily",
    "search_knn_ivf_filtered",
)

#: Extra members timed only under ``--sf1`` / ``--all``, so superlinear
#: regressions show in the sf1 artifact. The default HEADLINE stays
#: untouched to keep BENCH_r{N}.json min-of-3 comparable across rounds.
SF1_EXTRA = (
    "boilerplate_chunk_removal",
    "quality_classifier_scores",
    "dsir_importance_weights",
    "search_aggs_significant_text",
    "semdedup_embeddings",
    "neardup_minhash_lsh",
    "simhash_hamming_pairs",
    "dedup_clusters_jaccard",
    "embed_ann_ivf",
    "corpus_prep_stats",
    "exact_substring_dedup",
    "lm_perplexity_features",
    "benchmark_decontamination_spans",
    "token_count_bpe_exact",
    "search_aggs_frequent_item_sets",
    "mixture_domain_resample",
    "lm_kneser_ney_features",
)

SF1_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       ".scale", "sf1")

#: Machine-state canary: three heavy, code-stable queries pinned to
#: recorded min-of-3 times (sf0.1, local[32]). They run as part of
#: HEADLINE anyway, so the ratio costs nothing. A uniform machine-state
#: shift moves the canary and the total together —
#: ``total_ratio / canary_ratio`` isolates the code effect. Pins are
#: VERBATIM min-of-3 from BENCH_sf01_r14.json; re-pin whenever a canary
#: member's code is deliberately changed (history:
#: docs/bench-history.md).
CANARY_PINS = {
    "denormalized_orders": 2.042,
    "pricing_summary": 1.000,
    "q10_returned_revenue": 0.703,
}
CANARY_SF, CANARY_CPUS = 0.1, "32"

#: sf1-tier canary: same mechanism for the --sf1 artifact. Members must
#: be code-stable since their pin artifact; pins are VERBATIM min-of-3
#: from BENCH_sf1_r12.json (local[32]), the newest quiet sf1 artifact
#: in which these members already had their current shape.
SF1_CANARY_PINS = {
    "q4_order_priority": 3.010,
    "text_stats": 4.283,
    "text_fingerprint": 1.902,
}


#: Machine-readable re-pin markers: a member listed here changed its
#: cost basis DELIBERATELY — cross-round comparison should start from
#: the first artifact that carries the marker, not flag the step as a
#: regression.
BASELINE_RESETS = {
    "pii_redaction":
        "r11 rule widening: 2 -> 6 rule families (email/phone + "
        "SSN/IP + column-algebra Luhn-CC); sf0.1 0.365 -> 0.769 s, "
        "sf1 0.498 -> 1.142 s are the new basis",
    "corpus_prep_stats":
        "r12 plan pinning: jaccard size-join broadcast pinned "
        "(operators/dedup.py jaccard_pairs) — sf1 unimodal "
        "10.3-11.3 s across 5 fresh JVMs vs 6-16 s AQE flapping",
    "dedup_clusters_jaccard":
        "r12 plan pinning: pair self-join pinned to shuffle_hash "
        "(broadcast of the shingle relation was the slow mode); "
        "residual spread is JVM/GC noise — see spread + cost_metrics",
    "neardup_jaccard":
        "r12 plan pinning: same jaccard_pairs pins as above",
    "neardup_minhash_lsh":
        "r13 adversarial-density bound (r12 verdict #2): exact-collapse "
        "pre-stage + star-emission bucket cap (operators/dedup.py) — "
        "sf1 ~5 -> ~9 s buys the sf10 pair-emission exponent dropping "
        "from 1.26 to ~sublinear (BENCH_dedup_scaling_r13.json); "
        "cost_metrics carries the capped-bucket accounting",
    "simhash_hamming_pairs":
        "r13 adversarial-density bound (exact-collapse + chunk-bucket "
        "star cap, as neardup_minhash_lsh) AND a 32 -> 60 bit hash "
        "resize: 8-bit pigeonhole chunks saturate at sf1 (~195 docs "
        "per bucket - every bucket over the cap), 15-bit chunks give "
        "~1.5 - the cap is now inert at real density (sf1: 2 capped "
        "buckets, 124,912 true hamming<=3 pairs)",
}


#: Canary gate: an artifact of record captured on a contended host is
#: WORSE than no artifact. In the record modes (--sf1 / --all) a canary
#: ratio above the threshold refuses to emit (nonzero exit, ratio
#: printed). The plain per-round run is NOT gated — refusing
#: there would leave the round without bench evidence.
#: ``--allow-contended`` exists for diagnosis only; artifacts recorded
#: with it say so.
CANARY_GATE_THRESHOLD = 1.1


def check_canary_gate(ratio, record_mode: bool,
                      allow_contended: bool = False,
                      threshold: float = CANARY_GATE_THRESHOLD) -> None:
    """Refuse (SystemExit, nonzero) a contended artifact-of-record."""
    if not record_mode or ratio is None or allow_contended:
        return
    if ratio > threshold:
        raise SystemExit(
            f"canary ratio {ratio:.3f} > {threshold} — host is "
            "contended; refusing to emit an artifact of record. "
            "Re-run on a quiet host (or pass --allow-contended for a "
            "diagnostic, non-record run).")


def _state_store_tag(spark) -> str:
    """The session's streaming state-store provider as a short tag for
    the bench artifact ("rocksdb" / "hdfs" / the raw class name)."""
    cls = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "")
    if "RocksDB" in cls:
        return "rocksdb"
    if "HDFSBacked" in cls:
        return "hdfs"
    return cls or "unset"


def _warm_up(spark, sf_dir: str) -> None:
    """Warm the engine machinery the measured queries share, so the
    first slot does not bill one-time costs to its query: JVM/codegen
    (trivial job), the parquet reader + broadcast-exchange + hash-agg
    + window paths (one micro-query over the two tiny dims). The
    warm-up touches none of the benchmarked plans themselves."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from sql_database_to_elastic_datalake_spark.sources.parquet import load_table

    spark.range(1000).selectExpr("sum(id)").collect()
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("r_regionkey").orderBy("n_name")
            ),
        )
        .groupBy("r_name")
        # max("rn") keeps the row_number column REFERENCED: an unused
        # window column gets pruned along with its Window operator, and
        # the warm-up would silently stop warming window exec/codegen
        .agg(F.count("*"), F.collect_set("n_name"), F.max("rn"))
        .write.format("noop").mode("overwrite").save()
    )


def measure_member(spark, tracer: Tracer, name: str, query, sf_dir: str,
                   n_runs: int, plans_dir: str | None = None) -> dict:
    """Build and noop-run one member ``n_runs`` times.

    Construction and run each get their own span, so their wall times
    and Spark jobs (job group per span) are told apart. Returns
    ``seconds`` (min over runs of construction plus run), ``runs``
    ([(construction s, run s)] per run), ``layers`` and, when the
    member attaches them, ``cost_metrics``.

    ``layers``: ``build_s`` is the fastest construction, ``first_s``
    the first run (Catalyst plus codegen), ``steady_s`` the fastest
    later run. ``build_jobs``/``run_jobs`` count each half's jobs;
    ``stages``, ``shuffle_write_bytes`` and ``executor_run_s`` cover a
    whole run (construction plus run). All of these are medians over
    runs. ``task_skew`` (max/median task time of the longest stage) is
    the largest over runs.
    """
    from sql_database_to_elastic_datalake_spark.session import (
        release_local_checkpoints,
    )

    first = len(tracer.spans)
    df = None
    for _ in range(n_runs):
        with tracer.span(f"{name}.build"):
            df = query(spark, sf_dir)
        with tracer.span(f"{name}.run"):
            df.write.format("noop").mode("overwrite").save()
    # everything below runs outside the timed spans
    out: dict = {}
    # data-bound cost metrics some operators attach (dedup_clusters'
    # candidate pairs/propagation rounds, the LSH star-cap accounting),
    # so a bench delta is attributable to data vs plan vs measurement.
    # Read ONCE: lazy accountings run one small job on first read.
    m = getattr(df, "_dedup_metrics", None)
    if m:
        out["cost_metrics"] = dict(m)
    if plans_dir:
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
            fh.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")))
    tracer.harvest()
    # release the member's localCheckpoint blocks before the next one
    # (after the cost metrics above, which may read a checkpointed
    # relation): accumulated blocks read as run-to-run spread
    df = None
    release_local_checkpoints(spark)

    spans = tracer.spans[first:]
    builds, runs = spans[0::2], spans[1::2]
    pairs = list(zip(builds, runs))
    run_s = [r.duration for r in runs]
    med = statistics.median
    out["runs"] = [(b.duration, r.duration) for b, r in pairs]
    out["seconds"] = round(min(b + r for b, r in out["runs"]), 3)
    out["layers"] = {
        "build_s": round(min(b.duration for b in builds), 3),
        "first_s": round(run_s[0], 3),
        "steady_s": round(min(run_s[1:]), 3),
        "build_jobs": med(len(b.jobs) for b in builds),
        "run_jobs": med(len(r.jobs) for r in runs),
        "stages": med(b.stages + r.stages for b, r in pairs),
        "shuffle_write_bytes": med(b.shuffle_write_bytes
                                   + r.shuffle_write_bytes
                                   for b, r in pairs),
        "executor_run_s": round(med(b.executor_run_s + r.executor_run_s
                                    for b, r in pairs), 3),
        "task_skew": round(max(s.task_skew for s in spans), 2),
    }
    return out


def main() -> None:
    argv = sys.argv[1:]
    plans_dir = None
    if "--plans" in argv:
        i = argv.index("--plans")
        plans_dir = argv[i + 1]
        del argv[i:i + 2]
        os.makedirs(plans_dir, exist_ok=True)
    names = [a for a in argv if not a.startswith("--")]
    sf1_mode = "--sf1" in argv
    # --all: time the FULL sf1 member list at the env-selected lake
    # (normally sf0.1) — the plain run's BENCH_r{N}.json tail is truncated
    all_members = "--all" in argv
    record_mode = sf1_mode or all_members
    # --sf1 pins the lake (the env default belongs to the driver's
    # per-round sf0.1 run; mixing them would mislabel the artifact)
    sf_dir = SF1_DIR if sf1_mode else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if sf1_mode and not os.path.isdir(sf_dir):
        sys.exit(f"sf1 lake missing at {sf_dir}; run scripts/gen_sf1.py first")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    if names:
        bench_set = tuple(names)
    elif record_mode:
        bench_set = HEADLINE + tuple(q for q in SF1_EXTRA
                                     if q not in HEADLINE)
    else:
        bench_set = HEADLINE

    from sql_database_to_elastic_datalake_spark.session import (
        enable_rocksdb_state_store,
        get_spark,
    )

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # the streaming members' recorded times MUST come from the pinned
    # RocksDB provider: re-pin explicitly (get_spark already defaults to
    # it; this guards externally mutated sessions), hard-fail rather
    # than record an artifact under the wrong tier, and stamp the
    # provider into the artifact
    enable_rocksdb_state_store(spark)
    if _state_store_tag(spark) != "rocksdb":
        sys.exit("bench requires the RocksDB state-store tier; got "
                 + _state_store_tag(spark))

    _warm_up(spark, sf_dir)
    tracer = Tracer(active=True)
    tracer.spark = spark

    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    spreads: dict[str, dict] = {}
    cost_metrics: dict[str, dict] = {}
    canary_set = set(SF1_CANARY_PINS if sf1_mode else CANARY_PINS)
    for name in bench_set:
        if name not in qs:
            continue
        # min over runs: the first run pays one-time costs (file
        # listing, codegen compile) that say nothing about engine
        # throughput. In record mode the canary members run 5× — their
        # sub-2 s min-of-3 often fails to amortize JIT warm-up, which
        # is noise in the contention ratio the gate acts on.
        n_runs = 5 if (record_mode and name in canary_set) else 3
        res = measure_member(spark, tracer, name, qs[name], sf_dir,
                             n_runs, plans_dir)
        timings[name] = res["seconds"]
        layers[name] = res["layers"]
        if "cost_metrics" in res:
            cost_metrics[name] = res["cost_metrics"]
        if record_mode:
            # per-run spread rides the record artifacts, so a >2x
            # comparison hit can be told apart from run-to-run noise
            runs = [b + r for b, r in res["runs"]]
            spreads[name] = {
                "runs": [round(r, 3) for r in runs],
                "max_min_ratio": round(max(runs) / max(min(runs), 1e-9),
                                       2),
            }

    total = round(sum(timings.values()), 3)
    out = {
        "metric": ("headline_sf1_total_wall" if sf1_mode
                   else "headline_queries_total_wall"),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # the tier the streaming members ran under — asserted rocksdb
        # above, recorded so the artifact proves it
        "state_store_provider": _state_store_tag(spark),
        "layers": layers,
    }
    if spreads:
        out["spread"] = spreads
    if cost_metrics:
        out["cost_metrics"] = cost_metrics
    resets = {k: v for k, v in BASELINE_RESETS.items() if k in timings}
    if resets:
        out["baseline_reset"] = resets
    if (not sf1_mode and sf == CANARY_SF and cpus == CANARY_CPUS
            and all(q in timings for q in CANARY_PINS)):
        out["canary_ratio"] = round(
            sum(timings[q] for q in CANARY_PINS)
            / sum(CANARY_PINS.values()), 3)
        out["canary_queries"] = sorted(CANARY_PINS)
    if sf1_mode and all(q in timings for q in SF1_CANARY_PINS):
        out["canary_ratio"] = round(
            sum(timings[q] for q in SF1_CANARY_PINS)
            / sum(SF1_CANARY_PINS.values()), 3)
        out["canary_queries"] = sorted(SF1_CANARY_PINS)
    allow_contended = "--allow-contended" in argv
    if allow_contended:
        out["allow_contended"] = True  # diagnostic run, NOT a record
    try:
        check_canary_gate(out.get("canary_ratio"),
                          record_mode=record_mode,
                          allow_contended=allow_contended)
    except SystemExit:
        # the timings are still useful for diagnosis — emit them on
        # stderr (never stdout: the one-JSON-line stdout contract is
        # what artifact tooling captures) and exit nonzero
        print(json.dumps({**out, "artifact_of_record": False}),
              file=sys.stderr)
        raise
    print(json.dumps(out))


if __name__ == "__main__":
    main()
