"""ES aggregations-DSL → Spark groupBy compiler.

The reference's advanced-search endpoint forwards the request body
VERBATIM to ``es.search`` (/root/reference/src/search_api.py:38-46), so
a reference user's saved queries may carry an ``aggs`` section — the
other half of the ES request the lake must answer. This module compiles
that section into DataFrame aggregation plans and assembles the
documented ES response shapes.

Supported aggregation types:

* metrics — ``avg / sum / min / max / value_count / cardinality /
  stats / percentiles / missing`` on a field;
* buckets — ``terms`` (size + count-desc order, ES tie-break by key),
  ``histogram`` (numeric interval), ``date_histogram``
  (``calendar_interval`` minute/hour/day/week/month/year or
  ``fixed_interval`` like ``"5m"``), ``range`` (from/to bands, which ES
  allows to OVERLAP — each band is a conditional aggregate, so one job
  covers all bands), ``filter`` (any query-DSL predicate via
  :func:`.es_dsl.compile_dsl`), and ``composite`` (key-ordered bucket
  pages with ``after``-cursor resumption — the scalable bucket API);
* ``top_hits`` under ``terms`` buckets — per-bucket top documents via
  the window top-k pattern (WindowGroupLimit pushdown), volume bounded
  by returned-buckets × size;
* metric sub-aggs under any bucket agg (computed in the SAME groupBy
  job as the bucket counts — no extra pass);
* MULTI-LEVEL bucket chains (r6): ``terms > date_histogram > metrics``
  and deeper — one ``groupBy`` on the composite key carries every
  level's counts and every metric's mergeable components through ONE
  shuffle; the response tree is assembled driver-side from the flat
  frame (:func:`nested_levels_frame` / :func:`_assemble_levels`).
  Kibana's standard drill-down trees run as a single job.

Documented divergences (same contract as :mod:`.es_dsl`):

* ``cardinality`` is EXACT (``count_distinct``) where ES approximates
  with HLL — strictly more accurate, so ``doc_count_error_upper_bound``
  is always 0; ``percentiles`` likewise: exact interpolated order
  statistics where ES runs t-digest;
* ``terms`` ordering is count-desc with a deterministic key tie-break
  (ES leaves ties shard-dependent).

Scale notes: every bucket family is one distributed aggregation job —
``terms`` is groupBy + TakeOrdered(size) (never a full collect of the
key domain; ``sum_other_doc_count`` comes from one scalar count job),
``histogram``/``date_histogram`` group on a derived key, ``range`` and
``filter`` are conditional aggregates in a single job. Sub-metrics ride
the same shuffle as their bucket counts.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.localrel import local_frame
from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
    DslError,
    compile_dsl,
)

#: metric agg name -> Column factory
_METRICS = {
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "value_count": F.count,
    "cardinality": F.count_distinct,
}

_CALENDAR_TRUNC = {
    "second": "second", "1s": "second",
    "minute": "minute", "1m": "minute",
    "hour": "hour", "1h": "hour",
    "day": "day", "1d": "day",
    "week": "week", "1w": "week",
    "month": "month", "1M": "month",
    "quarter": "quarter", "1q": "quarter",
    "year": "year", "1y": "year",
}

_FIXED_RE = re.compile(r"^(\d+)(ms|s|m|h|d)$")
_FIXED_SECS = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400}

#: ES date_histogram ``offset`` grammar: ``±<n><unit>`` (w = 7 days)
_OFFSET_RE = re.compile(r"^([+-]?)(\d+)(ms|s|m|h|d|w)$")
_OFFSET_SECS = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400,
                "w": 7 * 86400}


def _parse_offset(spec) -> int:
    """ES date_histogram ``offset`` ("+6h", "-30m") → signed whole
    seconds. Sub-second offsets are a named 400 (the engine's bucket
    arithmetic is second-resolution, same contract as fixed_interval
    gap filling)."""
    if spec is None:
        return 0
    m = _OFFSET_RE.match(str(spec))
    if not m:
        raise DslError(f"unsupported date_histogram offset {spec!r}")
    secs = int(m.group(2)) * _OFFSET_SECS[m.group(3)]
    if secs != int(secs):
        raise DslError(
            f"sub-second date_histogram offset {spec!r} is not supported")
    return -int(secs) if m.group(1) == "-" else int(secs)


def _check_time_zone(tz) -> str | None:
    """Validate an ES ``time_zone`` id eagerly (named 400) instead of
    letting the JVM throw mid-job. IANA names and fixed offsets
    (``+05:30``) both resolve through zoneinfo / the JDK tz db."""
    if tz is None:
        return None
    tz = str(tz)
    if re.fullmatch(r"[+-]\d{2}:\d{2}", tz):
        return tz  # fixed-offset form — Spark accepts it directly
    try:
        from zoneinfo import ZoneInfo

        ZoneInfo(tz)
    except Exception:
        raise DslError(f"unknown time_zone {tz!r}") from None
    return tz


#: ES default percents for a percentiles agg
_DEFAULT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)

#: implemented body keys per agg kind. Keys that only tune ES-internal
#: execution (shard_size, collect_mode, …) are accepted-and-ignored —
#: they cannot change results. Keys that WOULD change results
#: (time_zone, offset, keyed, script, …) are NOT listed: the reference
#: forwards bodies verbatim to ES, so silently ignoring one returns
#: wrong numbers with no error — they 400 instead (the same posture as
#: the search route's unknown-top-level-key rejection).
_AGG_BODY_KEYS = {
    "terms": {"field", "size", "missing", "min_doc_count", "order",
              "include", "exclude",
              "shard_size", "show_term_doc_count_error", "collect_mode",
              "execution_hint"},
    "histogram": {"field", "interval", "min_doc_count",
                  "extended_bounds", "offset", "keyed"},
    "date_histogram": {"field", "calendar_interval", "fixed_interval",
                       "min_doc_count", "extended_bounds", "format",
                       "time_zone", "offset", "keyed"},
    "range": {"field", "ranges", "keyed"},
    # r14 (r13 verdict #7): ip_range — dotted-quad/CIDR bands over a
    # string ip column, parsed to longs in column algebra
    # (functions/ip.py); ipv6 shapes are named 400s
    "ip_range": {"field", "ranges", "keyed"},
    "date_range": {"field", "ranges", "keyed", "format"},
    "filters": {"filters", "other_bucket", "other_bucket_key"},
    "composite": {"sources", "size", "after"},
    "top_hits": {"size", "sort", "_source"},
    "significant_terms": {"field", "size", "min_doc_count",
                          "shard_size", "shard_min_doc_count",
                          "background_filter"},
    # r10: the text twin — same JLH scoring over TOKENS of an
    # analyzed field (doc frequency: each doc counts once per
    # distinct token). filter_duplicate_text (ES's near-dup text
    # suppression) is a named 400, not a silent drop.
    "significant_text": {"field", "size", "min_doc_count",
                         "shard_size", "shard_min_doc_count",
                         "background_filter"},
    # r10: the cost-bounding wrappers around significant_*/terms on
    # big indices. execution_hint is a non-result-changing hint in ES
    # — accepted-and-ignored.
    # r13: geohash cells at exact-arithmetic precision (functions/
    # geo.py); shard_size is ES-internal accuracy tuning — ignored
    "geohash_grid": {"field", "precision", "size", "shard_size"},
    # r13 late: the rest of the geo agg family. geotile `bounds` is
    # result-changing and NOT listed (named 400, not a silent drop)
    "geotile_grid": {"field", "precision", "size", "shard_size"},
    "geo_distance": {"field", "origin", "ranges", "unit",
                     "distance_type", "keyed"},
    "geo_bounds": {"field", "wrap_longitude"},
    "geo_centroid": {"field"},
    "geo_line": {"point", "sort", "include_sort", "sort_order",
                 "size"},
    # r13 late: rate — only valid under a date_histogram (enforced in
    # the branch); `unit` beyond week is a named 400 (calendar UNITS
    # have no fixed second count; calendar bucket SPANS are handled)
    "rate": {"field", "unit", "mode"},
    "sampler": {"shard_size"},
    "diversified_sampler": {"shard_size", "field",
                            "max_docs_per_value", "execution_hint"},
    # r7 bucket additions. multi_terms is Kibana Lens's "top values of
    # multiple fields"; rare_terms the long-tail panel (exact here —
    # ES's CuckooFilter approximation is a documented divergence,
    # `precision` accepted-and-ignored); auto_date_histogram is the
    # Discover histogram (interval choice from a fixed ladder;
    # intervals >= 30d round on fixed day lengths, not calendar months
    # — documented divergence for cross-engine reproducibility)
    "multi_terms": {"terms", "size", "min_doc_count", "order",
                    "shard_size", "show_term_doc_count_error",
                    "collect_mode"},
    "global": set(),
    "adjacency_matrix": {"filters", "separator"},
    "rare_terms": {"field", "max_doc_count", "missing", "include",
                   "exclude", "precision"},
    "auto_date_histogram": {"field", "buckets", "minimum_interval",
                            "format"},
    # r11 late: variable_width_histogram is the largest-gaps exact
    # variant (initial_buffer/shard_size tune ES's approximation —
    # accepted-and-ignored); categorize_text is the exact-template
    # tier (similarity_threshold != 100 is a named 400 in the frame)
    "variable_width_histogram": {"field", "buckets", "initial_buffer",
                                 "shard_size"},
    "categorize_text": {"field", "size", "min_doc_count",
                        "similarity_threshold",
                        "categorization_filters", "shard_size"},
    # r11 late: exact closed-set mining (ES mines per-shard sampled
    # eclat and calls its own output approximate — divergence
    # documented in the frame)
    "frequent_item_sets": {"fields", "minimum_set_size",
                           "minimum_support", "size"},
    "nested": {"path"},
    "reverse_nested": set(),
    # metric kinds: field + ES's missing-value substitution;
    # precision_threshold is accepted-ignored (we are exact anyway)
    # pipeline aggs (r7): driver-side transforms over already-computed
    # bucket lists — no extra job; gap_policy "skip" is ES's default
    # and the only implemented policy (insert_zeros would change
    # results silently if coerced)
    "avg_bucket": {"buckets_path", "gap_policy"},
    "sum_bucket": {"buckets_path", "gap_policy"},
    "min_bucket": {"buckets_path", "gap_policy"},
    "max_bucket": {"buckets_path", "gap_policy"},
    "stats_bucket": {"buckets_path", "gap_policy"},
    "cumulative_sum": {"buckets_path"},
    "derivative": {"buckets_path", "gap_policy"},
    # the rest of the TSVB staple family (r7): same driver-side tier.
    # bucket_script/bucket_selector scripts go through a SAFE
    # arithmetic evaluator (_eval_bucket_script) — exactly the
    # `params.x`-algebra subset Kibana TSVB emits; anything beyond it
    # (method calls, state) is a named 400, never eval()
    "bucket_script": {"buckets_path", "script", "gap_policy"},
    "bucket_selector": {"buckets_path", "script", "gap_policy"},
    "bucket_sort": {"sort", "from", "size", "gap_policy"},
    "moving_fn": {"buckets_path", "script", "window", "shift",
                  "gap_policy"},
    "serial_diff": {"buckets_path", "lag", "gap_policy"},
    "percentiles_bucket": {"buckets_path", "gap_policy", "percents"},
    # r14 (r13 verdict #5): the pipeline-agg tail
    "extended_stats_bucket": {"buckets_path", "gap_policy", "sigma"},
    "moving_percentiles": {"buckets_path", "window", "shift"},
    # r9: normalize — per-bucket rescale against the sibling list.
    # `format` (value_as_string rendering) is unimplemented and names
    # its 400 here rather than silently dropping the rendered form
    "normalize": {"buckets_path", "method"},
    # r9: cumulative_cardinality — EXACT running distinct via the
    # first-occurrence histogram (ES merges HLL sketches: the same
    # exactness divergence as cardinality itself). buckets_path must
    # name a sibling `cardinality` sub-agg; the pipeline re-reads that
    # agg's field, so script-sourced cardinality is a named 400
    "cumulative_cardinality": {"buckets_path"},
    "avg": {"field", "missing", "script"},
    "sum": {"field", "missing", "script"},
    "min": {"field", "missing", "script"},
    "max": {"field", "missing", "script"},
    "value_count": {"field", "missing", "script"},
    "cardinality": {"field", "missing", "precision_threshold",
                    "script"},
    "stats": {"field", "missing", "script"},
    "percentiles": {"field", "missing", "percents", "script"},
    "missing": {"field"},
    # r7 metric additions. extended_stats/percentile_ranks are exact
    # (the cardinality-style divergence: ES runs t-digest for ranks);
    # MAD's `compression` is a t-digest tuning knob — accepted and
    # ignored because the computation here is exact anyway
    "extended_stats": {"field", "missing", "sigma", "script"},
    "percentile_ranks": {"field", "missing", "values", "script"},
    "weighted_avg": {"value", "weight"},
    "median_absolute_deviation": {"field", "missing", "compression",
                                  "script"},
    "top_metrics": {"metrics", "sort", "size"},
    # r9: string_stats (top-level only — named 400 under buckets).
    # count/lengths ride one agg job; the character distribution (and
    # the entropy derived from it driver-side) is a second bounded
    # groupBy — see string_stats_frame
    "string_stats": {"field", "missing", "show_distribution"},
    # r9: boxplot — exact quantiles + exact IQR-fence whiskers in one
    # two-scan plan (ES runs TDigest: the same exactness divergence as
    # percentiles; compression is accepted-and-ignored)
    "boxplot": {"field", "missing", "compression", "script"},
    # r9: t_test — two-sample means test. Top-level only (the
    # conditional-moment pass is per-corpus; under buckets the metric
    # dispatcher names the 400)
    "t_test": {"a", "b", "type"},
    # r9: matrix_stats — `mode` (multi-valued field reduction) has no
    # meaning over scalar columns and is a named 400 rather than an
    # accepted-and-diverging knob
    "matrix_stats": {"fields", "missing"},
}

#: Grid aggregation kind → (cell function in functions/geo.py,
#: precision range lo..hi, default precision, range-error note).
_GRID_AGGS = {
    "geohash_grid": ("geohash", 1, 8, 5,
                     " (9+ exceeds the exact-arithmetic cell width "
                     "this engine guarantees)"),
    "geotile_grid": ("geotile", 0, 29, 7, ""),
}


def check_agg_keys(kind: str, body) -> None:
    """400 on agg-body keys with unimplemented RESULT-CHANGING
    semantics (see _AGG_BODY_KEYS)."""
    if kind == "filter" or kind not in _AGG_BODY_KEYS:
        return  # filter bodies are query DSL; unknown kinds error later
    if not isinstance(body, dict):
        return
    unknown = sorted(set(body) - _AGG_BODY_KEYS[kind])
    if unknown:
        raise DslError(
            f"unsupported {kind} aggregation options: {unknown} "
            f"(supported: {sorted(_AGG_BODY_KEYS[kind])})"
        )


def _metric_source(body: dict) -> Column:
    """The metric's input column, with ES's ``missing`` substitution
    (docs lacking the field aggregate as if they carried this value).

    r9: a ``script`` body (Kibana's "JSON input" idiom) compiles
    through the painless-subset Column compiler — same grammar as
    ``script_score``, no ``_score`` in scope, never eval(). Script OR
    field, not both (ES's ``_value``-transform combined form is a
    named 400, not a silent drop)."""
    if isinstance(body, dict) and body.get("script") is not None:
        if body.get("field") is not None:
            raise DslError(
                "metric aggregations take field OR script (the "
                "_value transform form is not implemented)")
        from sql_database_to_elastic_datalake_spark.plans.score_dsl import (
            script_column,
        )

        spec = body["script"]
        if isinstance(spec, str):
            spec = {"source": spec}
        c = script_column(spec, F.col, base_score=None)
    else:
        if not isinstance(body, dict) or body.get("field") is None:
            # named 400, not a KeyError-500, for a body with neither
            # source (e.g. {"boxplot": {}})
            raise DslError(
                "metric aggregation requires a field or script")
        c = F.col(body["field"])
    if body.get("missing") is not None:
        return F.coalesce(c, F.lit(body["missing"]))
    return c


_RATE_UNIT_SECONDS = {"second": 1.0, "minute": 60.0, "hour": 3600.0,
                      "day": 86400.0, "week": 604800.0}


def _rate_unit_seconds(unit) -> float:
    """Seconds per rate unit. Calendar units (month/quarter/year) have
    no fixed second count — a named 400 rather than ES's own
    fixed-ms approximation (divide by day and scale client-side)."""
    u = str(unit)
    if u not in _RATE_UNIT_SECONDS:
        raise DslError(
            f"unsupported rate unit {u!r} (second/minute/hour/day/"
            "week; calendar units have no fixed length)")
    return _RATE_UNIT_SECONDS[u]


def _bucket_span_seconds(key, body: dict) -> float:
    """The CALENDAR span of one date_histogram bucket in seconds —
    next bucket start minus this one, computed in the histogram's
    time_zone so 28-vs-31-day months and 23/25-hour DST days divide
    correctly. ``key`` is the bucket-start instant the frame
    returned (naive UTC datetime)."""
    fixed = body.get("fixed_interval")
    if fixed is not None:
        m = _FIXED_RE.match(str(fixed))
        return float(m.group(1)) * _FIXED_SECS[m.group(2)]
    unit = _CALENDAR_TRUNC[str(body.get("calendar_interval"))]
    tz = _check_time_zone(body.get("time_zone"))
    from zoneinfo import ZoneInfo

    if tz and not re.fullmatch(r"[+-]\d{2}:\d{2}", tz):
        zone = ZoneInfo(tz)
    elif tz:
        sign = 1 if tz[0] == "+" else -1
        zone = _dt.timezone(sign * _dt.timedelta(
            hours=int(tz[1:3]), minutes=int(tz[4:6])))
    else:
        zone = _dt.timezone.utc
    start_utc = key.replace(tzinfo=_dt.timezone.utc)
    local = start_utc.astimezone(zone).replace(tzinfo=None)
    if unit == "month":
        t = local.year * 12 + (local.month - 1) + 1
        nxt = local.replace(year=t // 12, month=t % 12 + 1)
    elif unit == "quarter":
        t = local.year * 12 + (local.month - 1) + 3
        nxt = local.replace(year=t // 12, month=t % 12 + 1)
    elif unit == "year":
        nxt = local.replace(year=local.year + 1)
    elif unit == "week":
        nxt = local + _dt.timedelta(days=7)
    else:
        nxt = local + _dt.timedelta(
            seconds=_RATE_UNIT_SECONDS[unit])
    next_utc = nxt.replace(tzinfo=zone).astimezone(_dt.timezone.utc)
    return (next_utc - start_utc).total_seconds()


def _metric_cols(sub_aggs: dict, prefix: str = "") -> list[Column]:
    """One aliased aggregate Column per metric sub-agg. ``stats`` and
    ``percentiles`` expand to several columns reassembled at envelope
    time; ``missing`` counts docs whose field is null (ES missing
    agg)."""
    cols: list[Column] = []
    for name, spec in (sub_aggs or {}).items():
        if not isinstance(spec, dict):
            raise DslError(f"aggregation {name!r} must be an object")
        kinds = [k for k in spec
                 if k not in ("aggs", "aggregations", "meta")]
        if len(kinds) != 1:
            raise DslError(f"aggregation {name!r} must have exactly one type")
        kind, body = kinds[0], spec[kinds[0]]
        if kind == "filter":
            # a filter sub-agg with metric-only children rides the
            # SAME aggregation job as its parent bucket — gated
            # conditional aggregates, exactly the filters-agg shape
            # (Kibana's terms>filter panels; bucket children inside it
            # still name-error via the gated dispatch)
            from sql_database_to_elastic_datalake_spark.plans.es_dsl \
                import _ns

            pred = _ns(compile_dsl(body))
            cols.append(
                F.sum(F.when(pred, 1).otherwise(0)).cast("bigint")
                .alias(f"{prefix}{name}|doc_count"))
            inner = spec.get("aggs") or spec.get("aggregations") or {}
            cols.extend(_gated_metric_cols(
                pred, inner, prefix=f"{prefix}{name}|"))
            continue
        if spec.get("aggs") or spec.get("aggregations"):
            raise DslError(
                f"sub-aggregations under {name!r} ({kind}) are not "
                "supported here"
            )
        if kind == "weighted_avg":
            # no top-level field: value/weight sub-objects instead
            check_agg_keys(kind, body)
            v = body.get("value") or {}
            w = body.get("weight") or {}
            if not (isinstance(v, dict) and v.get("field")
                    and isinstance(w, dict) and w.get("field")):
                raise DslError(
                    f"weighted_avg {name!r} needs value.field and "
                    "weight.field"
                )
            vc, wc = _metric_source(v), _metric_source(w)
            # ES skips docs where either side is (still) null after
            # the missing substitutions
            both = vc.isNotNull() & wc.isNotNull()
            cols.append(F.sum(F.when(both, vc * wc))
                        .alias(f"{prefix}{name}.vw"))
            cols.append(F.sum(F.when(both, wc))
                        .alias(f"{prefix}{name}.w"))
            continue
        if kind == "scripted_metric":
            # r14 (r13 verdict #4): the deterministic init/map/
            # combine/reduce subset compiles to ONE aggregate Column
            # (plans/scripted_metric.py), so it rides every frame
            # like any single-value metric
            from sql_database_to_elastic_datalake_spark.plans \
                .scripted_metric import scripted_metric_column

            cols.append(scripted_metric_column(body)
                        .alias(f"{prefix}{name}"))
            continue
        field = body.get("field") if isinstance(body, dict) else None
        has_script = isinstance(body, dict) and body.get("script") \
            is not None and kind != "missing"
        if field is None and not has_script:
            raise DslError(
                f"aggregation {name!r} ({kind}) requires a field"
                + ("" if kind == "missing" else " or script"))
        check_agg_keys(kind, body)
        src = _metric_source(body)
        if kind == "extended_stats":
            # mergeable components; the derived moments (variance,
            # bounds) assemble at envelope time from the SAME
            # sum/sum-of-squares arithmetic ES accumulates
            for stat, c in (
                ("count", F.count(src)), ("min", F.min(src)),
                ("max", F.max(src)), ("sum", F.sum(src)),
                ("sumsq", F.sum(src * src)),
            ):
                cols.append(c.alias(f"{prefix}{name}.{stat}"))
        elif kind == "percentile_ranks":
            vals = body.get("values")
            if not isinstance(vals, list) or not vals:
                raise DslError(
                    f"percentile_ranks {name!r} needs a non-empty "
                    "values list"
                )
            # EXACT rank: share of non-null values <= v (ES
            # interpolates a t-digest — same exactness divergence as
            # cardinality/percentiles)
            for v in vals:
                cols.append(
                    (F.sum(F.when(src <= F.lit(v), 1).otherwise(0))
                     * 100.0 / F.count(src))
                    .alias(f"{prefix}{name}<{float(v)}")
                )
        elif kind == "stats":
            for stat, fn in (("count", F.count), ("min", F.min),
                             ("max", F.max), ("avg", F.avg), ("sum", F.sum)):
                cols.append(fn(src).alias(f"{prefix}{name}.{stat}"))
        elif kind == "percentiles":
            # EXACT interpolated percentiles where ES runs t-digest —
            # the same exactness divergence as cardinality, same
            # direction (strictly more accurate)
            for p in body.get("percents", _DEFAULT_PERCENTS):
                cols.append(
                    F.percentile(src, F.lit(float(p) / 100.0))
                    .alias(f"{prefix}{name}%{float(p)}")
                )
        elif kind == "missing":
            cols.append(
                F.sum(F.when(F.col(field).isNull(), 1).otherwise(0))
                .cast("bigint").alias(f"{prefix}{name}")
            )
        elif kind in _METRICS:
            cols.append(_METRICS[kind](src).alias(f"{prefix}{name}"))
        else:
            raise DslError(
                f"unsupported sub-aggregation kind {kind!r} under {name!r}"
            )
    return cols


def _metric_envelope(row, sub_aggs: dict, prefix: str = "") -> dict:
    out = {}
    for name, spec in (sub_aggs or {}).items():
        kind = next(k for k in spec
                    if k not in ("aggs", "aggregations", "meta"))
        if kind == "filter":
            env = {"doc_count": row[f"{prefix}{name}|doc_count"]}
            env.update(_metric_envelope(
                row, spec.get("aggs") or spec.get("aggregations")
                or {}, prefix=f"{prefix}{name}|"))
            out[name] = env
        elif kind == "weighted_avg":
            w = row[f"{prefix}{name}.w"]
            out[name] = {"value":
                         (row[f"{prefix}{name}.vw"] / w)
                         if w else None}
        elif kind == "extended_stats":
            body = spec[kind]
            cnt = row[f"{prefix}{name}.count"]
            s = row[f"{prefix}{name}.sum"]
            sq = row[f"{prefix}{name}.sumsq"]
            sigma = float(body.get("sigma", 2.0))
            env: dict[str, Any] = {
                "count": cnt,
                "min": row[f"{prefix}{name}.min"],
                "max": row[f"{prefix}{name}.max"],
                "sum": s if s is not None else 0,
                "sum_of_squares": sq,
                "avg": None, "variance": None,
                "variance_population": None,
                "variance_sampling": None,
                "std_deviation": None,
                "std_deviation_population": None,
                "std_deviation_sampling": None,
                "std_deviation_bounds": {
                    "upper": None, "lower": None,
                    "upper_population": None, "lower_population": None,
                    "upper_sampling": None, "lower_sampling": None,
                },
            }
            if cnt:
                avg = s / cnt
                # ES derives variance from the accumulated sum /
                # sum-of-squares exactly like this (its `variance` is
                # the POPULATION variance), clamped at 0 against
                # floating-point cancellation
                var_p = max(sq / cnt - avg * avg, 0.0)
                var_s = (max(sq - cnt * avg * avg, 0.0) / (cnt - 1)
                         if cnt > 1 else None)
                sd_p = var_p ** 0.5
                sd_s = var_s ** 0.5 if var_s is not None else None
                env.update({
                    "avg": avg, "variance": var_p,
                    "variance_population": var_p,
                    "variance_sampling": var_s,
                    "std_deviation": sd_p,
                    "std_deviation_population": sd_p,
                    "std_deviation_sampling": sd_s,
                    "std_deviation_bounds": {
                        "upper": avg + sigma * sd_p,
                        "lower": avg - sigma * sd_p,
                        "upper_population": avg + sigma * sd_p,
                        "lower_population": avg - sigma * sd_p,
                        "upper_sampling":
                            (avg + sigma * sd_s)
                            if sd_s is not None else None,
                        "lower_sampling":
                            (avg - sigma * sd_s)
                            if sd_s is not None else None,
                    },
                })
            out[name] = env
        elif kind == "percentile_ranks":
            body = spec[kind]
            out[name] = {"values": {
                str(float(v)): row[f"{prefix}{name}<{float(v)}"]
                for v in body.get("values", [])
            }}
        elif kind == "stats":
            out[name] = {
                stat: row[f"{prefix}{name}.{stat}"]
                for stat in ("count", "min", "max", "avg", "sum")
            }
        elif kind == "percentiles":
            body = spec[kind]
            out[name] = {"values": {
                str(float(p)): row[f"{prefix}{name}%{float(p)}"]
                for p in body.get("percents", _DEFAULT_PERCENTS)
            }}
        elif kind == "missing":
            out[name] = {"doc_count": row[f"{prefix}{name}"]}
        else:
            out[name] = {"value": row[f"{prefix}{name}"]}
    return out


def bucket_key(kind: str, body: dict) -> Column:
    """The grouping expression for a bucket aggregation. A ``terms``
    ``missing`` value folds null keys into that bucket (ES's missing
    parameter) — downstream null-key exclusions then naturally keep
    those rows."""
    field = body.get("field")
    if field is None:
        raise DslError(f"{kind} aggregation requires a field")
    if kind == "terms":
        if body.get("missing") is not None:
            return F.coalesce(F.col(field), F.lit(body["missing"]))
        return F.col(field)
    if kind == "histogram":
        interval = body.get("interval")
        if not interval or interval <= 0:
            raise DslError("histogram requires a positive interval")
        off = body.get("offset", 0) or 0
        if off:
            # ES's numeric-histogram offset contract: [0, interval)
            if not (0 <= off < interval):
                raise DslError(
                    f"histogram offset must be in [0, {interval}) "
                    f"(got {off})"
                )
            return (
                F.floor((F.col(field) - F.lit(off)) / F.lit(interval))
                * F.lit(interval) + F.lit(off)
            )
        return (
            F.floor(F.col(field) / F.lit(interval)) * F.lit(interval)
        )
    if kind == "date_histogram":
        cal = body.get("calendar_interval")
        fixed = body.get("fixed_interval")
        tz = _check_time_zone(body.get("time_zone"))
        off = _parse_offset(body.get("offset"))
        # ES rounds in the time_zone's WALL CLOCK (Kibana attaches the
        # browser tz to every time chart), with `offset` shifting each
        # bucket's start: bucket_local = trunc(local − offset) + offset,
        # then back to the UTC instant. DST is honored by the tz db on
        # both shifts, so a 23-hour "day" truncates correctly. All four
        # shifts are pure column arithmetic — codegen'd, no UDF.
        local = F.from_utc_timestamp(F.col(field), tz) if tz \
            else F.col(field)
        if off:
            local = local - F.expr(f"INTERVAL {off} SECONDS")
        if cal is not None:
            unit = _CALENDAR_TRUNC.get(cal)
            if unit is None:
                raise DslError(f"unsupported calendar_interval {cal!r}")
            t = F.date_trunc(unit, local)
        elif fixed is not None:
            m = _FIXED_RE.match(str(fixed))
            if not m:
                raise DslError(f"unsupported fixed_interval {fixed!r}")
            secs = int(m.group(1)) * _FIXED_SECS[m.group(2)]
            if secs <= 0:
                raise DslError(f"unsupported fixed_interval {fixed!r}")
            t = F.timestamp_seconds(
                F.floor(F.unix_timestamp(local) / F.lit(secs))
                * F.lit(secs)
            )
        else:
            raise DslError(
                "date_histogram requires calendar_interval or "
                "fixed_interval"
            )
        if off:
            t = t + F.expr(f"INTERVAL {off} SECONDS")
        return F.to_utc_timestamp(t, tz) if tz else t
    raise DslError(f"unsupported bucket aggregation kind {kind!r}")


def _terms_order(body: dict, sub_aggs: dict | None) -> list[Column]:
    """The ``terms`` ``order`` spec → sort Columns over the flat bucket
    frame. ES targets: ``_count``, ``_key`` (also the legacy
    ``_term``), a single-value metric sub-agg by name, or a stats
    sub-path (``name.avg``). A deterministic key tie-break is always
    appended (the same determinism divergence as the default
    ordering)."""
    spec = body.get("order", {"_count": "desc"})
    specs = [spec] if isinstance(spec, dict) else list(spec)
    cols: list[Column] = []
    for s in specs:
        if not isinstance(s, dict) or len(s) != 1:
            raise DslError(f"malformed terms order clause {s!r}")
        target, direction = next(iter(s.items()))
        if direction not in ("asc", "desc"):
            raise DslError(f"unknown terms order direction {direction!r}")
        if target == "_count":
            c = F.col("doc_count")
        elif target in ("_key", "_term"):
            c = F.col("key")
        else:
            base, _, stat = str(target).partition(".")
            if base not in (sub_aggs or {}):
                raise DslError(
                    f"terms order references unknown sub-agg {target!r}")
            kind = _agg_kind(sub_aggs[base])
            if kind is None:
                raise DslError(
                    f"malformed sub-agg spec for terms order {target!r}")
            if kind == "stats":
                if stat not in ("count", "min", "max", "avg", "sum"):
                    raise DslError(
                        f"unknown stats path in terms order {target!r}")
                c = F.col(f"`{base}.{stat}`")
            elif kind in _METRICS or kind == "scripted_metric":
                c = F.col(base)
            else:
                raise DslError(
                    f"cannot order terms by a {kind} sub-agg ({base!r})")
        cols.append(c.desc() if direction == "desc" else c.asc())
    cols.append(F.col("key").asc())
    return cols


def _partition_spec(which: str, spec: dict) -> tuple[int, int]:
    """Validate ES's partition form ``{"partition": p,
    "num_partitions": n}`` (the high-cardinality terms pager)."""
    if which != "include":
        raise DslError("terms exclude does not take a partition form")
    unknown = sorted(set(spec) - {"partition", "num_partitions"})
    if unknown:
        raise DslError(f"unsupported include partition keys: {unknown}")
    p, n = spec.get("partition"), spec.get("num_partitions")
    for nm, v in (("partition", p), ("num_partitions", n)):
        if not isinstance(v, int) or isinstance(v, bool) or v < 0:
            raise DslError(
                f"include {nm} must be a non-negative integer")
    if n < 1 or p >= n:
        raise DslError(
            "include partition must be < num_partitions (>= 1)")
    return p, n


def _include_exclude_pred(key: Column, body: dict) -> Column | None:
    """ES ``terms`` ``include``/``exclude`` (r7 — Kibana's bucket
    filtering): exact-value lists (``isin``) or whole-value-anchored
    regex strings (Lucene semantics), applied to the BUCKET KEY before
    ordering/truncation so ``size`` picks among the surviving terms.

    r10: the partition form ``{"partition": p, "num_partitions": n}``
    — Kibana's high-cardinality pager — keeps keys whose md5 bucket is
    p (the engine's deterministic-hash convention). DOCUMENTED
    DIVERGENCE: ES partitions on its own term hash, so WHICH keys land
    in partition p differs — the contract that holds (and the one
    clients rely on) is each key in exactly one partition, stable
    across requests."""
    pred: Column | None = None
    for which, positive in (("include", True), ("exclude", False)):
        spec = body.get(which)
        if spec is None:
            continue
        if isinstance(spec, dict):
            p, n = _partition_spec(which, spec)
            pk = (F.conv(F.substring(F.md5(key.cast("string")), 1, 8),
                         16, 10).cast("bigint") % F.lit(n)) == F.lit(p)
            pred = pk if pred is None else (pred & pk)
            continue
        if isinstance(spec, list):
            p = key.isin(list(spec))
        else:
            p = key.cast("string").rlike(f"^(?:{spec})$")
        if not positive:
            p = ~F.coalesce(p, F.lit(False))
        pred = p if pred is None else (pred & p)
    return pred


def _include_exclude_py(k, body: dict) -> bool:
    """Driver-side mirror of :func:`_include_exclude_pred` for the
    nested-chain assembly (terms levels filter in memory — a row-level
    filter would wrongly shrink parent doc_counts)."""
    for which, positive in (("include", True), ("exclude", False)):
        spec = body.get(which)
        if spec is None:
            continue
        if isinstance(spec, dict):
            import hashlib

            p, n = _partition_spec(which, spec)
            b = int(hashlib.md5(
                str(k).encode()).hexdigest()[:8], 16) % n
            hit = b == p
        elif isinstance(spec, list):
            hit = k in spec
        else:
            hit = re.fullmatch(spec, str(k)) is not None
        if hit != positive:
            return False
    return True


def terms_frame(
    df: DataFrame, body: dict, sub_aggs: dict | None = None
) -> DataFrame:
    """Flat bucket rows for a ``terms`` agg: ``key, doc_count`` +
    one column per metric sub-agg, ordered per the ES ``order`` spec
    (default count-desc) with a key tie-break, limited to ``size``
    (TakeOrdered — never a full key-domain collect). ES's ``missing``
    parameter folds null keys into a named bucket (via
    :func:`bucket_key`); ``min_doc_count`` drops small buckets BEFORE
    the TakeOrdered."""
    size = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 1))
    key = bucket_key("terms", body)
    src = df.filter(key.isNotNull())
    ie = _include_exclude_pred(key, body)
    if ie is not None:
        # row-level: the filter reaches the scan (an isin include is a
        # PushedFilter) and the shuffle only carries surviving terms
        src = src.filter(ie)
    out = (
        src.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"),
             *_metric_cols(sub_aggs))
    )
    if min_dc > 1:
        out = out.filter(F.col("doc_count") >= min_dc)
    return out.orderBy(*_terms_order(body, sub_aggs)).limit(size)


#: calendar_interval unit -> the sequence() step expression
_CALENDAR_STEP = {
    "second": "interval 1 second", "minute": "interval 1 minute",
    "hour": "interval 1 hour", "day": "interval 1 day",
    "week": "interval 7 days", "month": "interval 1 month",
    "quarter": "interval 3 months", "year": "interval 1 year",
}


def _histogram_step(kind: str, body: dict):
    """The bucket-to-bucket step for gap filling, as a Column."""
    if kind == "date_histogram":
        cal = body.get("calendar_interval")
        if cal is not None:
            unit = _CALENDAR_TRUNC.get(cal)
            return F.expr(_CALENDAR_STEP[unit])
        m = _FIXED_RE.match(str(body.get("fixed_interval")))
        secs = int(m.group(1)) * _FIXED_SECS[m.group(2)]
        if secs != int(secs) or secs < 1:
            raise DslError(
                "min_doc_count: 0 needs a whole-second fixed_interval")
        return F.expr(f"interval {int(secs)} seconds")
    interval = body.get("interval")
    if interval != int(interval):
        raise DslError(
            "min_doc_count: 0 on a numeric histogram needs an integer "
            "interval (fractional steps don't enumerate exactly)"
        )
    return None  # numeric: sequence over longs, step = interval


def histogram_frame(
    df: DataFrame, kind: str, body: dict, sub_aggs: dict | None = None
) -> DataFrame:
    """Flat bucket rows for ``histogram``/``date_histogram``: key-asc.

    ``min_doc_count`` defaults to 1 here (empty buckets omitted);
    ``min_doc_count: 0`` restores ES's date_histogram default —
    gap-filled zero buckets over the observed key range, widened by
    ``extended_bounds`` (``{"min": …, "max": …}``, bucket-truncated
    like ES). The dense key sequence derives IN-PLAN from the grouped
    frame's min/max (a bucket-count-sized input), left-joined back —
    no driver round trip; empty buckets carry doc_count 0 and null
    metrics, exactly ES's envelope."""
    return _histogram_buckets(df, kind, body, sub_aggs).orderBy(
        F.col("key").asc())


def _histogram_buckets(
    df: DataFrame, kind: str, body: dict, sub_aggs: dict | None = None
) -> DataFrame:
    """:func:`histogram_frame`'s rows in no order. ``run_aggs``
    collects every bucket row anyway and sorts them by key on the
    driver, which saves the global sort's range-sampling job and its
    exchange."""
    key = bucket_key(kind, body)
    min_dc = int(body.get("min_doc_count", 1))
    grouped = (
        df.filter(key.isNotNull())
        .groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"),
             *_metric_cols(sub_aggs))
    )
    if min_dc != 0:
        return grouped
    step = _histogram_step(kind, body)
    ext = body.get("extended_bounds") or {}
    b = grouped.agg(F.min("key").alias("mn"), F.max("key").alias("mx"))
    if ext:
        if kind == "date_histogram":
            mn_l = _after_lit(kind, ext.get("min")) if "min" in ext else None
            mx_l = _after_lit(kind, ext.get("max")) if "max" in ext else None
        else:
            mn_l = F.lit(ext["min"]) if "min" in ext else None
            mx_l = F.lit(ext["max"]) if "max" in ext else None
        # truncate literal bounds to their bucket via a renamed
        # single-column frame through the same bucket expression
        def trunc_lit(lit_col):
            one = grouped.sparkSession.range(1).select(
                lit_col.alias(body["field"]))
            return one.select(
                bucket_key(kind, body).alias("v")).collect()[0]["v"]

        if mn_l is not None:
            v = trunc_lit(mn_l)
            b = b.select(
                F.coalesce(F.least("mn", F.lit(v)), F.lit(v)).alias("mn"),
                "mx")
        if mx_l is not None:
            v = trunc_lit(mx_l)
            b = b.select(
                "mn",
                F.coalesce(F.greatest("mx", F.lit(v)), F.lit(v)).alias("mx"))
    if step is not None:
        tz = _check_time_zone(body.get("time_zone")) \
            if kind == "date_histogram" else None
        off = _parse_offset(body.get("offset")) \
            if kind == "date_histogram" else 0
        if tz or off:
            # enumerate the dense sequence in LOCAL wall-clock space
            # (where buckets are uniform even across DST — a NY "day"
            # is 23 UTC hours on the spring-forward date), then map
            # each wall value back to its UTC instant
            def _to_local(c):
                c = F.from_utc_timestamp(c, tz) if tz else c
                return c - F.expr(f"INTERVAL {off} SECONDS") if off else c

            def _to_instant(c):
                c = c + F.expr(f"INTERVAL {off} SECONDS") if off else c
                return F.to_utc_timestamp(c, tz) if tz else c

            full = (
                b.filter(F.col("mn").isNotNull())
                .select(F.explode(F.sequence(
                    _to_local(F.col("mn")), _to_local(F.col("mx")), step))
                    .alias("__lk"))
                .select(_to_instant(F.col("__lk")).alias("key"))
            )
        else:
            full = b.filter(F.col("mn").isNotNull()).select(
                F.explode(F.sequence(F.col("mn"), F.col("mx"), step))
                .alias("key"))
    else:
        iv = int(body["interval"])
        noff = body.get("offset", 0) or 0
        key_type = grouped.schema["key"].dataType
        full = b.filter(F.col("mn").isNotNull()).select(
            F.explode(F.sequence(
                ((F.col("mn") - F.lit(noff)) / iv).cast("long"),
                ((F.col("mx") - F.lit(noff)) / iv).cast("long"),
            )).alias("__i")
        ).select((F.col("__i") * iv + F.lit(noff)).cast(key_type)
                 .alias("key"))
    return (
        full.join(grouped, "key", "left")
        .withColumn("doc_count",
                    F.coalesce(F.col("doc_count"), F.lit(0)))
    )


def multi_terms_frame(
    df: DataFrame, body: dict, sub_aggs: dict | None = None
) -> DataFrame:
    """Flat bucket rows for a ``multi_terms`` agg (Kibana Lens's
    "top values of multiple fields"): one groupBy on the key tuple —
    the exact shape of a single-field terms agg, same one shuffle +
    TakeOrdered(size). Key columns come back as ``k0..kn``; docs
    missing ANY key field are excluded unless that term spec carries
    ``missing`` (ES's contract)."""
    specs = body.get("terms")
    if not isinstance(specs, list) or len(specs) < 2:
        raise DslError(
            "multi_terms requires a `terms` list of two or more "
            "{field} entries"
        )
    keys: list[Column] = []
    for i, s in enumerate(specs):
        if not isinstance(s, dict) or not s.get("field"):
            raise DslError("each multi_terms term needs a field")
        unknown = sorted(set(s) - {"field", "missing"})
        if unknown:
            raise DslError(
                f"unsupported multi_terms term options: {unknown}")
        c = F.col(s["field"])
        if s.get("missing") is not None:
            c = F.coalesce(c, F.lit(s["missing"]))
        keys.append(c.alias(f"k{i}"))
    size = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 1))
    pred = F.lit(True)
    for k in keys:
        pred = pred & k.isNotNull()
    src = df.filter(pred)
    out = src.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub_aggs))
    if min_dc > 1:
        out = out.filter(F.col("doc_count") >= min_dc)
    # order: count-desc with the key tuple as tie-break (ES's default;
    # _key order sorts the tuple lexicographically)
    order = body.get("order")
    knames = [f"k{i}" for i in range(len(keys))]
    if order is None:
        cols = [F.col("doc_count").desc(), *[F.col(k).asc()
                                             for k in knames]]
    else:
        if not (isinstance(order, dict) and len(order) == 1):
            raise DslError("multi_terms order must be a single-entry "
                           "object")
        tgt, direction = next(iter(order.items()))
        if direction not in ("asc", "desc"):
            raise DslError(f"unknown order direction {direction!r}")
        if tgt == "_count":
            lead = F.col("doc_count")
        elif tgt == "_key":
            lead = None
        else:
            raise DslError(
                "multi_terms order supports _count/_key (metric "
                "ordering is a terms-agg feature here)"
            )
        keydir = [(F.col(k).desc() if (lead is None
                                       and direction == "desc")
                   else F.col(k).asc()) for k in knames]
        cols = keydir if lead is None else [
            lead.desc() if direction == "desc" else lead.asc(),
            *keydir]
    return out.orderBy(*cols).limit(size)


#: the rare_terms bucket-count driver bound: exact long-tail queries
#: can legitimately return many buckets; past this the request must
#: narrow (named error, never a silent truncation or a driver OOM)
_RARE_TERMS_BUDGET = 100_000

#: sampler/diversified_sampler shard_size bound: the sample is
#: materialized driver-side (one collect), which is the agg's whole
#: point — a sample past this must narrow (named error)
_SAMPLER_BUDGET = 100_000


def rare_terms_frame(df: DataFrame, body: dict) -> DataFrame:
    """Flat bucket rows for ``rare_terms`` (the long-tail panel):
    terms whose doc_count <= ``max_doc_count``, count-ascending.
    One groupBy; the HAVING-style filter prunes before the sort.
    EXACT where ES approximates with a CuckooFilter (documented
    divergence — strictly more accurate; ``precision`` is
    accepted-and-ignored). Deterministic key tie-break (ES leaves
    ties unspecified)."""
    if not body.get("field"):
        raise DslError("rare_terms requires a field")
    mdc = int(body.get("max_doc_count", 1))
    if mdc < 1:
        raise DslError("rare_terms max_doc_count must be >= 1")
    key = bucket_key("terms", body)  # honors `missing`
    src = df.filter(key.isNotNull())
    ie = _include_exclude_pred(key, body)
    if ie is not None:
        src = src.filter(ie)
    return (
        src.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .filter(F.col("doc_count") <= mdc)
        .orderBy(F.col("doc_count").asc(), F.col("key").asc())
    )


def string_stats_frame(df: DataFrame, body) -> DataFrame:
    """Flat rows for ``string_stats`` (r9): one row per distinct
    character — ``ch, n, prob`` — with the length statistics
    (``cnt, min_length, max_length, avg_length``) broadcast onto every
    row (the hits_envelope totals pattern). The entropy ES serves is
    derived from exactly these probabilities driver-side
    (:func:`_string_stats_envelope`) — the oracle pins the
    distribution, keeping libm's log out of the exact-match gate.

    Plan: the length stats are a 1-row aggregate; the character
    distribution explodes string OFFSETS and substrs per row (the
    char_trigram_profile idiom — stays in whole-stage codegen, unlike
    a transform() lambda) into one groupBy bounded by the alphabet.
    Top-level only: under a bucket agg the per-bucket explode would
    hide a corpus-sized shuffle, so that is a named 400, not a slow
    path."""
    check_agg_keys("string_stats", body)
    if not isinstance(body, dict) or not body.get("field"):
        raise DslError("string_stats requires a field")
    c = F.col(body["field"]).cast("string")
    if body.get("missing") is not None:
        c = F.coalesce(c, F.lit(str(body["missing"])))
    s = df.select(c.alias("__s")).filter(F.col("__s").isNotNull())
    lens = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.min(F.length("__s")).cast("bigint").alias("min_length"),
        F.max(F.length("__s")).cast("bigint").alias("max_length"),
        F.sum(F.length("__s")).cast("bigint").alias("__sum_len"),
    )
    chars = (
        s.filter(F.length("__s") > 0)
        .select(
            F.col("__s"),
            F.explode(
                F.sequence(F.lit(1), F.length("__s"))).alias("__i"),
        )
        .select(F.col("__s").substr(F.col("__i"), F.lit(1)).alias("ch"))
        .groupBy("ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        chars.crossJoin(F.broadcast(lens))
        .select(
            "ch", "n",
            (F.col("n").cast("double")
             / F.col("__sum_len").cast("double")).alias("prob"),
            "cnt", "min_length", "max_length",
            (F.col("__sum_len").cast("double")
             / F.col("cnt").cast("double")).alias("avg_length"),
        )
    )


def boxplot_frame(df: DataFrame, body) -> DataFrame:
    """One-row frame for ``boxplot`` (r9): ``min, max, q1, q2, q3``
    (exact interpolated quantiles — ES approximates with TDigest, the
    same exactness divergence as percentiles) plus the Tukey whiskers
    ``lower``/``upper`` — the nearest values inside
    ``[q1 − 1.5·IQR, q3 + 1.5·IQR]``, exactly as ES defines them.

    Whiskers compare every value against the quantiles, so the plan is
    one aggregate broadcast back over a second scan (crossJoin with
    the 1-row stats frame) — two scans, zero driver round-trips, no
    collect; at scale both scans prune to the single metric column."""
    check_agg_keys("boxplot", body)
    src = _metric_source(body)
    s = df.select(src.cast("double").alias("__v")) \
        .filter(F.col("__v").isNotNull())
    q = s.agg(
        F.min("__v").alias("min"), F.max("__v").alias("max"),
        F.percentile(F.col("__v"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("__v"), F.lit(0.5)).alias("q2"),
        F.percentile(F.col("__v"), F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo_fence = F.col("q1") - iqr * F.lit(1.5)
    hi_fence = F.col("q3") + iqr * F.lit(1.5)
    return s.crossJoin(F.broadcast(q)).agg(
        F.first("min").alias("min"), F.first("max").alias("max"),
        F.first("q1").alias("q1"), F.first("q2").alias("q2"),
        F.first("q3").alias("q3"),
        F.min(F.when(F.col("__v") >= lo_fence, F.col("__v")))
        .alias("lower"),
        F.max(F.when(F.col("__v") <= hi_fence, F.col("__v")))
        .alias("upper"),
    )


def t_test_frame(df: DataFrame, body) -> DataFrame:
    """One-row frame for ``t_test`` (r9): group moments and the
    t-statistic, all Spark column algebra in ONE conditional-aggregate
    pass (no per-group scans — ES evaluates both filters per shard the
    same way).

    Unpaired (``heteroscedastic`` Welch — ES's default — or
    ``homoscedastic`` pooled): each group is a ``filter``-scoped view
    of its ``field``; moments accumulate behind ``when(pred, x)``.
    ``paired``: both fields on the same row, differences where both
    are present; ES rejects filters there and so does this.

    The frame pins ``n / mean / var`` per group plus ``t_stat`` and
    ``df_deg`` in FIXED operation order (the extended_stats
    convention); the served p-value derives from (t, df) driver-side
    through the regularized incomplete beta (:func:`_t_test_envelope`)
    — a pure function of oracled inputs, like string_stats' entropy."""
    check_agg_keys("t_test", body)
    ttype = body.get("type", "heteroscedastic")
    if ttype not in ("paired", "homoscedastic", "heteroscedastic"):
        raise DslError(f"unknown t_test type {ttype!r}")
    a, b = body.get("a"), body.get("b")
    if not (isinstance(a, dict) and isinstance(b, dict)
            and a.get("field") and b.get("field")):
        raise DslError("t_test requires a.field and b.field")

    if ttype == "paired":
        if a.get("filter") or b.get("filter"):
            raise DslError(
                "paired t_test cannot take per-group filters (ES "
                "pairs values by document)")
        xa = F.col(a["field"]).cast("double")
        xb = F.col(b["field"]).cast("double")
        d = F.when(xa.isNotNull() & xb.isNotNull(), xa - xb)
        n = F.count(d).cast("bigint")
        s = F.sum(d)
        sq = F.sum(d * d)
        agg = df.agg(n.alias("n"), s.alias("s"), sq.alias("sq"))
        nn = F.col("n").cast("double")
        mean = F.col("s") / nn
        var = (F.col("sq") - F.col("s") * F.col("s") / nn) \
            / (nn - F.lit(1.0))
        t = mean / F.sqrt(var / nn)
        return agg.select(
            F.col("n"),
            F.when(F.col("n") >= 1, mean).alias("mean_diff"),
            F.when(F.col("n") >= 2, var).alias("var_diff"),
            F.when((F.col("n") >= 2) & (var > 0), t).alias("t_stat"),
            F.when(F.col("n") >= 2, nn - F.lit(1.0)).alias("df_deg"),
        )

    def group(spec, tag):
        x = F.col(spec["field"]).cast("double")
        flt = spec.get("filter")
        if flt is not None:
            pred = compile_dsl(flt, schema_fields=list(df.columns))
            x = F.when(pred, x)
        return [
            F.count(x).cast("bigint").alias(f"n{tag}"),
            F.sum(x).alias(f"s{tag}"),
            F.sum(x * x).alias(f"sq{tag}"),
        ]

    agg = df.agg(*group(a, "a"), *group(b, "b"))
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("sa") / na
    mb = F.col("sb") / nb
    va = (F.col("sqa") - F.col("sa") * F.col("sa") / na) \
        / (na - F.lit(1.0))
    vb = (F.col("sqb") - F.col("sb") * F.col("sb") / nb) \
        / (nb - F.lit(1.0))
    if ttype == "homoscedastic":
        dfree = na + nb - F.lit(2.0)
        sp2 = ((na - F.lit(1.0)) * va + (nb - F.lit(1.0)) * vb) / dfree
        t = (ma - mb) / F.sqrt(sp2 * (F.lit(1.0) / na
                                      + F.lit(1.0) / nb))
    else:  # heteroscedastic: Welch, with Welch-Satterthwaite df
        se2 = va / na + vb / nb
        t = (ma - mb) / F.sqrt(se2)
        dfree = (se2 * se2) / (
            (va / na) * (va / na) / (na - F.lit(1.0))
            + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))
        )
    ok = (F.col("na") >= 2) & (F.col("nb") >= 2)
    return agg.select(
        F.col("na"), F.col("nb"),
        F.when(F.col("na") >= 1, ma).alias("mean_a"),
        F.when(F.col("nb") >= 1, mb).alias("mean_b"),
        F.when(F.col("na") >= 2, va).alias("var_a"),
        F.when(F.col("nb") >= 2, vb).alias("var_b"),
        F.when(ok, t).alias("t_stat"),
        F.when(ok, dfree).alias("df_deg"),
    )


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta
    (modified Lentz iteration — the standard public algorithm)."""
    eps, fpmin = 3e-16, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < fpmin:
        d = fpmin
    d = 1.0 / d
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        de = d * c
        h *= de
        if abs(de - 1.0) < eps:
            break
    return h


def _reg_inc_beta(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                + a * math.log(x) + b * math.log(1.0 - x))
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _t_test_envelope(df: DataFrame, body) -> dict:
    """The ES ``t_test`` response: ``{"value": p}`` — the two-sided
    p-value, p = I_{df/(df+t²)}(df/2, ½), derived driver-side from
    the oracled (t, df) pair."""
    r = t_test_frame(df, body).collect()[0]
    t, dfree = r["t_stat"], r["df_deg"]
    if t is None or dfree is None or dfree <= 0:
        return {"value": None}
    x = dfree / (dfree + t * t)
    return {"value": _reg_inc_beta(dfree / 2.0, 0.5, x)}


def _matrix_fields(body) -> list[str]:
    fields = body.get("fields")
    if not isinstance(fields, list) or len(fields) < 2:
        raise DslError("matrix_stats requires a fields list (>= 2)")
    if len(set(fields)) != len(fields):
        raise DslError("matrix_stats fields must be distinct")
    return [str(f) for f in fields]


def _matrix_source(df: DataFrame, body) -> tuple[DataFrame, list[str]]:
    """Listwise-complete projection: per-field ``missing``
    substitution, then drop rows lacking any field — ES's document
    inclusion rule for matrix_stats."""
    fields = _matrix_fields(body)
    missing = body.get("missing") or {}
    cols = []
    for f in fields:
        c = F.col(f).cast("double")
        if f in missing:
            c = F.coalesce(c, F.lit(float(missing[f])))
        cols.append(c.alias(f))
    s = df.select(*cols)
    pred = None
    for f in fields:
        nn = F.col(f).isNotNull()
        pred = nn if pred is None else (pred & nn)
    return s.filter(pred), fields


def matrix_stats_frame(df: DataFrame, body) -> DataFrame:
    """One-row frame for ``matrix_stats`` (r9): doc_count, per-field
    mean/variance and the upper-triangle covariance + correlation
    matrix, derived from raw moment sums (n, Σx, Σx², Σxy) in FIXED
    operation order — ONE conditional-aggregate pass over the listwise-
    complete rows, K·(K+3)/2 accumulators, no extra scan per pair.

    Sample (n−1) covariance/variance like ES; correlation cancels the
    factor: (Σxy − ΣxΣy/n) / √((Σx²−(Σx)²/n)(Σy²−(Σy)²/n)). Skewness
    and kurtosis are served by the envelope only
    (:func:`_matrix_stats_envelope`) — the higher-power sums fall out
    of double-exactness for wide-magnitude fields, the same argument
    that keeps softmax out of normalize's oracle."""
    check_agg_keys("matrix_stats", body)
    s, fields = _matrix_source(df, body)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("doc_count")]
    for f in fields:
        aggs.append(F.sum(F.col(f)).alias(f"__s_{f}"))
        aggs.append(F.sum(F.col(f) * F.col(f)).alias(f"__sq_{f}"))
    for i, f in enumerate(fields):
        for g in fields[i + 1:]:
            aggs.append(
                F.sum(F.col(f) * F.col(g)).alias(f"__sp_{f}_{g}"))
    agg = s.agg(*aggs)
    n = F.col("doc_count").cast("double")
    out = [F.col("doc_count")]
    css = {}
    for f in fields:
        sx, sqx = F.col(f"__s_{f}"), F.col(f"__sq_{f}")
        css[f] = sqx - sx * sx / n  # centered sum of squares
        out.append((sx / n).alias(f"mean_{f}"))
        out.append((css[f] / (n - F.lit(1.0))).alias(f"var_{f}"))
    for i, f in enumerate(fields):
        for g in fields[i + 1:]:
            sxy = F.col(f"__sp_{f}_{g}")
            cross = sxy - F.col(f"__s_{f}") * F.col(f"__s_{g}") / n
            out.append(
                (cross / (n - F.lit(1.0))).alias(f"cov_{f}_{g}"))
            out.append(
                (cross / F.sqrt(css[f] * css[g]))
                .alias(f"corr_{f}_{g}"))
    return agg.select(*out)


def _geo_line_envelope(df: DataFrame, body,
                       schema_fields=None) -> dict:
    """The ES ``geo_line`` response: a GeoJSON Feature whose
    LineString connects each doc's point in ``sort``-field order —
    the vessel-track / GPS-trail aggregation. The transfer is bounded
    IN-PLAN (r14, ADVICE): ``orderBy(sort).limit(size + 1)`` compiles
    to TakeOrderedAndProject — per-partition top-k then a driver merge
    of ≤ size+1 rows per partition — so a large corpus never
    concentrates every point into one aggregation row. Docs missing
    the point or the sort value are excluded (ES requires both);
    ``size`` (ES cap 10000) keeps the first points in sort order, the
    size+1 sentinel row sets ``properties.complete`` false, like ES."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _geo_field_cols,
    )

    point = body.get("point")
    sort = body.get("sort")
    if not (isinstance(point, dict) and point.get("field")):
        raise DslError("geo_line requires point.field")
    if not (isinstance(sort, dict) and sort.get("field")):
        raise DslError("geo_line requires sort.field")
    order = str(body.get("sort_order", "asc")).lower()
    if order not in ("asc", "desc"):
        raise DslError(f"unknown geo_line sort_order {order!r}")
    size = body.get("size", 10000)
    if isinstance(size, bool) or not isinstance(size, int) \
            or not 1 <= size <= 10000:
        raise DslError(
            "geo_line size must be an integer in [1, 10000] (the ES "
            "cap — it bounds the driver transfer here too)")
    include_sort = body.get("include_sort", False)
    if not isinstance(include_sort, bool):
        raise DslError("geo_line include_sort must be a boolean")
    lat_c, lon_c = _geo_field_cols(
        point["field"], F.col, schema_fields or df.columns,
        schema=df.schema)
    sort_c = F.col(str(sort["field"]))
    ok = lat_c.isNotNull() & lon_c.isNotNull() & sort_c.isNotNull()
    pts = (
        df.filter(ok)
        .select(sort_c.alias("s"),
                lon_c.cast("double").alias("lon"),
                lat_c.cast("double").alias("lat"))
        .orderBy(F.col("s").asc() if order == "asc"
                 else F.col("s").desc())
        .limit(size + 1)
        .collect()
    )
    complete = len(pts) <= size
    pts = pts[:size]
    out: dict[str, Any] = {
        "type": "Feature",
        "geometry": {
            "type": "LineString",
            "coordinates": [[p["lon"], p["lat"]] for p in pts],
        },
        "properties": {"complete": complete},
    }
    if include_sort:
        sv = [p["s"] for p in pts]
        out["properties"]["sort_values"] = [
            _key_envelope(v) for v in sv]
    return out


def _geo_bounds_envelope(df: DataFrame, body,
                         schema_fields=None) -> dict:
    """The ES ``geo_bounds`` response: the smallest lat/lon envelope
    holding every point. ES's GeoBoundsAggregator tracks SIX running
    extremes (top, bottom, and the positive/negative longitude
    edges) so the dateline-crossing box is a closed-form CHOICE at
    result time — restated here as six conditional aggregates in one
    ``df.agg`` job, the wrap decision on the driver. With
    ``wrap_longitude: false`` (or no pos/neg split) it degrades to
    plain min/max, matching ES."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _geo_field_cols,
    )

    field = body.get("field")
    if not field:
        raise DslError("geo_bounds requires a field")
    wrap = body.get("wrap_longitude", True)
    if not isinstance(wrap, bool):
        raise DslError("geo_bounds wrap_longitude must be a boolean")
    lat_c, lon_c = _geo_field_cols(
        field, F.col, schema_fields or df.columns, schema=df.schema)
    ok = lat_c.isNotNull() & lon_c.isNotNull()
    pos = ok & (lon_c >= 0)
    neg = ok & (lon_c < 0)
    r = df.agg(
        F.max(F.when(ok, lat_c)).alias("top"),
        F.min(F.when(ok, lat_c)).alias("bottom"),
        F.min(F.when(pos, lon_c)).alias("pos_left"),
        F.max(F.when(pos, lon_c)).alias("pos_right"),
        F.min(F.when(neg, lon_c)).alias("neg_left"),
        F.max(F.when(neg, lon_c)).alias("neg_right"),
    ).collect()[0]
    if r["top"] is None:
        return {}  # ES omits bounds when no docs carry the field
    if r["pos_left"] is None:
        left, right = r["neg_left"], r["neg_right"]
    elif r["neg_left"] is None:
        left, right = r["pos_left"], r["pos_right"]
    else:
        unwrapped = r["pos_right"] - r["neg_left"]
        wrapped = 360.0 - (r["pos_left"] - r["neg_right"])
        if wrap and wrapped < unwrapped:
            left, right = r["pos_left"], r["neg_right"]
        else:
            left, right = r["neg_left"], r["pos_right"]
    return {"bounds": {
        "top_left": {"lat": float(r["top"]), "lon": float(left)},
        "bottom_right": {"lat": float(r["bottom"]),
                         "lon": float(right)},
    }}


def _geo_centroid_envelope(df: DataFrame, body,
                           schema_fields=None) -> dict:
    """The ES ``geo_centroid`` response: arithmetic mean of lat/lon
    over docs carrying the field, plus the contributing count — one
    ``df.agg`` job. (ES averages the raw coordinates too; its only
    twist is encoding loss through the spatial index, a documented
    divergence we don't replicate.)"""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _geo_field_cols,
    )

    field = body.get("field")
    if not field:
        raise DslError("geo_centroid requires a field")
    lat_c, lon_c = _geo_field_cols(
        field, F.col, schema_fields or df.columns, schema=df.schema)
    ok = lat_c.isNotNull() & lon_c.isNotNull()
    r = df.agg(
        F.avg(F.when(ok, lat_c)).alias("lat"),
        F.avg(F.when(ok, lon_c)).alias("lon"),
        F.count(F.when(ok, F.lit(1))).alias("n"),
    ).collect()[0]
    if not r["n"]:
        return {"count": 0}  # ES omits location on an empty scope
    return {"location": {"lat": float(r["lat"]),
                         "lon": float(r["lon"])},
            "count": int(r["n"])}


def _matrix_stats_envelope(df: DataFrame, body) -> dict:
    """The ES ``matrix_stats`` response object: per-field count/mean/
    variance/skewness/kurtosis plus full (symmetric) covariance and
    correlation maps. One extra aggregate pass adds the Σx³/Σx⁴ sums
    the central moments need; skewness = m₃/m₂^1.5 and kurtosis =
    m₄/m₂² (plain, normal = 3) derive driver-side."""
    row = matrix_stats_frame(df, body).collect()[0]
    s, fields = _matrix_source(df, body)
    n = int(row["doc_count"])
    if n == 0:
        return {"doc_count": 0, "fields": []}
    hi = s.agg(*(
        [F.sum(F.col(f)).alias(f"s_{f}") for f in fields]
        + [F.sum(F.col(f) * F.col(f)).alias(f"sq_{f}")
           for f in fields]
        + [F.sum(F.col(f) * F.col(f) * F.col(f)).alias(f"c3_{f}")
           for f in fields]
        + [F.sum(F.col(f) * F.col(f) * F.col(f) * F.col(f))
           .alias(f"c4_{f}") for f in fields]
    )).collect()[0]
    out_fields = []
    for f in fields:
        mu = hi[f"s_{f}"] / n
        m2 = hi[f"sq_{f}"] / n - mu * mu
        m3 = (hi[f"c3_{f}"] - 3.0 * mu * hi[f"sq_{f}"]
              + 2.0 * n * mu ** 3) / n
        m4 = (hi[f"c4_{f}"] - 4.0 * mu * hi[f"c3_{f}"]
              + 6.0 * mu * mu * hi[f"sq_{f}"] - 3.0 * n * mu ** 4) / n
        cov = {}
        corr = {}
        for g in fields:
            if g == f:
                cov[g] = row[f"var_{f}"]
                corr[g] = 1.0
            else:
                a, b = (f, g) if fields.index(f) < fields.index(g) \
                    else (g, f)
                cov[g] = row[f"cov_{a}_{b}"]
                corr[g] = row[f"corr_{a}_{b}"]
        out_fields.append({
            "name": f, "count": n, "mean": mu,
            "variance": row[f"var_{f}"],
            "skewness": (m3 / m2 ** 1.5) if m2 > 0 else 0.0,
            "kurtosis": (m4 / (m2 * m2)) if m2 > 0 else 0.0,
            "covariance": cov, "correlation": corr,
        })
    return {"doc_count": n, "fields": out_fields}


def _string_stats_envelope(df: DataFrame, body) -> dict:
    """The ES ``string_stats`` response object. Entropy is Shannon
    entropy over the character distribution (log base 2), computed
    driver-side from the bounded frame — deterministic, and the
    distribution it derives from is what the differential oracle
    pins."""
    import math

    rows = string_stats_frame(df, body).collect()
    if not rows:
        # zero characters: either no non-null values at all, or every
        # value is '' — the length stats still apply in the second
        # case (ES reports count with zero lengths)
        c = F.col(body["field"]).cast("string")
        if body.get("missing") is not None:
            c = F.coalesce(c, F.lit(str(body["missing"])))
        r = (df.select(c.alias("__s"))
             .filter(F.col("__s").isNotNull())
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.min(F.length("__s")).alias("mn"),
                  F.max(F.length("__s")).alias("mx"))
             .collect()[0])
        env0: dict[str, Any] = {
            "count": r["cnt"], "min_length": r["mn"],
            "max_length": r["mx"],
            "avg_length": 0.0 if r["cnt"] else None,
            "entropy": 0.0,
        }
        if body.get("show_distribution"):
            env0["distribution"] = {}
        return env0
    entropy = -sum(r["prob"] * math.log2(r["prob"]) for r in rows
                   if r["prob"] > 0)
    env: dict[str, Any] = {
        "count": rows[0]["cnt"],
        "min_length": rows[0]["min_length"],
        "max_length": rows[0]["max_length"],
        "avg_length": rows[0]["avg_length"],
        "entropy": entropy,
    }
    if body.get("show_distribution"):
        env["distribution"] = {
            r["ch"]: r["prob"]
            for r in sorted(rows, key=lambda r: (-r["prob"], r["ch"]))
        }
    return env


#: the auto_date_histogram interval ladder: ES's seconds→hours→days
#: rungs verbatim; rungs above 7d are FIXED day multiples (30d ≈
#: month, 90d ≈ quarter, 365d ≈ year, …) where ES switches to
#: calendar units — fixed epoch-floor rounding is exactly
#: reproducible cross-engine, ES's calendar estimate is not
#: (documented divergence)
_AUTO_LADDER: list[tuple[str, int]] = [
    ("1s", 1), ("5s", 5), ("10s", 10), ("30s", 30),
    ("1m", 60), ("5m", 300), ("10m", 600), ("30m", 1800),
    ("1h", 3600), ("3h", 10800), ("12h", 43200),
    ("1d", 86400), ("7d", 604800),
    ("30d", 30 * 86400), ("90d", 90 * 86400),
    ("365d", 365 * 86400), ("1825d", 1825 * 86400),
    ("3650d", 3650 * 86400), ("7300d", 7300 * 86400),
    ("18250d", 18250 * 86400), ("36500d", 36500 * 86400),
]

_MINIMUM_INTERVAL_START = {"second": "1s", "minute": "1m",
                           "hour": "1h", "day": "1d",
                           "month": "30d", "year": "365d"}


def auto_date_histogram_plan(
    df: DataFrame, body: dict, sub_aggs: dict | None = None
) -> tuple[DataFrame | None, str]:
    """``auto_date_histogram``: pick the smallest ladder interval whose
    bucket count over the observed span fits the ``buckets`` target
    (ES default 10), then run the ordinary gap-filled date_histogram.
    Two jobs by construction — a min/max scan (cheap: min/max of one
    column) and the groupBy; ES pays the same two-phase cost via
    shard-level rounding negotiation. Returns (frame, interval_label);
    frame None when the column has no rows."""
    field = body.get("field")
    if not field:
        raise DslError("auto_date_histogram requires a field")
    target = int(body.get("buckets", 10))
    if target < 1:
        raise DslError("auto_date_histogram buckets must be >= 1")
    ladder = _AUTO_LADDER
    min_iv = body.get("minimum_interval")
    if min_iv is not None:
        start = _MINIMUM_INTERVAL_START.get(str(min_iv))
        if start is None:
            raise DslError(
                f"unknown minimum_interval {min_iv!r} (one of "
                f"{sorted(_MINIMUM_INTERVAL_START)})"
            )
        ladder = ladder[[lbl for lbl, _ in ladder].index(start):]
    row = df.agg(F.min(field).alias("mn"),
                 F.max(field).alias("mx")).collect()[0]
    if row["mn"] is None:
        return None, ladder[0][0]
    mn, mx = row["mn"], row["mx"]
    if isinstance(mn, _dt.date) and not isinstance(mn, _dt.datetime):
        # DATE-typed field: midnight-anchor the bounds so the epoch
        # grid math below works (date.replace rejects tzinfo)
        mn = _dt.datetime.combine(mn, _dt.time.min)
        mx = _dt.datetime.combine(mx, _dt.time.min)
    if not isinstance(mn, _dt.datetime):
        raise DslError(
            f"auto_date_histogram field {field!r} is not a date/"
            "timestamp column"
        )
    mn_e = int(mn.replace(tzinfo=_dt.timezone.utc).timestamp())
    mx_e = int(mx.replace(tzinfo=_dt.timezone.utc).timestamp())
    label = ladder[-1][0]
    for lbl, secs in ladder:
        # EXACT bucket count on the epoch-floored grid (a span-based
        # estimate can undercount by one when min/max straddle a
        # boundary)
        if (mx_e // secs) - (mn_e // secs) + 1 <= target:
            label = lbl
            break
    hist_body = {"field": field, "fixed_interval": label,
                 "min_doc_count": 0}
    if body.get("format") is not None:
        hist_body["format"] = body["format"]
    return histogram_frame(df, "date_histogram", hist_body,
                           sub_aggs), label


#: distinct-value budget for variable_width_histogram's global-sort
#: windows (the rare_terms posture: a named 400, never a silent cap)
_VWH_BUDGET = 1_000_000


def variable_width_histogram_frame(df: DataFrame, body: dict) -> DataFrame:
    """ES ``variable_width_histogram`` (7.9+): at most N dynamically
    sized buckets over a numeric field.

    DOCUMENTED DIVERGENCE: ES streams values into clusters with a
    buffered nearest-centroid merge — the ES docs themselves flag the
    result as order-dependent ("bucket bounds are approximate"). This
    engine partitions the SORTED DISTINCT values at the N−1 largest
    adjacent gaps (ties: the leftmost gap wins) — the exact 1-D
    clustering that maximizes inter-bucket separation, deterministic
    across engines, runs, and repartitioning (the same exactness
    posture as rare_terms vs ES's CuckooFilter).
    ``initial_buffer``/``shard_size`` only tune ES's approximation and
    are accepted-and-ignored.

    Plan: one groupBy collapses docs to (value, doc_count) pairs, so
    the two windows that follow (adjacent gap via lag, then the
    boundary-rank / running-bucket-id pass) run over DISTINCT values
    only — never over docs. Unpartitioned windows mean a single-task
    sort, so the distinct count is hard-bounded (named 400 past the
    budget); a numeric column needing variable-width buckets past 1M
    distinct points wants a plain histogram instead. Values compare as
    doubles in BOTH engines (decimal-exact gaps on one side and binary
    doubles on the other could rank ties differently). Per bucket:
    min / max / doc_count and the doc-weighted mean as ``key`` (ES's
    centroid)."""
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    check_agg_keys("variable_width_histogram", body)
    field = body.get("field")
    if field is None:
        raise DslError("variable_width_histogram requires a field")
    n = body.get("buckets", 10)
    if not isinstance(n, int) or isinstance(n, bool) or n < 1:
        raise DslError(
            "variable_width_histogram buckets must be a positive integer")
    try:
        dt = df.schema[str(field)].dataType
    except KeyError:
        raise DslError(
            f"variable_width_histogram: unknown field {field!r}") from None
    if not isinstance(dt, NumericType):
        raise DslError(
            f"variable_width_histogram field {field!r} is not numeric")
    vals = (
        df.select(F.col(field).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    if vals.limit(_VWH_BUDGET + 1).count() > _VWH_BUDGET:
        raise DslError(
            f"variable_width_histogram over more than {_VWH_BUDGET} "
            "distinct values — gap ranking needs a global sort; use a "
            "fixed-interval histogram at that cardinality")
    w_v = Window.orderBy("v")
    gapped = vals.withColumn("gap", F.col("v") - F.lag("v").over(w_v))
    # rank gaps largest-first, leftmost value breaking ties; the first
    # value's null gap sorts as -1 (gaps between distinct sorted
    # values are always > 0) so it can never become a boundary even
    # when there are fewer distinct values than buckets
    rnk = F.row_number().over(
        Window.orderBy(F.coalesce(F.col("gap"), F.lit(-1.0)).desc(),
                       F.col("v").asc()))
    boundary = F.col("gap").isNotNull() & (rnk <= F.lit(n - 1))
    bucketed = gapped.withColumn(
        "bucket",
        F.sum(F.when(boundary, 1).otherwise(0)).over(
            w_v.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.min("v").alias("min"),
            F.max("v").alias("max"),
            (F.sum(F.col("v") * F.col("cnt")) / F.sum("cnt")).alias("key"),
            F.sum("cnt").cast("bigint").alias("doc_count"),
        )
        .orderBy("min")
        .select("key", "min", "max", "doc_count")
    )


def range_frame(
    df: DataFrame, body: dict, sub_aggs: dict | None = None,
    is_date: bool = False,
) -> DataFrame:
    """All ``range`` bands in ONE aggregation job. ES allows bands to
    overlap, so each is an independent conditional aggregate, not a
    partition of the rows; the output is one row per band in request
    order (``band_index`` preserves it). ``is_date`` (the
    ``date_range`` agg, r7) compares against parsed timestamp bounds;
    date-math bounds (``now-1M``) are a named 400 — the engine has no
    "now" (a deterministic lake query must not depend on wall clock)."""
    field = body.get("field")
    ranges = body.get("ranges")
    if field is None or not ranges:
        raise DslError("range aggregation requires field and ranges")
    if sub_aggs:
        raise DslError(
            "metric sub-aggregations under a range agg are not supported "
            "(a range band maps to a filter agg with a range query — use "
            "that form for per-band metrics)"
        )

    def lit(v):
        if not is_date:
            return F.lit(v)
        if isinstance(v, str) and "now" in v.lower():
            raise DslError(
                f"date-math range bound {v!r} is not supported (the "
                "engine evaluates deterministically — send an absolute "
                "timestamp)"
            )
        if isinstance(v, (int, float)):
            return F.timestamp_millis(F.lit(int(v)))
        return F.to_timestamp(F.lit(v))

    c = F.col(field)
    per_band: list[Column] = []
    for i, r in enumerate(ranges):
        cond = c.isNotNull()
        if "from" in r and r["from"] is not None:
            cond = cond & (c >= lit(r["from"]))
        if "to" in r and r["to"] is not None:
            cond = cond & (c < lit(r["to"]))
        per_band.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
            .alias(f"band{i}.doc_count")
        )
    return df.agg(*per_band)


def top_hits_frame(
    df: DataFrame, key_col: Column, keys: list, body: dict
) -> DataFrame:
    """Per-bucket top documents for a ``top_hits`` sub-agg: the window
    top-k pattern (row_number over partitionBy(bucket) — Spark pushes
    the ``<= size`` filter into WindowGroupLimit, so each partition
    pre-truncates before the shuffle). Restricted to the RETURNED
    bucket keys via an ``isin`` pushdown, so the collected volume is
    bounded by ``len(keys) * size`` no matter the key domain.

    Ties beyond the requested sort break deterministically on every
    remaining column (ES leaves them shard-arbitrary — the same
    determinism divergence as terms ordering)."""
    from pyspark.sql import Window

    size = int(body.get("size", 3))
    order: list[Column] = []
    for s in body.get("sort") or []:
        if isinstance(s, str):
            field, direction = s, "asc"
        else:
            field, ospec = next(iter(s.items()))
            direction = (
                ospec.get("order", "asc") if isinstance(ospec, dict)
                else ospec
            )
        c = F.col(field)
        order.append(c.desc() if direction == "desc" else c.asc())
    order += [F.col(c).asc_nulls_first() for c in df.columns]
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.filter(key_col.isin(keys))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= size)
    )


def _after_lit(kind: str, value) -> Column:
    """A cursor value as a comparable literal for its source kind.

    ``after_key`` hands timestamps back as epoch MILLIS (the ES
    envelope shape) while the grouping column is a TIMESTAMP —
    comparing the raw integer would mis-coerce, so date_histogram
    cursors convert back (ISO strings accepted too)."""
    if kind == "date_histogram":
        if isinstance(value, (int, float)):
            return F.timestamp_millis(F.lit(int(value)))
        return F.to_timestamp(F.lit(value))
    return F.lit(value)


def composite_frame(
    df: DataFrame, body: dict, sub_aggs: dict | None = None
) -> DataFrame:
    """ES ``composite`` aggregation: deterministic key-ordered bucket
    PAGES with ``after``-key resumption — the one agg ES itself
    recommends for unbounded key domains, and the right shape at
    100 TB (every page is groupBy + TakeOrdered(size); the after-key
    predicate applies to the RAW columns, so rows before the cursor
    never enter the shuffle).

    ``sources`` may mix ``terms`` / ``histogram`` / ``date_histogram``
    keys. ES's default ``missing_bucket=false`` applies: rows with a
    null key column are excluded; ``missing_bucket: true`` (r7 —
    Kibana's paged group-by over sparse fields) keeps them as a null
    key that sorts FIRST (ES's default missing_order), including
    through the ``after`` cursor.
    """
    sources = body.get("sources")
    if not isinstance(sources, list) or not sources:
        raise DslError("composite requires a non-empty sources list")
    size = int(body.get("size", 10))
    names: list[str] = []
    keys: list[Column] = []
    kinds: list[str] = []
    keep_null: list[bool] = []
    descs: list[bool] = []
    for src in sources:
        if not isinstance(src, dict) or len(src) != 1:
            raise DslError("each composite source must be {name: {kind: …}}")
        name, spec = next(iter(src.items()))
        if not isinstance(spec, dict) or len(spec) != 1:
            raise DslError(f"composite source {name!r} must have one kind")
        kind, kbody = next(iter(spec.items()))
        # composite sources take the key expression's inputs plus
        # missing_bucket and per-source order (r7); anything else
        # would change results silently if ignored → 400
        allowed = {"field", "interval", "calendar_interval",
                   "fixed_interval", "time_zone", "offset",
                   "missing_bucket", "order"}
        unknown = sorted(set(kbody) - allowed) \
            if isinstance(kbody, dict) else []
        if unknown:
            raise DslError(
                f"unsupported composite source options: {unknown} "
                f"(supported: {sorted(allowed)})"
            )
        order = kbody.get("order", "asc") if isinstance(kbody, dict) \
            else "asc"
        if order not in ("asc", "desc"):
            raise DslError(
                f"unknown composite source order {order!r}")
        names.append(name)
        kinds.append(kind)
        descs.append(order == "desc")
        keep_null.append(bool(kbody.get("missing_bucket", False))
                         if isinstance(kbody, dict) else False)
        keys.append(bucket_key(kind, kbody))
    after = body.get("after")
    out = df
    for k, keep in zip(keys, keep_null):
        if not keep:
            out = out.filter(k.isNotNull())
    if after is not None:
        missing = [n for n in names if n not in after]
        if missing:
            raise DslError(f"after key missing sources: {missing}")
        # strict lexicographic "(k1..kn) after (a1..an)" in each
        # source's direction, built innermost-out on the raw columns:
        # pre-shuffle cursor pruning. ES's missing_order default: the
        # null bucket sorts FIRST ascending and LAST descending — the
        # per-direction null arms below encode exactly that.
        pred = F.lit(False)
        for k, n, kd, dsc in zip(reversed(keys), reversed(names),
                                 reversed(kinds), reversed(descs)):
            a = after[n]
            if a is None:
                if dsc:  # null sorts last: only deeper keys advance
                    pred = k.isNull() & pred
                else:
                    pred = k.isNotNull() | (k.isNull() & pred)
            elif dsc:
                lit = _after_lit(kd, a)
                pred = (k < lit) | k.isNull() | ((k == lit) & pred)
            else:
                lit = _after_lit(kd, a)
                pred = (k > lit) | ((k == lit) & pred)
        out = out.filter(pred)
    grouped = (
        out.groupBy(*[k.alias(n) for k, n in zip(keys, names)])
        .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub_aggs))
        .orderBy(*[
            F.col(n).desc_nulls_last() if dsc
            else F.col(n).asc_nulls_first()
            for n, dsc in zip(names, descs)
        ])
        .limit(size)
    )
    return grouped


#: bucket kinds that can form a nested level chain
_LEVEL_KINDS = ("terms", "histogram", "date_histogram")

#: hard cap on the flat composite-key rows a nested chain may collect
#: (the driver-memory bound the r6 advisory asked to enforce in-plan)
_NESTED_FLAT_BUDGET = 100_000


def _split_chains(
    name: str, kind: str, body: dict, sub: dict | None
) -> list[tuple[list[tuple[str, str, dict]], list[dict], dict]]:
    """Walk a nested bucket-agg TREE into root-to-leaf level chains.

    Returns one ``(levels, metrics_per_level, top_hits)`` triple per
    path: ``levels[i] = (agg_name, kind, body)`` top-down,
    ``metrics_per_level[i]`` the metric sub-aggs attaching to
    level-``i`` buckets, ``top_hits`` the ``top_hits`` specs at the
    chain's DEEPEST level (r7 — named errors above it).

    SIBLING bucket sub-aggs (r7 — previously a named error) branch the
    walk: each sibling becomes its own chain sharing the ancestor
    prefix, and every shared ancestor level carries the SAME metric
    dict in every chain — so each chain's driver-side assembly orders
    and truncates the shared levels identically, which is what lets
    :func:`run_aggs` graft the sibling subtrees onto one response tree
    by bucket key. Cost: one composite-key shuffle per leaf chain
    (ES's own cost model — every sibling is its own aggregation)."""
    if isinstance(body, dict) and body.get("keyed"):
        raise DslError(
            "keyed is not supported inside a nested bucket chain "
            "(the chain response is assembled as lists)"
        )
    chains: list = []

    def walk(levels: list, mets_prefix: list, sub: dict | None) -> None:
        sub = sub or {}
        buckets: dict = {}
        mets: dict = {}
        ths: dict = {}
        for n, s in sub.items():
            if not isinstance(s, dict):
                raise DslError(f"aggregation {n!r} must be an object")
            k = next((x for x in s if x not in ("aggs", "aggregations")),
                     None)
            if k in _LEVEL_KINDS:
                buckets[n] = s
            elif k == "top_hits":
                ths[n] = s["top_hits"]
            elif k in ("filter", "filters", "range", "date_range",
                       "composite"):
                raise DslError(
                    f"{k} is not supported inside a nested bucket chain"
                )
            else:
                mets[n] = s
        if ths and buckets:
            raise DslError(
                "top_hits inside a nested bucket chain is only "
                "supported at the DEEPEST level (hits attach to the "
                f"innermost buckets; got {sorted(ths)} next to deeper "
                f"bucket aggs {sorted(buckets)})"
            )
        if not buckets:
            chains.append((levels, mets_prefix + [mets], ths))
            return
        for n, s in buckets.items():
            k = next(x for x in s if x not in ("aggs", "aggregations"))
            check_agg_keys(k, s[k])
            if isinstance(s[k], dict) and s[k].get("keyed"):
                raise DslError(
                    "keyed is not supported inside a nested bucket "
                    "chain (the chain response is assembled as lists)"
                )
            walk(levels + [(n, k, s[k])], mets_prefix + [mets],
                 s.get("aggs") or s.get("aggregations"))

    walk([(name, kind, body)], [], sub)
    return chains


def _split_levels(
    name: str, kind: str, body: dict, sub: dict | None
) -> tuple[list[tuple[str, str, dict]], list[dict]]:
    """Single-chain form of :func:`_split_chains` (the shape the
    registry's flat-frame queries use): ``(levels,
    metrics_per_level)``, erroring on siblings and top_hits."""
    chains = _split_chains(name, kind, body, sub)
    if len(chains) > 1:
        raise DslError(
            "sibling bucket sub-aggregations need the full tree path "
            "(use run_aggs, which grafts per-sibling chains)"
        )
    levels, metrics, ths = chains[0]
    if ths:
        raise DslError(
            "top_hits inside a nested bucket chain needs the full "
            "tree path (use run_aggs)"
        )
    return levels, metrics


def _component_cols(
    levels: list, metrics: list[dict]
) -> list[Column]:
    """Mergeable metric COMPONENTS at the finest bucket granularity.

    Metrics above the deepest level must roll up driver-side from the
    flat frame, so each compiles to its sufficient statistics
    (count/sum/min/max/null-count) instead of its final value —
    ``avg`` at any level is then child-sums over child-counts.
    ``percentiles``/``cardinality`` have no mergeable components
    (exactly why ES itself approximates them) and are only accepted at
    the deepest level, where one flat row IS the bucket."""
    deepest = len(levels) - 1
    cols: list[Column] = []
    for li, mets in enumerate(metrics):
        for name, spec in mets.items():
            if not isinstance(spec, dict) or len(spec) != 1:
                raise DslError(
                    f"aggregation {name!r} must have exactly one type")
            kind, body = next(iter(spec.items()))
            field = body.get("field") if isinstance(body, dict) else None
            if field is None:
                raise DslError(
                    f"aggregation {name!r} ({kind}) requires a field")
            check_agg_keys(kind, body)
            p = f"{li}|{name}|"
            c = _metric_source(body)
            if kind == "avg":
                cols += [F.count(c).alias(p + "cnt"),
                         F.sum(c).alias(p + "sum")]
            elif kind == "sum":
                cols.append(F.sum(c).alias(p + "sum"))
            elif kind == "min":
                cols.append(F.min(c).alias(p + "min"))
            elif kind == "max":
                cols.append(F.max(c).alias(p + "max"))
            elif kind == "value_count":
                cols.append(F.count(c).alias(p + "cnt"))
            elif kind == "missing":
                cols.append(
                    F.sum(F.when(c.isNull(), 1).otherwise(0))
                    .cast("bigint").alias(p + "nulls"))
            elif kind == "stats":
                cols += [F.count(c).alias(p + "cnt"),
                         F.sum(c).alias(p + "sum"),
                         F.min(c).alias(p + "min"),
                         F.max(c).alias(p + "max")]
            elif kind == "percentiles":
                if li != deepest:
                    raise DslError(
                        "percentiles above the deepest level of a "
                        "nested bucket chain are not mergeable — move "
                        "the agg to the innermost bucket"
                    )
                for pp in body.get("percents", _DEFAULT_PERCENTS):
                    cols.append(
                        F.percentile(c, F.lit(float(pp) / 100.0))
                        .alias(f"{p}%{float(pp)}"))
            elif kind == "cardinality":
                if li != deepest:
                    raise DslError(
                        "cardinality above the deepest level of a "
                        "nested bucket chain is not mergeable — move "
                        "the agg to the innermost bucket"
                    )
                cols.append(F.count_distinct(c).alias(p + "card"))
            else:
                raise DslError(
                    f"unsupported sub-aggregation kind {kind!r} "
                    f"under {name!r}"
                )
    return cols


def nested_levels_frame(
    df: DataFrame, levels: list, metrics: list[dict]
) -> DataFrame:
    """The ONE-shuffle flat frame for a nested bucket chain: group on
    the composite key ``(level0 … levelN)`` with every metric's
    mergeable components riding the same job; the response tree is
    assembled driver-side (:func:`_assemble_levels`).

    Only the TOP level's null keys are filtered — a doc with a level-0
    key but a null deeper key still counts in its parent's
    ``doc_count`` (ES's behavior), carried here as a null-key flat row
    its parent sums and its level skips.

    Scale: collected volume is the product of returned bucket counts
    (terms levels truncate driver-side), the same bound ES's own
    response tree has; for unbounded key domains ``composite`` remains
    the paged path."""
    keys = [
        bucket_key(kind, body).alias(f"__k{li}")
        for li, (_, kind, body) in enumerate(levels)
    ]
    top_key = bucket_key(levels[0][1], levels[0][2])
    return (
        df.filter(top_key.isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("doc_count"),
             *_component_cols(levels, metrics))
    )


def _rollup_metrics(rows: list, mets: dict, li: int) -> dict:
    """Metric envelopes for one bucket from its flat rows' components."""
    out: dict[str, Any] = {}
    for name, spec in mets.items():
        kind, body = next(iter(spec.items()))
        p = f"{li}|{name}|"

        def vals(comp: str) -> list:
            return [r[p + comp] for r in rows if r[p + comp] is not None]

        if kind == "avg":
            cnt = sum(vals("cnt"))
            out[name] = {"value":
                         (sum(vals("sum")) / cnt) if cnt else None}
        elif kind == "sum":
            s = vals("sum")
            out[name] = {"value": sum(s) if s else 0}
        elif kind == "min":
            v = vals("min")
            out[name] = {"value": min(v) if v else None}
        elif kind == "max":
            v = vals("max")
            out[name] = {"value": max(v) if v else None}
        elif kind == "value_count":
            out[name] = {"value": int(sum(vals("cnt")))}
        elif kind == "missing":
            out[name] = {"doc_count": int(sum(vals("nulls")))}
        elif kind == "stats":
            cnt = int(sum(vals("cnt")))
            s, mn, mx = vals("sum"), vals("min"), vals("max")
            out[name] = {
                "count": cnt,
                "min": min(mn) if mn else None,
                "max": max(mx) if mx else None,
                "avg": (sum(s) / cnt) if cnt else None,
                "sum": sum(s) if s else 0,
            }
        elif kind == "percentiles":
            if not rows:  # gap-filled empty bucket
                out[name] = {"values": {
                    str(float(pp)): None
                    for pp in body.get("percents", _DEFAULT_PERCENTS)}}
                continue
            (row,) = rows  # deepest level: one flat row per bucket
            out[name] = {"values": {
                str(float(pp)): row[f"{p}%{float(pp)}"]
                for pp in body.get("percents", _DEFAULT_PERCENTS)
            }}
        elif kind == "cardinality":
            if not rows:
                out[name] = {"value": 0}
                continue
            (row,) = rows
            out[name] = {"value": row[p + "card"]}
    return out


def _to_wall(k: _dt.datetime, tz: str | None, off: int) -> _dt.datetime:
    """UTC bucket instant → its (offset-shifted) local wall value."""
    if tz:
        from zoneinfo import ZoneInfo

        k = (k.replace(tzinfo=_dt.timezone.utc)
             .astimezone(ZoneInfo(tz)).replace(tzinfo=None))
    return k - _dt.timedelta(seconds=off) if off else k


def _from_wall(k: _dt.datetime, tz: str | None, off: int) -> _dt.datetime:
    """Local wall value → UTC bucket instant (fold=0 on ambiguity —
    the earlier occurrence, matching to_utc_timestamp)."""
    if off:
        k = k + _dt.timedelta(seconds=off)
    if tz:
        from zoneinfo import ZoneInfo

        k = (k.replace(tzinfo=ZoneInfo(tz))
             .astimezone(_dt.timezone.utc).replace(tzinfo=None))
    return k


def _advance_key(k, kind: str, body: dict):
    """The next bucket key after ``k`` — the driver-side mirror of
    :func:`_histogram_step` for in-memory gap filling. date_histogram
    steps in the ``time_zone``'s wall clock (offset removed first) so
    DST-short days advance by one calendar day, not 24 fixed hours."""
    if kind == "histogram":
        return k + int(body["interval"])
    tz = _check_time_zone(body.get("time_zone"))
    off = _parse_offset(body.get("offset"))
    k = _to_wall(k, tz, off)
    cal = body.get("calendar_interval")
    if cal is not None:
        unit = _CALENDAR_TRUNC[cal]
        if unit in ("second", "minute", "hour", "day", "week"):
            secs = {"second": 1, "minute": 60, "hour": 3600,
                    "day": 86400, "week": 7 * 86400}[unit]
            k = k + _dt.timedelta(seconds=secs)
        else:
            months = {"month": 1, "quarter": 3, "year": 12}[unit]
            total = (k.year * 12 + (k.month - 1)) + months
            k = k.replace(year=total // 12, month=total % 12 + 1)
        return _from_wall(k, tz, off)
    m = _FIXED_RE.match(str(body.get("fixed_interval")))
    secs = int(m.group(1)) * _FIXED_SECS[m.group(2)]
    if secs != int(secs) or secs < 1:
        raise DslError(
            "min_doc_count: 0 needs a whole-second fixed_interval")
    return _from_wall(k + _dt.timedelta(seconds=int(secs)), tz, off)


def _metric_order_getter(target: str, mets: dict, li: int):
    """A ``terms`` ``order`` metric target inside a nested chain →
    a function (bucket's flat rows) → orderable value, backed by the
    same component rollup the envelope uses. Only single-value
    mergeable metrics (and stats paths) have a total order to sort
    by — the same target set :func:`_terms_order` accepts."""
    base, _, stat = target.partition(".")
    spec = mets.get(base)
    if spec is None:
        raise DslError(
            f"terms order references unknown sub-agg {target!r}")
    mkind = _agg_kind(spec)
    if mkind is None:
        raise DslError(
            f"terms order target {target!r} has a malformed sub-agg spec")
    if mkind == "stats":
        if stat not in ("count", "min", "max", "avg", "sum"):
            raise DslError(
                f"unknown stats path in terms order {target!r}")
    elif mkind in ("percentiles", "missing"):
        raise DslError(
            f"cannot order terms by a {mkind} sub-agg ({base!r})")
    elif stat:
        raise DslError(f"malformed terms order target {target!r}")

    def get(rs: list):
        env = _rollup_metrics(rs, {base: spec}, li)[base]
        return env[stat] if mkind == "stats" else env.get("value")

    return get


def _assemble_levels(
    rows: list, levels: list, metrics: list[dict], li: int
) -> dict:
    """Recursive driver-side tree assembly over the flat frame rows."""
    _, kind, body = levels[li]
    groups: dict = {}
    for r in rows:
        k = r[f"__k{li}"]
        if k is None:
            continue  # counted by the parent, no bucket at this level
        groups.setdefault(k, []).append(r)
    items = [
        (k, rs, sum(r["doc_count"] for r in rs))
        for k, rs in groups.items()
    ]
    total = sum(t[2] for t in items)
    if kind == "terms":
        size = int(body.get("size", 10))
        min_dc = int(body.get("min_doc_count", 1))
        if body.get("include") is not None \
                or body.get("exclude") is not None:
            # bucket-level (not row-level — a row filter would wrongly
            # shrink parent doc_counts); totals re-scope like ES
            items = [t for t in items
                     if _include_exclude_py(t[0], body)]
            total = sum(t[2] for t in items)
        if min_dc > 1:
            items = [t for t in items if t[2] >= min_dc]
        # driver-side mirror of _terms_order over the in-memory items:
        # stable passes in reverse spec order; key-asc tie-break first
        spec = body.get("order", {"_count": "desc"})
        specs = [spec] if isinstance(spec, dict) else list(spec)
        items.sort(key=lambda t: (t[0],))
        for s in reversed(specs):
            if not isinstance(s, dict) or len(s) != 1:
                raise DslError(f"malformed terms order clause {s!r}")
            target, direction = next(iter(s.items()))
            if direction not in ("asc", "desc"):
                raise DslError(
                    f"unknown terms order direction {direction!r}")
            if target == "_count":
                items.sort(key=lambda t: t[2],
                           reverse=direction == "desc")
            elif target in ("_key", "_term"):
                items.sort(key=lambda t: t[0],
                           reverse=direction == "desc")
            else:
                # order by a metric sub-agg AT THIS LEVEL (r7 —
                # Kibana's "order by metric" on a nested terms
                # panel): the metric's mergeable components already
                # rode the one shuffle, so its per-bucket value
                # rolls up from the item's flat rows exactly like
                # the envelope's — no extra job. Null metric values
                # (all-null buckets) sort LAST in either direction,
                # ES's missing-last posture.
                getter = _metric_order_getter(
                    str(target), metrics[li], li)
                import functools as _ft

                def _cmp(a, b, _g=getter, _d=direction):
                    va, vb = _g(a[1]), _g(b[1])
                    if va is None and vb is None:
                        return 0
                    if va is None:
                        return 1
                    if vb is None:
                        return -1
                    if va == vb:
                        return 0
                    lt = va < vb
                    return (1 if lt else -1) if _d == "desc" \
                        else (-1 if lt else 1)

                items.sort(key=_ft.cmp_to_key(_cmp))
        items = items[:size]
    else:
        if "extended_bounds" in body:
            raise DslError(
                "extended_bounds inside a nested bucket chain is not "
                "supported — widen the top-level histogram instead"
            )
        min_dc = int(body.get("min_doc_count", 1))
        items.sort(key=lambda t: t[0])
        if min_dc == 0 and items:
            # per-parent gap fill, driver-side (the keys are already
            # in memory): empty buckets get no rows → doc_count 0,
            # null metrics, empty child levels — ES's envelope
            filled = []
            k, last = items[0][0], items[-1][0]
            by_key = {t[0]: t for t in items}
            guard = 0
            while k <= last:
                filled.append(by_key.get(k, (k, [], 0)))
                k = _advance_key(k, kind, body)
                guard += 1
                if guard > 100_000:
                    raise DslError(
                        "gap filling this histogram level would emit "
                        ">100k buckets — narrow the range or raise "
                        "the interval"
                    )
            items = filled
        elif min_dc > 1:
            items = [t for t in items if t[2] >= min_dc]
    buckets = []
    for k, rs, dc in items:
        b: dict[str, Any] = {"key": _key_envelope(k), "doc_count": dc}
        if isinstance(k, _dt.datetime):
            b["key_as_string"] = _key_as_string(k, body)
        b.update(_rollup_metrics(rs, metrics[li], li))
        if li + 1 < len(levels):
            b[levels[li + 1][0]] = _assemble_levels(
                rs, levels, metrics, li + 1)
        buckets.append(b)
    env: dict[str, Any] = {"buckets": buckets}
    if kind == "terms":
        env["doc_count_error_upper_bound"] = 0  # exact (divergence note)
        env["sum_other_doc_count"] = int(
            total - sum(t[2] for t in items))
    return env


#: sibling pipeline aggs (reduce a bucket list to one value) and
#: parent pipeline aggs (a per-bucket running transform).
#: _ORDERED_PIPELINES additionally need a histogram-ordered parent
#: (ES enforces the same restriction — a running diff over unordered
#: terms buckets is meaningless); the script family works under any
#: multi-bucket agg, terms included.
_SIBLING_PIPELINES = ("avg_bucket", "sum_bucket", "min_bucket",
                      "max_bucket", "stats_bucket",
                      "percentiles_bucket", "extended_stats_bucket")
_ORDERED_PIPELINES = ("cumulative_sum", "derivative", "serial_diff",
                      "moving_fn")
_SCRIPT_PIPELINES = ("bucket_script", "bucket_selector", "bucket_sort")
#: normalize (r9) rescales each bucket's value against the whole
#: sibling list — order-free, so any multi-bucket parent qualifies
#: (ES allows it under terms as well as histograms)
_VALUE_PIPELINES = ("normalize",)
_PARENT_PIPELINES = (_ORDERED_PIPELINES + _SCRIPT_PIPELINES
                     + _VALUE_PIPELINES)


#: token stream for the bucket-script grammar: numbers, params.refs,
#: arithmetic / comparison / boolean operators, parentheses
_SCRIPT_TOKEN_RE = re.compile(
    r"\s*(?:(\d+\.\d*|\.\d+|\d+)|params\.([A-Za-z_][A-Za-z0-9_]*)"
    r"|(\(|\)|\+|-|\*|/|%|>=|<=|==|!=|>|<|&&|\|\||!))"
)


def _tokenize_script(src: str) -> list[tuple[str, Any]]:
    toks: list[tuple[str, Any]] = []
    pos = 0
    while pos < len(src):
        m = _SCRIPT_TOKEN_RE.match(src, pos)
        if m is None:
            if src[pos:].strip() == "":
                break
            raise DslError(
                f"unsupported bucket script syntax at {src[pos:]!r} "
                "(implemented: numbers, params.<name>, + - * / % "
                "( ) > >= < <= == != && || !)"
            )
        if m.group(1) is not None:
            toks.append(("num", float(m.group(1))))
        elif m.group(2) is not None:
            toks.append(("param", m.group(2)))
        else:
            toks.append(("op", m.group(3)))
        pos = m.end()
    return toks


def _eval_bucket_script(src: str, params: dict):
    """Evaluate the ``params.x``-algebra subset of painless that
    Kibana TSVB generates for ``bucket_script``/``bucket_selector``
    ("params.n / params.d * 100", "params.total > 50") — a
    recursive-descent evaluator over a fixed grammar, NEVER eval().

    Returns None when any referenced param is null/absent (the
    caller applies ES's "skip" gap policy) and on division by zero
    (painless would throw the whole request away; a null bucket
    value is this engine's documented softer posture)."""
    toks = _tokenize_script(str(src))
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else (None, None)

    def take(op=None):
        nonlocal pos
        t = peek()
        if t[0] is None or (op is not None and t != ("op", op)):
            raise DslError(f"malformed bucket script {src!r}")
        pos += 1
        return t

    def primary():
        kind, val = peek()
        if kind == "num":
            take()
            return val
        if kind == "param":
            take()
            if val not in params:
                raise DslError(
                    f"bucket script references params.{val} but "
                    f"buckets_path defines {sorted(params)}"
                )
            return params[val]
        if (kind, val) == ("op", "("):
            take()
            v = or_expr()
            take(")")
            return v
        if (kind, val) == ("op", "-"):
            take()
            v = primary()
            return None if v is None else -v
        if (kind, val) == ("op", "!"):
            take()
            v = primary()
            return None if v is None else (not bool(v))
        raise DslError(f"malformed bucket script {src!r}")

    def mul_expr():
        v = primary()
        while peek() == ("op", "*") or peek() == ("op", "/") \
                or peek() == ("op", "%"):
            op = take()[1]
            r = primary()
            if v is None or r is None:
                v = None
            elif op == "*":
                v = v * r
            elif r == 0:
                v = None
            elif op == "/":
                v = v / r
            else:
                v = v % r
        return v

    def add_expr():
        v = mul_expr()
        while peek() == ("op", "+") or peek() == ("op", "-"):
            op = take()[1]
            r = mul_expr()
            if v is None or r is None:
                v = None
            else:
                v = v + r if op == "+" else v - r
        return v

    def cmp_expr():
        v = add_expr()
        if peek()[0] == "op" and peek()[1] in (">", ">=", "<", "<=",
                                               "==", "!="):
            op = take()[1]
            r = add_expr()
            if v is None or r is None:
                return None
            return {">": v > r, ">=": v >= r, "<": v < r,
                    "<=": v <= r, "==": v == r, "!=": v != r}[op]
        return v

    def and_expr():
        v = cmp_expr()
        while peek() == ("op", "&&"):
            take()
            r = cmp_expr()
            v = None if (v is None or r is None) else (bool(v) and
                                                       bool(r))
        return v

    def or_expr():
        v = and_expr()
        while peek() == ("op", "||"):
            take()
            r = and_expr()
            v = None if (v is None or r is None) else (bool(v) or
                                                       bool(r))
        return v

    out = or_expr()
    if pos != len(toks):
        raise DslError(f"malformed bucket script {src!r}")
    return out


def _script_params(bucket: dict, paths) -> dict:
    """Resolve a bucket_script/selector ``buckets_path`` map (ES also
    accepts a single string, exposed as ``params._value``) against one
    bucket; unknown-metric errors surface, null values stay None."""
    if isinstance(paths, str):
        paths = {"_value": paths}
    if not isinstance(paths, dict) or not paths:
        raise DslError(
            "bucket_script/bucket_selector buckets_path must be a "
            "non-empty {param: path} object (or a single path string)"
        )
    return {k: _pipeline_path_value(bucket, p) for k, p in paths.items()}


#: the MovingFunctions idioms Kibana emits for ``moving_fn`` scripts —
#: parsed by name, never executed as code. stdDev accepts ES's
#: documented two-arg form with the unweightedAvg inner call.
_MOVING_FN_RE = re.compile(
    r"^\s*MovingFunctions\.(max|min|sum|unweightedAvg|stdDev)\s*"
    r"\(\s*values\s*"
    r"(?:,\s*MovingFunctions\.unweightedAvg\s*\(\s*values\s*\)\s*)?"
    r"\)\s*$"
)


def _moving_fn_value(fn: str, vals: list):
    vals = [v for v in vals if v is not None]
    if not vals:
        return None
    if fn == "max":
        return max(vals)
    if fn == "min":
        return min(vals)
    if fn == "sum":
        return sum(vals)
    mean = sum(vals) / len(vals)
    if fn == "unweightedAvg":
        return mean
    # stdDev: ES's MovingFunctions.stdDev is the POPULATION deviation
    return (sum((v - mean) ** 2 for v in vals) / len(vals)) ** 0.5


#: the six documented ES normalize methods (z-score spelled with the
#: hyphen, like ES)
_NORMALIZE_METHODS = ("rescale_0_1", "rescale_0_100", "percent_of_sum",
                      "mean", "z-score", "softmax")


def _normalize_values(method: str, vals: list) -> list:
    """ES ``normalize`` over one bucket-value list. Null values (gap
    policy "skip") stay null and are excluded from the statistics,
    like ES.

    Moment arithmetic is FIXED-ORDER (sum / sumsq accumulated
    left-to-right, then one divide/subtract/sqrt chain) so an oracle
    replaying the same expressions over the same inputs matches
    bit-exactly — the extended_stats convention. Degenerate spans
    (max == min, zero deviation, zero sum) normalize to 0.0 — a
    documented engine choice where ES's output is undefined division.
    ``softmax`` is computed max-shifted (exp(v-max)/Σexp(v-max)):
    mathematically ES's formula, stable for large magnitudes."""
    import math

    if method not in _NORMALIZE_METHODS:
        raise DslError(
            f"unsupported normalize method {method!r} "
            f"(supported: {list(_NORMALIZE_METHODS)})"
        )
    present = [float(v) for v in vals if v is not None]
    if not present:
        return [None] * len(vals)
    n = float(len(present))
    s = 0.0
    sq = 0.0
    mx = present[0]
    mn = present[0]
    for v in present:
        s += v
        sq += v * v
        if v > mx:
            mx = v
        if v < mn:
            mn = v
    rng = mx - mn
    mean = s / n

    if method == "softmax":
        es = 0.0
        for v in present:
            es += math.exp(v - mx)
        return [None if v is None else math.exp(float(v) - mx) / es
                for v in vals]
    if method == "percent_of_sum":
        f = (lambda v: 0.0) if s == 0 else (lambda v: v / s)
    elif method == "rescale_0_1":
        f = (lambda v: 0.0) if rng == 0 else (lambda v: (v - mn) / rng)
    elif method == "rescale_0_100":
        f = (lambda v: 0.0) if rng == 0 \
            else (lambda v: 100.0 * (v - mn) / rng)
    elif method == "mean":
        f = (lambda v: 0.0) if rng == 0 \
            else (lambda v: (v - mean) / rng)
    else:  # z-score: population deviation from raw moments
        var = sq / n - mean * mean
        sd = math.sqrt(var) if var > 0 else 0.0
        f = (lambda v: 0.0) if sd == 0 else (lambda v: (v - mean) / sd)
    return [None if v is None else f(float(v)) for v in vals]


def _pipeline_path_value(bucket: dict, path: str):
    """Resolve the metric segment of a ``buckets_path`` against one
    bucket: ``_count`` → doc_count, ``m`` → the metric value,
    ``m.stat`` → a stats component."""
    if path == "_count":
        return bucket["doc_count"]
    base, _, stat = path.partition(".")
    env = bucket.get(base)
    if not isinstance(env, dict):
        raise DslError(
            f"buckets_path references unknown metric {path!r}")
    if stat:
        if stat not in env:
            raise DslError(
                f"buckets_path references unknown stats path {path!r}")
        return env[stat]
    return env.get("value")


def _check_gap_policy(body: dict) -> None:
    gp = body.get("gap_policy", "skip")
    if gp != "skip":
        raise DslError(
            f"unsupported gap_policy {gp!r} (only ES's default "
            "'skip' is implemented)"
        )


def _path_values(buckets: list, pk: str, pb: dict) -> list:
    path = pb.get("buckets_path")
    if not path:
        raise DslError(f"{pk} requires buckets_path")
    if not isinstance(path, str) or ">" in path:
        raise DslError(
            f"{pk} buckets_path must reference a sibling metric "
            f"of the same bucket agg (got {path!r})"
        )
    return [_pipeline_path_value(b, path) for b in buckets]


def _apply_parent_pipelines(
    buckets: list, pipes: dict, ordered: bool
) -> list:
    """Parent pipeline aggs over an already-computed bucket list —
    driver-side, no extra job, gap policy "skip" (ES's default).

    ``ordered`` marks a histogram/date_histogram parent; the running
    family (cumulative_sum / derivative / serial_diff / moving_fn)
    needs it and is a named error elsewhere — ES enforces the same
    restriction. The script family (bucket_script / bucket_selector /
    bucket_sort) works under any multi-bucket parent, terms included.

    Application order: value-producing pipes in body order (so a
    bucket_script may reference an earlier pipeline by name through
    buckets_path — ES resolves the same dependency chain), then
    selectors, then bucket_sort — a selector/sort must see every
    computed value. Returns the (possibly filtered/reordered) list."""
    selectors: list[tuple[str, dict]] = []
    sorts: list[tuple[str, dict]] = []
    for pname, pspec in pipes.items():
        pk, pb = next(iter(pspec.items()))
        check_agg_keys(pk, pb)
        _check_gap_policy(pb if isinstance(pb, dict) else {})
        if pk in _ORDERED_PIPELINES and not ordered:
            raise DslError(
                f"{pk} requires a histogram/date_histogram parent "
                "(running transforms need ordered buckets)"
            )
        if pk == "bucket_selector":
            selectors.append((pname, pb))
            continue
        if pk == "bucket_sort":
            sorts.append((pname, pb))
            continue
        if pk == "cumulative_sum":
            run = 0.0
            for b, v in zip(buckets, _path_values(buckets, pk, pb)):
                run += v or 0
                b[pname] = {"value": run}
        elif pk == "derivative":
            # ES omits it from the FIRST bucket
            prev = None
            vals = _path_values(buckets, pk, pb)
            for i, (b, v) in enumerate(zip(buckets, vals)):
                if i > 0 and v is not None and prev is not None:
                    b[pname] = {"value": v - prev}
                if v is not None:
                    prev = v
        elif pk == "serial_diff":
            lag = int(pb.get("lag", 1))
            if lag < 1:
                raise DslError("serial_diff lag must be >= 1")
            vals = _path_values(buckets, pk, pb)
            for i, b in enumerate(buckets):
                if i >= lag and vals[i] is not None \
                        and vals[i - lag] is not None:
                    b[pname] = {"value": vals[i] - vals[i - lag]}
        elif pk == "moving_fn":
            m = _MOVING_FN_RE.match(str(pb.get("script", "")))
            if m is None:
                raise DslError(
                    f"unsupported moving_fn script {pb.get('script')!r}"
                    " (implemented: MovingFunctions.max/min/sum/"
                    "unweightedAvg/stdDev over `values`)"
                )
            window = int(pb.get("window", 0))
            if window < 1:
                raise DslError("moving_fn requires a positive window")
            shift = int(pb.get("shift", 0))
            vals = _path_values(buckets, pk, pb)
            for i, b in enumerate(buckets):
                # ES's window at bucket i: [i-window+shift, i+shift)
                # — shift 0 is "the previous `window` buckets,
                # current excluded"
                lo, hi = i - window + shift, i + shift
                v = _moving_fn_value(
                    m.group(1), vals[max(0, lo):max(0, hi)])
                if v is not None:
                    b[pname] = {"value": v}
        elif pk == "bucket_script":
            script = pb.get("script")
            if script is None:
                raise DslError("bucket_script requires a script")
            for b in buckets:
                v = _eval_bucket_script(
                    script, _script_params(b, pb.get("buckets_path")))
                if v is not None:
                    b[pname] = {"value": float(v) if isinstance(
                        v, bool) else v}
        elif pk == "normalize":
            vals = _path_values(buckets, pk, pb)
            normed = _normalize_values(str(pb.get("method")), vals)
            for b, v in zip(buckets, normed):
                if v is not None:
                    b[pname] = {"value": v}
    for pname, pb in selectors:
        script = pb.get("script")
        if script is None:
            raise DslError("bucket_selector requires a script")
        kept = []
        for b in buckets:
            v = _eval_bucket_script(
                script, _script_params(b, pb.get("buckets_path")))
            # gap policy "skip": a bucket the script can't see
            # (missing value) is RETAINED un-evaluated, like ES
            if v is None or bool(v):
                kept.append(b)
        buckets = kept
    for pname, pb in sorts:
        sort_spec = pb.get("sort")
        if sort_spec is not None:
            if not isinstance(sort_spec, list) or not sort_spec:
                raise DslError("bucket_sort sort must be a non-empty "
                               "list")
            # ES applies sort keys in order; buckets missing a sort
            # value are DROPPED under gap policy "skip"
            for clause in reversed(sort_spec):
                if isinstance(clause, str):
                    path, direction = clause, "asc"
                elif isinstance(clause, dict) and len(clause) == 1:
                    path, spec = next(iter(clause.items()))
                    direction = (spec.get("order", "asc")
                                 if isinstance(spec, dict) else spec)
                else:
                    raise DslError(
                        f"malformed bucket_sort clause {clause!r}")
                if direction not in ("asc", "desc"):
                    raise DslError(
                        f"unknown bucket_sort order {direction!r}")
                if path == "_key":
                    keyed = [(b["key"], b) for b in buckets]
                else:
                    keyed = [(_pipeline_path_value(b, path), b)
                             for b in buckets]
                keyed = [(v, b) for v, b in keyed if v is not None]
                keyed.sort(key=lambda t: t[0],
                           reverse=(direction == "desc"))
                buckets = [b for _, b in keyed]
        start = int(pb.get("from", 0))
        size = pb.get("size")
        buckets = buckets[start:(start + int(size))
                          if size is not None else None]
    return buckets


def _sibling_pipeline_envelope(kind: str, body: dict, out: dict) -> dict:
    """``{avg,sum,min,max,stats}_bucket``: reduce a sibling bucket
    agg's per-bucket metric to one value. ``buckets_path`` is
    ``"sibling>metric"`` (or ``sibling>_count``); null values skip —
    ES's default gap policy."""
    check_agg_keys(kind, body)
    _check_gap_policy(body)
    path = body.get("buckets_path")
    if not path or ">" not in path:
        raise DslError(
            f"{kind} requires buckets_path of the form "
            "\"sibling_agg>metric\""
        )
    agg_name, _, metric_path = path.partition(">")
    env = out.get(agg_name)
    if not isinstance(env, dict) or not isinstance(env.get("buckets"),
                                                   list):
        raise DslError(
            f"buckets_path {path!r} does not reference a sibling "
            "bucket aggregation with list buckets (keyed targets are "
            "not addressable)"
        )
    vals = [_pipeline_path_value(b, metric_path)
            for b in env["buckets"]]
    vals = [v for v in vals if v is not None]
    if kind == "percentiles_bucket":
        # ES computes these EXACTLY over the bucket values with
        # nearest-rank selection (round(p/100 * (n-1)) into the
        # sorted list) — no interpolation, unlike the percentiles
        # METRIC agg
        percents = body.get("percents", _DEFAULT_PERCENTS)
        svals = sorted(vals)
        values = {}
        for p in percents:
            if not svals:
                values[str(float(p))] = None
            else:
                idx = int(float(p) / 100.0 * (len(svals) - 1) + 0.5)
                values[str(float(p))] = svals[idx]
        return {"values": values}
    if kind == "stats_bucket":
        cnt = len(vals)
        return {
            "count": cnt,
            "min": min(vals) if vals else None,
            "max": max(vals) if vals else None,
            "avg": (sum(vals) / cnt) if cnt else None,
            "sum": sum(vals) if vals else 0,
        }
    if kind == "extended_stats_bucket":
        # r14: stats_bucket plus the moment family — the SAME
        # sum/sum-of-squares arithmetic the extended_stats METRIC
        # derives its envelope from (ES shares the implementation
        # between them too). Floats throughout: a decimal-typed
        # sibling metric would poison the sqrt
        vals = [float(v) for v in vals]
        cnt = len(vals)
        s = sum(vals)
        sq = sum(v * v for v in vals)
        sigma = float(body.get("sigma", 2.0))
        env: dict[str, Any] = {
            "count": cnt,
            "min": min(vals) if vals else None,
            "max": max(vals) if vals else None,
            "sum": s if vals else 0,
            "sum_of_squares": sq if vals else None,
            "avg": None, "variance": None,
            "variance_population": None, "variance_sampling": None,
            "std_deviation": None, "std_deviation_population": None,
            "std_deviation_sampling": None,
            "std_deviation_bounds": {
                "upper": None, "lower": None,
                "upper_population": None, "lower_population": None,
                "upper_sampling": None, "lower_sampling": None,
            },
        }
        if cnt:
            avg = s / cnt
            var_p = max(sq / cnt - avg * avg, 0.0)
            var_s = (max(sq - cnt * avg * avg, 0.0) / (cnt - 1)
                     if cnt > 1 else None)
            sd_p = var_p ** 0.5
            sd_s = var_s ** 0.5 if var_s is not None else None
            env.update({
                "avg": avg, "variance": var_p,
                "variance_population": var_p,
                "variance_sampling": var_s,
                "std_deviation": sd_p,
                "std_deviation_population": sd_p,
                "std_deviation_sampling": sd_s,
                "std_deviation_bounds": {
                    "upper": avg + sigma * sd_p,
                    "lower": avg - sigma * sd_p,
                    "upper_population": avg + sigma * sd_p,
                    "lower_population": avg - sigma * sd_p,
                    "upper_sampling": (avg + sigma * sd_s)
                    if sd_s is not None else None,
                    "lower_sampling": (avg - sigma * sd_s)
                    if sd_s is not None else None,
                },
            })
        return env
    if not vals:
        return {"value": None if kind != "sum_bucket" else 0}
    if kind == "avg_bucket":
        return {"value": sum(vals) / len(vals)}
    if kind == "sum_bucket":
        return {"value": sum(vals)}
    if kind == "min_bucket":
        return {"value": min(vals)}
    return {"value": max(vals)}


def _graft_sibling(
    p_env: dict, s_env: dict, levels_s: list, li: int, d: int
) -> None:
    """Copy a sibling chain's branch subtrees onto the primary
    response tree, matching buckets by key through the shared ancestor
    levels. The shared levels truncate identically in both assemblies
    (same counts, same metrics — :func:`_split_chains`), so a missing
    secondary bucket can only mean a defensive empty branch."""
    s_by_key = {b["key"]: b for b in s_env["buckets"]}
    child = levels_s[li + 1][0]
    for b in p_env["buckets"]:
        sb = s_by_key.get(b["key"])
        if li + 1 == d:
            b[child] = sb[child] if sb is not None else {"buckets": []}
        elif sb is not None:
            _graft_sibling(b[child], sb[child], levels_s, li + 1, d)


def _attach_chain_top_hits(
    df: DataFrame, frame: DataFrame, rows: list, tree: dict,
    levels: list, ths: dict
) -> None:
    """``top_hits`` at the DEEPEST level of a nested chain (r7 —
    Kibana's "top documents per group per bucket"; previously a named
    error). One window job per request: candidate rows are restricted
    to the RETURNED innermost buckets via a broadcast semi-join on the
    composite key (volume ≤ returned buckets × size — the response
    bound), with WindowGroupLimit pre-truncating per partition."""
    from pyspark.sql import Window
    from pyspark.sql.types import StructField, StructType

    targets: list[tuple[tuple, dict]] = []

    def walk(env: dict, li: int, path: tuple) -> None:
        for b in env["buckets"]:
            p = path + (b["key"],)
            if li + 1 < len(levels):
                walk(b[levels[li + 1][0]], li + 1, p)
            else:
                targets.append((p, b))

    walk(tree, 0, ())
    if not targets:
        return
    for th_name, th_body in ths.items():
        check_agg_keys("top_hits", th_body)
    # enveloped tree keys → the RAW composite keys, via the flat rows
    # (the envelope conversion is injective); gap-filled empty buckets
    # have no flat row and simply get empty hit arrays
    nk = len(levels)
    raw_by_env: dict[tuple, tuple] = {}
    for r in rows:
        env_t = tuple(_key_envelope(r[f"__k{j}"]) for j in range(nk))
        raw_by_env[env_t] = tuple(r[f"__k{j}"] for j in range(nk))
    keys = [raw_by_env[t] for t, _ in targets if t in raw_by_env]
    if not keys:
        for th_name, th_body in ths.items():
            for _, b in targets:
                b[th_name] = {"hits": {
                    "total": {"value": b["doc_count"], "relation": "eq"},
                    "hits": []}}
        return
    spark = df.sparkSession
    schema = StructType([
        StructField(f"__k{j}", frame.schema[f"__k{j}"].dataType)
        for j in range(nk)
    ])
    keys_df = local_frame(spark, keys, schema)
    key_exprs = [
        bucket_key(knd, bdy).alias(f"__k{j}")
        for j, (_, knd, bdy) in enumerate(levels)
    ]
    cand = df.select("*", *key_exprs).join(
        F.broadcast(keys_df), [f"__k{j}" for j in range(nk)], "leftsemi",
    )
    from sql_database_to_elastic_datalake_spark.plans.search import (
        resolve_source_columns,
    )

    for th_name, th_body in ths.items():
        size = int(th_body.get("size", 3))
        order: list[Column] = []
        for s in th_body.get("sort") or []:
            if isinstance(s, str):
                field, direction = s, "asc"
            else:
                field, ospec = next(iter(s.items()))
                direction = (
                    ospec.get("order", "asc") if isinstance(ospec, dict)
                    else ospec
                )
            c = F.col(field)
            order.append(c.desc() if direction == "desc" else c.asc())
        order += [F.col(c).asc_nulls_first() for c in df.columns]
        w = Window.partitionBy(
            *[F.col(f"__k{j}") for j in range(nk)]).orderBy(*order)
        hit_rows = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= size)
            .collect()
        )
        th_src = resolve_source_columns(df.columns, th_body.get("_source"))
        by_key: dict[tuple, list] = {}
        for hr in hit_rows:
            env_t = tuple(_key_envelope(hr[f"__k{j}"]) for j in range(nk))
            by_key.setdefault(env_t, []).append({
                "_source": {c: hr[c] for c in df.columns if c in th_src}
            })
        for t, b in targets:
            b[th_name] = {"hits": {
                "total": {"value": b["doc_count"], "relation": "eq"},
                "hits": by_key.get(t, []),
            }}


def significant_terms_frame(
    fg: DataFrame, bg: DataFrame, body: dict
) -> DataFrame:
    """ES ``significant_terms``: terms overrepresented in the query
    scope (foreground) relative to the whole index (background) —
    Kibana's "significant keywords" panel. Scored with ES's DEFAULT
    JLH heuristic, computed EXACTLY: ``(fg% − bg%) · (fg% / bg%)``;
    only terms with fg% > bg% qualify (ES's posture), ordered
    score-desc with the usual deterministic key tie-break.

    Plan shape: one groupBy each over foreground and background (the
    background agg is the same cardinality class as a terms agg), an
    equi-join on the term, and two broadcast scalar totals — no
    corpus-sized shuffle beyond the two aggs. ``min_doc_count``
    defaults to 3 like ES."""
    check_agg_keys("significant_terms", body)
    field = body.get("field")
    if field is None:
        raise DslError("significant_terms requires a field")
    size = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 3))
    key = F.col(field)
    fgc = (fg.filter(key.isNotNull()).groupBy(key.alias("key"))
           .agg(F.count(F.lit(1)).alias("doc_count")))
    # ONE background pass (r14, guide §2.2 fewer passes): group
    # WITHOUT the null filter so the total doc count bt (which counts
    # null-key docs too, ES's doc_count basis) rides the grouped
    # result as an unpartitioned-window sum — term-cardinality rows,
    # one single-partition gather. The old shape paid a SECOND full
    # background scan for that one scalar (and a two-branch reuse
    # attempt fails: the key-null filter pushes into one branch's
    # scan and breaks exchange-subtree identity).
    from pyspark.sql.window import Window as _W

    bgc = (
        bg.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("bg_count"))
        .withColumn("bt", F.sum("bg_count").over(
            _W.partitionBy()).cast("double"))
        .filter(F.col("key").isNotNull())
    )
    fgt = fg.agg(F.count(F.lit(1)).cast("double").alias("ft"))
    fg_pct = F.col("doc_count").cast("double") / F.col("ft")
    bg_pct = F.col("bg_count").cast("double") / F.col("bt")
    return (
        fgc.join(bgc, "key")
        .crossJoin(F.broadcast(fgt))
        .filter((F.col("doc_count") >= min_dc) & (fg_pct > bg_pct))
        .select(
            "key", "doc_count", "bg_count",
            ((fg_pct - bg_pct) * (fg_pct / bg_pct)).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("key").asc())
        .limit(size)
    )


def significant_text_frame(
    bg: DataFrame, fg_pred: Column, body: dict,
    bg_pred: Column | None = None,
) -> DataFrame:
    """ES ``significant_text``: tokens overrepresented in the query
    scope relative to the whole index — Kibana's text-analytics twin
    of ``significant_terms``, scored with the same exact JLH
    heuristic ``(fg% − bg%) · (fg% / bg%)``.

    Counting is DOC FREQUENCY like ES (each doc contributes once per
    distinct token — ``array_distinct`` before the explode), and both
    scopes ride ONE tokenized scan: the background table is tokenized
    once with the foreground predicate as a flag column, so the
    groupBy(token) emits the fg count (conditional sum) and the bg
    count (plain count) together — the foreground is never re-scanned
    and the tokenizer (the expensive part) runs once. The doc totals
    are a second, tokenizer-free count-only pass. No UDF anywhere:
    split/filter/array_distinct/explode are native expressions.
    ``min_doc_count`` defaults to 3 like ES.

    ``bg_pred`` is ES's ``background_filter`` (r10): the background
    scope narrows to rows matching it. The one-scan contract holds —
    the scan covers ``fg_pred OR bg_pred`` rows with TWO flag columns
    and the bg count becomes its own conditional sum."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        TOKEN_SPLIT_LOWER_RE,
    )

    check_agg_keys("significant_text", body)
    field = body.get("field")
    if field is None:
        raise DslError("significant_text requires a field")
    size = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 3))
    toks = F.array_distinct(F.filter(
        F.split(F.lower(F.col(field).cast("string")),
                TOKEN_SPLIT_LOWER_RE),
        lambda t: t != ""))
    flag = F.coalesce(fg_pred, F.lit(False))
    bflag = F.lit(True) if bg_pred is None \
        else F.coalesce(bg_pred, F.lit(False))
    scan = bg if bg_pred is None else bg.filter(flag | bflag)
    counts = (
        scan.select(flag.alias("__fg"), bflag.alias("__bg"),
                    F.explode(toks).alias("key"))
        .groupBy("key")
        .agg(
            F.sum(F.when(F.col("__fg"), 1).otherwise(0))
            .cast("bigint").alias("doc_count"),
            F.sum(F.when(F.col("__bg"), 1).otherwise(0))
            .cast("bigint").alias("bg_count"),
        )
    )
    counts = counts.filter(F.col("bg_count") > 0)
    totals = scan.agg(
        F.sum(F.when(flag, 1).otherwise(0))
        .cast("double").alias("ft"),
        F.sum(F.when(bflag, 1).otherwise(0))
        .cast("double").alias("bt"),
    )
    fg_pct = F.col("doc_count").cast("double") / F.col("ft")
    bg_pct = F.col("bg_count").cast("double") / F.col("bt")
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter((F.col("doc_count") >= min_dc) & (fg_pct > bg_pct))
        .select(
            "key", "doc_count", "bg_count",
            ((fg_pct - bg_pct) * (fg_pct / bg_pct)).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("key").asc())
        .limit(size)
    )


def categorize_text_frame(df: DataFrame, body: dict) -> DataFrame:
    """ES ``categorize_text`` (the ML log-pattern agg): group
    semi-structured messages by their token template.

    DOCUMENTED DIVERGENCE: ES's categorizer clusters messages
    incrementally against a similarity threshold (default 70) — the
    result depends on document order, and ES itself re-categorized
    existing data when the 8.3 algorithm changed. This engine
    implements the exact-template tier: two messages share a category
    iff their digit-free token sequences are IDENTICAL — the
    ``similarity_threshold: 100`` semantics, deterministic across
    engines and runs; an explicit threshold other than 100 is a named
    400, never a silent approximation. Matching ES's tokenizer
    contract: tokens containing any digit are the variable parts of a
    log line and are dropped from the template;
    ``categorization_filters`` (Java regexes) are stripped from the
    raw text first; messages whose template is empty (all-numeric
    lines) are uncategorizable and skipped, like ES.

    Plan: one tokenized scan → groupBy(template) where doc_count and
    ``max_matching_length`` (the longest raw message in the category;
    ES reports an analyzer-dependent estimate — documented) ride the
    same shuffle → min_doc_count filter → TakeOrdered(size)."""
    check_agg_keys("categorize_text", body)
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        TOKEN_SPLIT_LOWER_RE,
    )

    field = body.get("field")
    if field is None:
        raise DslError("categorize_text requires a field")
    size = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 1))
    thresh = body.get("similarity_threshold")
    if thresh is not None and thresh != 100:
        raise DslError(
            "categorize_text similarity_threshold below 100 needs ES's "
            "order-dependent incremental clustering — only the "
            "deterministic exact-template tier (100) is implemented")
    src = F.col(field).cast("string")
    filters = body.get("categorization_filters") or []
    if not isinstance(filters, list) or \
            not all(isinstance(p, str) for p in filters):
        raise DslError(
            "categorization_filters must be an array of regex strings")
    for pat in filters:
        src = F.regexp_replace(src, pat, "")
    toks = F.filter(
        F.split(F.lower(src), TOKEN_SPLIT_LOWER_RE),
        lambda t: (t != "") & ~t.rlike("[0-9]"),
    )
    return (
        df.filter(F.col(field).isNotNull())
        .select(
            F.array_join(toks, " ").alias("key"),
            F.length(F.col(field).cast("string")).alias("len"),
        )
        .filter(F.col("key") != "")
        .groupBy("key")
        .agg(
            F.count("*").cast("bigint").alias("doc_count"),
            F.max("len").cast("bigint").alias("max_matching_length"),
        )
        .filter(F.col("doc_count") >= min_dc)
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
        .limit(size)
    )


#: frequent_item_sets bounds: distinct frequent sets surviving the
#: support filter (driver closed-set filter is quadratic per count
#: class) and items per row (subset enumeration is 2^n per row)
_FIS_BUDGET = 10_000
_FIS_MAX_ITEMS = 12
_FIS_SEP = "\x1f"


def _any_col(conds: list[Column]) -> Column:
    """OR-fold a non-empty Column list."""
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def frequent_item_sets_result(df: DataFrame, body: dict) -> list[dict]:
    """ES ``frequent_item_sets`` (8.4+): closed sets of field values
    that co-occur in at least ``minimum_support`` of the documents —
    market-basket mining over index fields.

    DOCUMENTED DIVERGENCE: ES mines per-shard with a sampled eclat
    variant and flags its own results as approximate; this engine is
    exact and deterministic. Semantics kept: items are (field, value)
    pairs (array fields contribute one item per element), support
    counts DOCUMENTS, only CLOSED sets return (no superset has the
    same doc_count), sets smaller than ``minimum_set_size`` are
    dropped, top ``size`` by doc_count (key ascending on ties — ES
    leaves ties unspecified; fixed order is the determinism contract).

    Plan, scalar fields (the common form): the subsets of a row's
    basket are exactly the 2^F grouping sets, so ONE ``cube()`` —
    a single Expand + a single groupBy, fully JVM-side with native
    column keys — counts every candidate set; cube-NULL vs value-NULL
    separate via ``grouping()`` (a genuinely NULL value's item is
    absent from the basket and its groups drop). Plan, array fields:
    one scan builds each row's sorted distinct item array and a
    generator enumerates that row's subset bitmasks IN-ROW (bounded:
    > {max_items} items per row is a named 400 raised executor-side
    inside the same job — 2^n subsets per row is the algorithm, the
    bound makes it explicit, and baskets past a dozen distinct items
    want a dedicated FP-growth job, not an aggregation request),
    then one groupBy on the itemset array. Both paths: the support
    filter prunes BEFORE the budget-bounded collect; the closed-set
    filter runs driver-side within equal-count classes (only they can
    tie). Candidate counts are bounded by the support threshold
    exactly as in Apriori — every frequent set's subsets are
    frequent, so nothing below the threshold survives to the
    driver."""
    check_agg_keys("frequent_item_sets", body)
    fields = body.get("fields")
    if not isinstance(fields, list) or not fields or not all(
            isinstance(f, dict) and f.get("field") for f in fields):
        raise DslError(
            "frequent_item_sets requires fields: [{field: name}, ...]")
    names = [str(f["field"]) for f in fields]
    for f in fields:
        extra = sorted(set(f) - {"field"})
        if extra:
            raise DslError(
                f"unsupported frequent_item_sets field options: {extra}")
    min_size = body.get("minimum_set_size", 1)
    if not isinstance(min_size, int) or isinstance(min_size, bool) \
            or min_size < 1:
        raise DslError(
            "frequent_item_sets minimum_set_size must be a positive "
            "integer")
    min_support = body.get("minimum_support", 0.1)
    if not isinstance(min_support, (int, float)) \
            or isinstance(min_support, bool) \
            or not (0 < float(min_support) <= 1):
        raise DslError(
            "frequent_item_sets minimum_support must be in (0, 1]")
    size = int(body.get("size", 10))

    from pyspark.sql.types import ArrayType

    dts = {}
    for nm in names:
        try:
            dts[nm] = df.schema[nm].dataType
        except KeyError:
            raise DslError(
                f"frequent_item_sets: unknown field {nm!r}") from None
    total = df.count()
    if total == 0:
        return []
    if not any(isinstance(dt, ArrayType) for dt in dts.values()):
        # SCALAR FAST PATH: with one item per field, the subsets of a
        # row's basket are exactly the 2^F grouping sets — Spark's
        # cube() computes them all in ONE Expand + ONE groupBy, fully
        # JVM-side, no per-row item arrays or bitmask generators. A
        # cube NULL means "field not in this grouping set"; grouping()
        # separates it from a genuinely NULL value (whose item is
        # absent from the basket — those groups drop, same semantics
        # as the array path's missing item).
        gflags = [F.grouping(nm).alias(f"__g{i}")
                  for i, nm in enumerate(names)]
        grouped = df.cube(*names).agg(
            F.count("*").cast("bigint").alias("doc_count"), *gflags)
        included = [F.col(f"__g{i}") == 0 for i in range(len(names))]
        set_size = sum(
            F.when(c, 1).otherwise(0) for c in included)
        null_value = [inc & F.col(nm).isNull()
                      for inc, nm in zip(included, names)]
        item_strs = [
            F.when(inc, F.concat(F.lit(nm + _FIS_SEP),
                                 F.col(nm).cast("string")))
            for inc, nm in zip(included, names)
        ]
        cand = (
            grouped
            .filter(set_size >= min_size)
            .filter(~_any_col(null_value))
            .select(
                F.array_sort(F.filter(
                    F.array(*item_strs), lambda x: x.isNotNull()
                )).alias("itemset"),
                "doc_count",
            )
            .filter(F.col("doc_count").cast("double")
                    / F.lit(float(total)) >= F.lit(float(min_support)))
        )
        rows = cand.limit(_FIS_BUDGET + 1).collect()
    else:
        item_cols = []
        for nm in names:
            c = F.col(nm)
            tag = F.lit(nm + _FIS_SEP)
            if isinstance(dts[nm], ArrayType):
                # a NULL array value must contribute NO items, not
                # null the whole basket: flatten() returns NULL when
                # any nested array is NULL, which would drop the row's
                # items from its OTHER fields too (ES treats a missing
                # field as absent-from-basket, same as the cube path)
                item_cols.append(F.coalesce(
                    F.transform(
                        F.filter(c, lambda x: x.isNotNull()),
                        lambda x: F.concat(tag, x.cast("string"))),
                    F.array().cast("array<string>")))
            else:
                item_cols.append(
                    F.when(c.isNotNull(),
                           F.array(F.concat(tag, c.cast("string"))))
                    .otherwise(F.array().cast("array<string>")))
        items = F.array_sort(F.array_distinct(
            F.flatten(F.coalesce(F.array(*item_cols),
                                 F.array().cast("array<array<string>>")))))
        # the per-row item cap rides INSIDE the candidate job via
        # raise_error (no separate full scan just to check it — the
        # items expression is the expensive part of every pass)
        overflow = F.raise_error(F.lit(
            f"frequent_item_sets over rows with more than "
            f"{_FIS_MAX_ITEMS} distinct items — subset enumeration is "
            "2^n per row; reduce the field list or pre-bucket the "
            "values")).cast("int")
        base = (
            df.select(items.alias("items"))
            .withColumn("n", F.size("items"))
            .filter(F.col("n") >= min_size)
            .withColumn(
                "n",
                F.when(F.col("n") <= _FIS_MAX_ITEMS, F.col("n"))
                .otherwise(overflow),
            )
        )
        cand = (
            base.select(
                "items",
                F.explode(F.expr(
                    "sequence(1, shiftleft(1, n) - 1)"
                )).alias("mask"),
            )
            .filter(F.bit_count("mask") >= min_size)
            .selectExpr("filter(items, (x, i) -> getbit(mask, i) = 1) "
                        "AS itemset")
            .groupBy("itemset")
            .agg(F.count("*").cast("bigint").alias("doc_count"))
            .filter(F.col("doc_count").cast("double")
                    / F.lit(float(total)) >= F.lit(float(min_support)))
        )
        try:
            rows = cand.limit(_FIS_BUDGET + 1).collect()
        except Exception as ex:  # executor-side cap → the named 400
            if f"more than {_FIS_MAX_ITEMS} distinct items" in str(ex):
                raise DslError(
                    f"frequent_item_sets over rows with more than "
                    f"{_FIS_MAX_ITEMS} distinct items — subset "
                    "enumeration is 2^n per row; reduce the field "
                    "list or pre-bucket the values") from None
            raise
    if len(rows) > _FIS_BUDGET:
        raise DslError(
            f"frequent_item_sets exceeds {_FIS_BUDGET} frequent sets — "
            "raise minimum_support or minimum_set_size")
    by_count: dict[int, list[frozenset]] = {}
    for r in rows:
        by_count.setdefault(r["doc_count"], []).append(
            frozenset(r["itemset"]))
    buckets = []
    for r in rows:
        s = frozenset(r["itemset"])
        if any(s < other for other in by_count[r["doc_count"]]):
            continue  # an equal-count superset exists: not closed
        key: dict[str, list[str]] = {}
        for item in sorted(s):
            fld, val = item.split(_FIS_SEP, 1)
            key.setdefault(fld, []).append(val)
        buckets.append({
            "key": key,
            "doc_count": int(r["doc_count"]),
            "support": r["doc_count"] / total,
        })
    buckets.sort(key=lambda b: (
        -b["doc_count"],
        ",".join(f"{f}={v}" for f in sorted(b["key"])
                 for v in b["key"][f]),
    ))
    return buckets[:size]


def sampler_scope(
    df: DataFrame, body: dict, diversified: bool = False
) -> DataFrame:
    """The sampled scope for ``sampler`` / ``diversified_sampler`` —
    ES's cost-bounding wrapper around ``significant_*``/``terms`` on
    big indices: sub-aggs see at most ``shard_size`` docs.

    DOCUMENTED DIVERGENCE: ES keeps the top-SCORING ``shard_size``
    docs per shard; this engine's filter context is score-free and
    shard counts are an execution detail, so the sample is the
    ``shard_size`` docs with the smallest md5 of the table's lead
    tie-break column (the :func:`deterministic_sample` convention) —
    deterministic across engines, runs, and repartitioning, which ES's
    per-shard sample is not. The plan is one TakeOrdered of
    ``shard_size`` rows — the sample is bounded however big the
    corpus, which is the whole point of the agg.

    ``diversified_sampler`` adds ``field`` + ``max_docs_per_value``
    (default 1, like ES): a window row_number per field value keeps
    the cap BEFORE the TakeOrdered; docs with a null field value
    bypass the cap (no value to deduplicate on).

    The sample is MATERIALIZED as a local relation (one collect of
    ≤ shard_size rows — ES buffers its sample in memory per shard the
    same way, BestDocsDeferringCollector), so however many sub-aggs
    consume it, the corpus is scanned exactly once; ``shard_size`` is
    budget-capped like the other driver-side envelopes."""
    from sql_database_to_elastic_datalake_spark.operators.similarity import (
        tiebreak_columns,
    )

    kind = "diversified_sampler" if diversified else "sampler"
    check_agg_keys(kind, body)
    shard_size = body.get("shard_size", 100)
    if not isinstance(shard_size, int) or isinstance(shard_size, bool) \
            or shard_size <= 0:
        raise DslError(f"{kind} shard_size must be a positive integer")
    if shard_size > _SAMPLER_BUDGET:
        raise DslError(
            f"{kind} shard_size {shard_size} exceeds the "
            f"{_SAMPLER_BUDGET} budget (the agg exists to bound "
            "sub-agg cost; raise the budget deliberately, not the "
            "sample)")
    keys = tiebreak_columns(df)
    if not keys:
        raise DslError(f"{kind} needs an orderable column")
    rank = F.md5(F.col(keys[0]).cast("string"))
    scoped = df
    if diversified:
        field = body.get("field")
        if field is None:
            raise DslError("diversified_sampler requires a field")
        m = body.get("max_docs_per_value", 1)
        if not isinstance(m, int) or isinstance(m, bool) or m <= 0:
            raise DslError(
                "diversified_sampler max_docs_per_value must be a "
                "positive integer")
        from pyspark.sql.window import Window

        w = (Window.partitionBy(F.col(field))
             .orderBy(rank.asc(), F.col(keys[0]).asc()))
        scoped = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col(field).isNull() | (F.col("__rn") <= m))
            .drop("__rn")
        )
    page = scoped.orderBy(rank.asc(), F.col(keys[0]).asc()) \
        .limit(int(shard_size))
    return local_frame(df.sparkSession, page.collect(), page.schema)


def filters_frame(
    df: DataFrame,
    body: dict,
    sub_aggs: dict | None = None,
    schema_fields: list[str] | None = None,
) -> DataFrame:
    """ES ``filters`` (plural) aggregation — Kibana's named-bucket
    panel: one bucket per named query-DSL predicate, all computed in
    ONE conditional-aggregation job (a column set per filter rides a
    single pass, no per-filter scan). ``other_bucket`` adds the
    matched-by-none bucket (null-safe negation). Metric sub-aggs gate
    per filter in the same job."""
    specs = body.get("filters")
    anon = isinstance(specs, list)
    if anon:
        specs = {str(i): s for i, s in enumerate(specs)}
    if not isinstance(specs, dict) or not specs:
        raise DslError(
            "filters aggregation requires a non-empty filters "
            "object or list"
        )
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import _ns

    preds = {
        name: compile_dsl(dsl, schema_fields=schema_fields)
        for name, dsl in specs.items()
    }
    if body.get("other_bucket") or body.get("other_bucket_key"):
        other = F.lit(True)
        for p in preds.values():
            other = other & ~_ns(p)
        preds[str(body.get("other_bucket_key", "_other_"))] = other
    cols: list[Column] = []
    for name, pred in preds.items():
        cols.append(
            F.sum(F.when(pred, 1).otherwise(0)).cast("bigint")
            .alias(f"{name} doc_count")
        )
        for mname, spec in (sub_aggs or {}).items():
            kind = _agg_kind(spec)
            if kind is None:
                raise DslError(
                    f"malformed sub-aggregation spec {mname!r}")
            _reject_metric_subaggs(mname, kind, spec)
            mbody = spec[kind]
            if mbody.get("field") is None:
                raise DslError(
                    f"aggregation {mname!r} ({kind}) requires a field")
            check_agg_keys(kind, mbody)
            gated = F.when(pred, _metric_source(mbody))
            if kind in _METRICS:
                cols.append(_METRICS[kind](gated)
                            .alias(f"{name} {mname}"))
            elif kind == "stats":
                for stat, fn in (("count", F.count), ("min", F.min),
                                 ("max", F.max), ("avg", F.avg),
                                 ("sum", F.sum)):
                    cols.append(fn(gated).alias(
                        f"{name} {mname}.{stat}"))
            else:
                raise DslError(
                    f"unsupported sub-aggregation kind {kind!r} under "
                    "a filters aggregation"
                )
    return df.agg(*cols)


def filter_frame(
    df: DataFrame,
    body: dict,
    sub_aggs: dict | None = None,
    schema_fields: list[str] | None = None,
) -> DataFrame:
    """``filter`` agg: doc_count + metric sub-aggs under a query-DSL
    predicate, via the same compiler the search path uses — one
    conditional-aggregation job, no second scan of the matched set."""
    pred = compile_dsl(body, schema_fields=schema_fields)
    cols = [F.sum(F.when(pred, 1).otherwise(0)).cast("bigint")
            .alias("doc_count")]
    cols.extend(_gated_metric_cols(pred, sub_aggs or {}))
    return df.agg(*cols)


def _reject_metric_subaggs(name: str, kind: str, spec: dict) -> None:
    """A metric agg cannot accept sub-aggregations (ES names the same
    error). Key order is client-controlled, so the ``aggs`` block may
    precede the type — now that dispatch resolves the type via
    :func:`_agg_kind` (r8 ADVICE: these sites used the first key), the
    stray block must be rejected rather than silently dropped."""
    nested = spec.get("aggs") or spec.get("aggregations")
    if nested:
        raise DslError(
            f"sub-aggregations under {name!r} ({kind}) are not "
            "supported here"
        )


def _gated_metric_cols(
    pred: Column, sub_aggs: dict, prefix: str = ""
) -> list[Column]:
    """Metric aggregate Columns gated by a predicate — the shared
    conditional-aggregation shape of the filter/filters aggs and of
    filter sub-aggs riding a parent bucket's groupBy."""
    cols: list[Column] = []
    for name, spec in sub_aggs.items():
        kind = _agg_kind(spec)
        if kind is None:
            raise DslError(f"malformed sub-aggregation spec {name!r}")
        _reject_metric_subaggs(name, kind, spec)
        mbody = spec[kind]
        field = mbody.get("field") if isinstance(mbody, dict) else None
        if field is None:
            raise DslError(f"aggregation {name!r} ({kind}) requires a field")
        check_agg_keys(kind, mbody)
        gated = F.when(pred, _metric_source(mbody))
        if kind == "stats":
            for stat, fn in (("count", F.count), ("min", F.min),
                             ("max", F.max), ("avg", F.avg), ("sum", F.sum)):
                cols.append(fn(gated).alias(f"{prefix}{name}.{stat}"))
        elif kind == "percentiles":
            for p in mbody.get("percents", _DEFAULT_PERCENTS):
                cols.append(
                    F.percentile(gated, F.lit(float(p) / 100.0))
                    .alias(f"{prefix}{name}%{float(p)}")
                )
        elif kind == "missing":
            cols.append(
                F.sum(F.when(pred & F.col(field).isNull(), 1).otherwise(0))
                .cast("bigint").alias(f"{prefix}{name}")
            )
        elif kind in _METRICS:
            cols.append(_METRICS[kind](gated).alias(f"{prefix}{name}"))
        else:
            raise DslError(f"unsupported sub-aggregation kind {kind!r}")
    return cols


def _key_envelope(v) -> Any:
    """Bucket keys in the ES response: timestamps become epoch millis
    with a key_as_string twin; everything else passes through."""
    if isinstance(v, _dt.datetime):
        return int(v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
    return v


#: Java DateTimeFormatter letter-runs with implemented strftime twins.
_JAVA_FMT = {"yyyy": "%Y", "yy": "%y", "MM": "%m", "dd": "%d",
             "HH": "%H", "mm": "%M", "ss": "%S"}

_JAVA_RUN_RE = re.compile(r"([A-Za-z])\1*|'([^']*)'|([^A-Za-z']+)")


def _java_to_strftime(fmt: str) -> str:
    """The common Java date-pattern subset (``yyyy-MM-dd HH:mm:ss`` and
    friends) → strftime. A letter run outside the implemented set is a
    named 400 — honoring ``format`` partially would silently change
    ``key_as_string`` (the r6 advisory's accepted-and-ignored class)."""
    out: list[str] = []
    pos = 0
    for m in _JAVA_RUN_RE.finditer(fmt):
        if m.start() != pos:
            raise DslError(f"malformed date format {fmt!r}")
        pos = m.end()
        if m.group(1) is not None:
            run = m.group(0)
            if run not in _JAVA_FMT:
                raise DslError(
                    f"unsupported date format token {run!r} in {fmt!r} "
                    f"(supported: {sorted(_JAVA_FMT)}, epoch_millis, "
                    "epoch_second, date, date_optional_time)"
                )
            out.append(_JAVA_FMT[run])
        elif m.group(2) is not None:
            out.append(m.group(2).replace("%", "%%"))
        else:
            out.append(m.group(3).replace("%", "%%"))
    if pos != len(fmt):
        raise DslError(f"malformed date format {fmt!r}")
    return "".join(out)


def _key_as_string(k: _dt.datetime, body: dict) -> str:
    """ES ``key_as_string``: rendered in the request ``time_zone``
    (Kibana labels buckets with it) and honoring ``format`` — named ES
    formats plus the Java-pattern subset (:func:`_java_to_strftime`).
    The numeric ``key`` stays the UTC epoch-millis instant like ES."""
    tz = _check_time_zone(body.get("time_zone"))
    local = k
    if tz:
        from zoneinfo import ZoneInfo

        local = k.replace(tzinfo=_dt.timezone.utc).astimezone(ZoneInfo(tz))
    fmt = body.get("format")
    if fmt is None or fmt in ("date_optional_time",
                              "strict_date_optional_time"):
        return local.isoformat()
    if fmt == "epoch_millis":
        return str(_key_envelope(k))
    if fmt == "epoch_second":
        return str(_key_envelope(k) // 1000)
    if fmt == "date" or fmt == "strict_date":
        return local.strftime("%Y-%m-%d")
    return local.strftime(_java_to_strftime(str(fmt)))


def _top_metrics_spec(body: dict) -> tuple[list[str], str, str, int]:
    """Validate a ``top_metrics`` body → (metric fields, sort field,
    direction, size). ES allows exactly one sort clause here; ``size``
    defaults to 1 (Lens's "last value")."""
    m = body.get("metrics")
    specs = m if isinstance(m, list) else [m]
    fields: list[str] = []
    for s in specs:
        if not isinstance(s, dict) or not s.get("field"):
            raise DslError(
                "top_metrics metrics must be {field: …} entries")
        fields.append(str(s["field"]))
    sort = body.get("sort")
    if isinstance(sort, (str, dict)):
        sort = [sort]
    if not isinstance(sort, list) or len(sort) != 1:
        raise DslError("top_metrics requires exactly one sort clause")
    clause = sort[0]
    if isinstance(clause, str):
        sf, sd = clause, "asc"
    elif isinstance(clause, dict) and len(clause) == 1:
        sf, spec = next(iter(clause.items()))
        sd = spec.get("order", "asc") if isinstance(spec, dict) \
            else spec
    else:
        raise DslError(f"malformed top_metrics sort {clause!r}")
    if sd not in ("asc", "desc"):
        raise DslError(f"unknown top_metrics sort order {sd!r}")
    size = int(body.get("size", 1))
    if size < 1:
        raise DslError("top_metrics size must be >= 1")
    return fields, str(sf), sd, size


def _top_metrics_rows(rows, fields: list[str], sf: str) -> list[dict]:
    return [
        {"sort": [_key_envelope(r[sf])],
         "metrics": {f: r[f] for f in fields}}
        for r in rows
    ]


def _strip_nested_prefix(path: str, sub_aggs: dict | None) -> dict:
    """Rewrite nested-context sub-agg bodies so field refs drop the
    ``path.`` prefix (ES addresses nested fields by full path; after
    the explode they are plain element columns). A field outside the
    path is a named error — ES's nested context cannot see parent
    fields either."""
    out: dict = {}
    for name, spec in (sub_aggs or {}).items():
        if not isinstance(spec, dict) or len(spec) != 1:
            raise DslError(f"aggregation {name!r} must have exactly one type")
        kind, body = next(iter(spec.items()))
        if not isinstance(body, dict) or not body.get("field"):
            raise DslError(
                f"nested sub-aggregation {name!r} ({kind}) requires a "
                "field"
            )
        field = str(body["field"])
        if not field.startswith(path + "."):
            raise DslError(
                f"nested sub-aggregation {name!r} must address fields "
                f"under {path!r} (got {field!r})"
            )
        out[name] = {kind: {**body, "field": field[len(path) + 1:]}}
    return out


def _nested_envelope(df: DataFrame, path: str, sub: dict | None) -> dict:
    """The ES ``nested`` aggregation: switch scope to the elements of
    an array-of-struct column. Spark shape: ONE explode (a generator,
    no shuffle) carrying a parent row id; ``doc_count`` (total nested
    docs) rides the sub-agg job as an Observation — no extra pass.

    Supported inside: metric sub-aggs on ``path.field`` columns, and
    ONE ``terms`` bucket whose own sub-aggs may be metrics plus
    ``reverse_nested`` (doc_count = parents with >=1 element in the
    bucket — a count_distinct on the parent id riding the same
    groupBy). Deeper nesting is a named error.

    Reference parity: the reference stores labels nested under
    tickets (src/sync_service.py label embedding) and its saved
    queries facet on them — this is the aggs half of the existing
    ``nested`` query leaf (plans/es_dsl.py)."""
    from pyspark.sql.types import ArrayType, StructType

    try:
        ftype = df.schema[path].dataType
    except KeyError:
        # ES: nested on an unmapped path aggregates nothing
        return {"doc_count": 0}
    if not (isinstance(ftype, ArrayType)
            and isinstance(ftype.elementType, StructType)):
        raise DslError(
            f"nested path {path!r} is not an array-of-object column")
    if "__pid" in df.columns or "__pid" in ftype.elementType.names:
        raise DslError("nested path collides with the reserved __pid")
    ex = (
        df.withColumn("__pid", F.monotonically_increasing_id())
        .select("__pid", F.explode(path).alias("__e"))
        .select("__pid", F.col("__e.*"))
    )
    env: dict[str, Any] = {}
    sub = sub or {}
    metrics: dict = {}
    bucket_name = None
    for name, spec in sub.items():
        if not isinstance(spec, dict):
            raise DslError(f"aggregation {name!r} must be an object")
        kind = next((k for k in spec
                     if k not in ("aggs", "aggregations")), None)
        if kind == "terms":
            if bucket_name is not None:
                raise DslError(
                    "one bucket sub-aggregation per nested scope is "
                    "supported"
                )
            bucket_name = name
        elif kind in _METRICS or kind in ("stats", "percentiles",
                                          "missing"):
            metrics[name] = spec
        else:
            raise DslError(
                f"unsupported sub-aggregation kind {kind!r} under "
                "nested (metrics, or one terms bucket)"
            )
    from pyspark.sql import Observation

    obs = Observation()
    exo = ex.observe(obs, F.count(F.lit(1)).alias("n"))
    if bucket_name is None:
        # _metric_cols key-checks each body
        mstripped = _strip_nested_prefix(path, metrics)
        if mstripped:
            row = exo.agg(*_metric_cols(mstripped)).collect()[0]
            env.update(_metric_envelope(row, mstripped))
            env["doc_count"] = obs.get["n"]
        else:
            env["doc_count"] = ex.count()
        return env
    if metrics:
        raise DslError(
            "metrics beside a terms bucket inside nested are not "
            "supported (put them under the terms bucket)"
        )
    tspec = sub[bucket_name]
    tbody = dict(next(iter(
        v for k, v in tspec.items() if k == "terms")))
    check_agg_keys("terms", tbody)
    tsub = tspec.get("aggs") or tspec.get("aggregations") or {}
    tfield = str(tbody.get("field", ""))
    if not tfield.startswith(path + "."):
        raise DslError(
            f"nested terms must address fields under {path!r} "
            f"(got {tfield!r})"
        )
    tbody["field"] = tfield[len(path) + 1:]
    reverse: list[str] = []
    tmetrics: dict = {}
    for name, spec in tsub.items():
        kind = next((k for k in spec
                     if k not in ("aggs", "aggregations")), None)
        if kind == "reverse_nested":
            check_agg_keys("reverse_nested", spec[kind])
            if spec.get("aggs") or spec.get("aggregations"):
                raise DslError(
                    "sub-aggregations under reverse_nested are not "
                    "supported"
                )
            reverse.append(name)
        else:
            tmetrics[name] = spec
    tmetrics = _strip_nested_prefix(path, tmetrics)
    size = int(tbody.get("size", 10))
    min_dc = int(tbody.get("min_doc_count", 1))
    key = bucket_key("terms", tbody)
    grouped = (
        exo.filter(key.isNotNull())
        .groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"),
             *[F.count_distinct(F.col("__pid")).alias(f"__rn|{r}")
               for r in reverse],
             *_metric_cols(tmetrics))
    )
    if min_dc > 1:
        grouped = grouped.filter(F.col("doc_count") >= min_dc)
    rows = grouped.orderBy(
        *_terms_order(tbody, tmetrics)).limit(size).collect()
    buckets = []
    for r in rows:
        b = {"key": _key_envelope(r["key"]),
             "doc_count": r["doc_count"],
             **_metric_envelope(r, tmetrics)}
        for rn in reverse:
            b[rn] = {"doc_count": r[f"__rn|{rn}"]}
        buckets.append(b)
    env["doc_count"] = obs.get["n"]
    env[bucket_name] = {
        "doc_count_error_upper_bound": 0,
        "buckets": buckets,
    }
    return env



#: Metric kinds that compile to aliased aggregate Columns and can
#: therefore share ONE ``df.agg`` job (the run_aggs top-level fusion;
#: r15 also fuses the children/parent scope-switch's doc_count into
#: the same job).
_FUSABLE_METRIC_KINDS = (
    *_METRICS, "stats", "percentiles", "missing", "extended_stats",
    "percentile_ranks", "weighted_avg", "scripted_metric",
)


def _agg_kind(spec):
    """The agg-type key of one agg spec: the single key that is not
    ``aggs``/``aggregations``/``meta``. ES JSON key order is
    client-controlled, so ``meta`` (or the sub-``aggs`` block) may
    legally precede the type — ``next(iter(spec))`` would mis-route
    those specs. Returns None when the spec is malformed (zero or
    several type keys); callers treat that as "not this partition" and
    the main dispatcher raises the named error."""
    if not isinstance(spec, dict):
        return None
    kinds = [k for k in spec if k not in ("aggs", "aggregations", "meta")]
    return kinds[0] if len(kinds) == 1 else None


def _strip_meta(sub_aggs):
    """Drop ``meta`` keys from sub-agg specs recursively — accepted
    and ignored below the top level (it is pure client metadata; the
    top-level echo is the part Kibana reads back)."""
    if not isinstance(sub_aggs, dict):
        return sub_aggs
    out = {}
    for name, spec in sub_aggs.items():
        if isinstance(spec, dict):
            spec = {k: (_strip_meta(v) if k in ("aggs", "aggregations")
                        else v)
                    for k, v in spec.items() if k != "meta"}
        out[name] = spec
    return out



_METRIC_KINDS = (*_METRICS, "stats", "percentiles", "missing",
                 "extended_stats", "percentile_ranks", "weighted_avg",
                 "scripted_metric", "filter")


def _has_bucket_subs(sub) -> bool:
    """True when any sub-agg is a bucket kind (needs scope recursion
    rather than the one-job gated-metric path; `filter` counts as a
    metric here because it rides the parent job gated)."""
    return any(
        isinstance(s, dict)
        and next((x for x in s
                  if x not in ("aggs", "aggregations", "meta")),
                 None) not in _METRIC_KINDS
        for s in (sub or {}).values()
    )


def _apply_moving_percentiles(
    df: DataFrame, kind: str, body: dict, sub: dict,
    rows: list, buckets: list, movpct: dict,
) -> None:
    """ES ``moving_percentiles`` under a (date_)histogram (r14, r13
    verdict #5): per bucket, the percentiles of the raw values in the
    sliding bucket window ``[i - window + shift, i + shift)`` — the
    same window convention as ``moving_fn``.

    ES merges the window's per-bucket t-digests; this engine computes
    the EXACT interpolated percentile over the same value set — the
    same documented exactness divergence (strictly more accurate) the
    ``percentiles`` metric carries. ``buckets_path`` must name a
    sibling ``percentiles`` sub-agg (ES's contract), whose field and
    percents configure the pipeline.

    Spark shape — one auxiliary job, in-plan: each row joins its
    bucket ORDINAL (a bucket-count-sized broadcast), explodes into
    the ≤``window`` target ordinals it contributes to, and one
    groupBy computes every percentile per target. Window semantics
    are over bucket POSITIONS (ES's), so gap-filled zero buckets
    count as positions. The explode factor is the window length —
    bounded, never corpus²."""
    from pyspark.sql.types import LongType, StructField, StructType

    keys = [r["key"] for r in rows]
    key_col = bucket_key(kind, body)
    for pname, spec in movpct.items():
        pb = spec["moving_percentiles"]
        check_agg_keys("moving_percentiles", pb)
        window = pb.get("window")
        if isinstance(window, bool) or not isinstance(window, int) \
                or window < 1:
            raise DslError(
                "moving_percentiles requires a positive integer "
                "window")
        shift = int(pb.get("shift", 0))
        ref = str(pb.get("buckets_path", ""))
        target = sub.get(ref)
        if not (isinstance(target, dict)
                and _agg_kind(target) == "percentiles"):
            raise DslError(
                "moving_percentiles buckets_path must name a sibling "
                f"percentiles sub-aggregation (got {ref!r})")
        tbody = target["percentiles"]
        if tbody.get("field") is None:
            raise DslError(
                "moving_percentiles needs a field-sourced "
                "percentiles target (script sources are not "
                "re-readable here)")
        percents = [float(p)
                    for p in tbody.get("percents", _DEFAULT_PERCENTS)]
        if not keys:
            continue
        src = _metric_source(tbody)
        spark = df.sparkSession
        # Arrow-backed like every other local relation (localrel.py);
        # the key type comes from the frame the keys were read from,
        # so the broadcast-join key matches without inference.
        kdf = local_frame(
            spark, [(k, i) for i, k in enumerate(keys)],
            StructType([
                df.select(key_col.alias("__mp_key")).schema[0],
                StructField("__mp_j", LongType()),
            ]))
        contrib = (
            df.filter(key_col.isNotNull() & src.isNotNull())
            .select(key_col.alias("__mp_key"),
                    src.cast("double").alias("__mp_v"))
            .join(F.broadcast(kdf), on="__mp_key")
            # row in bucket j contributes to every window position
            # i with i-window+shift <= j < i+shift
            .select(
                F.explode(F.sequence(
                    F.col("__mp_j") - F.lit(shift) + F.lit(1),
                    F.col("__mp_j") - F.lit(shift) + F.lit(window),
                )).alias("__mp_i"),
                "__mp_v")
            .filter((F.col("__mp_i") >= 0)
                    & (F.col("__mp_i") <= len(keys) - 1))
        )
        agg = contrib.groupBy("__mp_i").agg(
            *[F.percentile(F.col("__mp_v"), F.lit(p / 100.0))
              .alias(f"p{j}") for j, p in enumerate(percents)])
        got = {int(r["__mp_i"]):
               {str(p): r[f"p{j}"] for j, p in enumerate(percents)}
               for r in agg.collect()}
        for i, b in enumerate(buckets):
            if i in got:
                b[pname] = {"values": got[i]}


def _apply_cumulative_cardinality(
    df: DataFrame, kind: str, body: dict, sub: dict,
    buckets: list, cum_cards: dict,
) -> None:
    """ES ``cumulative_cardinality`` under a (date_)histogram — EXACT,
    via the first-occurrence histogram instead of ES's merged HLL
    sketches (the same exactness divergence as ``cardinality``).

    The running distinct count at bucket *i* equals the number of
    values whose FIRST bucket is ≤ *i* — so one value-level groupBy
    (min bucket per value) plus one tiny bucket-level groupBy replace
    any per-bucket distinct state. Two shuffles, both shrinking:
    value-cardinality then bucket-cardinality rows. At 100 TB the
    value groupBy is the same shuffle a plain cardinality would need;
    nothing about the cumulative form adds state.

    ``buckets_path`` must name a sibling ``cardinality`` sub-agg (ES's
    contract); the pipeline re-reads that agg's FIELD, so a
    script-sourced cardinality is a named 400. ``min_doc_count`` > 1
    drops non-empty buckets, which would silently desync the running
    count from ES (a value first seen in a dropped bucket still rides
    later sketches there) — named 400."""
    mdc = body.get("min_doc_count")
    if mdc is not None and int(mdc) > 1:
        raise DslError(
            "cumulative_cardinality under min_doc_count > 1 is "
            "unimplemented (dropped buckets would desync the running "
            "distinct count)"
        )
    key = bucket_key(kind, body)
    for pname, spec in cum_cards.items():
        pb = spec["cumulative_cardinality"]
        check_agg_keys("cumulative_cardinality", pb)
        path = str(pb.get("buckets_path") or "")
        target = sub.get(path)
        if target is None or _agg_kind(target) != "cardinality":
            raise DslError(
                f"cumulative_cardinality buckets_path must name a "
                f"sibling cardinality sub-agg (got {path!r})"
            )
        cb = target["cardinality"]
        field = cb.get("field")
        if field is None:
            raise DslError(
                "cumulative_cardinality over a script-sourced "
                "cardinality is unimplemented"
            )
        firsts = (
            df.filter(key.isNotNull() & F.col(field).isNotNull())
            .groupBy(F.col(field).alias("__v"))
            .agg(F.min(key).alias("__k"))
            .groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        by_key = {_key_envelope(r["__k"]): int(r["__n"]) for r in firsts}
        run = 0
        for b in buckets:
            run += by_key.get(b["key"], 0)
            b[pname] = {"value": run}


#: Top-level agg kinds whose first job consumes the whole scope (a
#: grouping or a global aggregate, never a ``limit`` below one), so
#: that job can observe the scope's row count for ``run_aggs``'
#: ``scope_obs``.
_WHOLE_SCOPE_KINDS = frozenset(
    ("terms", "histogram", "date_histogram", *_FUSABLE_METRIC_KINDS))


def observed(obs) -> dict | None:
    """The metrics ``obs`` collected, or None when it holds none: it
    was never attached to a frame, or AQE replaced the observed stage.
    An empty grouped result (an empty scope, or one whose keys are all
    null) propagates as an empty relation that drops the
    CollectMetrics node, and pyspark 4.1's ``Observation.get`` then
    fails in ``toPyRow`` with a Java ``AssertionError``. None is not
    0: the caller counts instead."""
    from py4j.protocol import Py4JJavaError

    try:
        return obs.get
    except AssertionError:  # pyspark's NO_OBSERVE_BEFORE_GET
        return None
    except Py4JJavaError as ex:
        if ex.java_exception.getClass().getName() != \
                "java.lang.AssertionError":
            raise
        return None


def run_aggs(
    df: DataFrame,
    aggs: dict,
    schema_fields: list[str] | None = None,
    background: DataFrame | None = None,
    background_pred: Column | None = None,
    relation_ctx: tuple | None = None,
    scope_obs=None,
) -> dict:
    """Execute an ES ``aggs`` section and assemble the documented
    response envelope: ``{name: {"buckets": [...]}}`` for bucket aggs,
    ``{name: {"value": v}}`` / stats object for metrics.

    ``background`` is the UNFILTERED table — ``significant_terms``
    contrasts the matched scope against it (the API layer passes the
    table's full DataFrame). ``background_pred`` is the predicate
    that produced ``df`` FROM ``background`` — ``significant_text``
    needs it to count both scopes in one tokenized scan (a flag
    column beats re-tokenizing the foreground).

    ``scope_obs`` (an ``Observation`` not yet attached) asks for the
    scope's row count ``n`` without a count job: when every top-level
    agg is one of ``_WHOLE_SCOPE_KINDS``, the first job observes it.
    Read it with :func:`observed`; None there means count ``df``."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _norm_schema_fields,
    )

    schema_fields = _norm_schema_fields(schema_fields)
    if not isinstance(aggs, dict):
        raise DslError("aggs must be an object")
    out: dict[str, Any] = {}
    if not (aggs and all(_agg_kind(s) in _WHOLE_SCOPE_KINDS
                         for s in aggs.values())):
        scope_obs = None

    def first_input() -> DataFrame:
        # the observation rides the first job only: a later job over
        # the same frame could fulfil it from part of the scope after
        # AQE dropped it from the first one
        nonlocal scope_obs
        if scope_obs is None:
            return df
        obs, scope_obs = scope_obs, None
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    # all TOP-LEVEL metric aggs share one job
    top_metrics = {
        n: s for n, s in aggs.items()
        if _agg_kind(s) in _FUSABLE_METRIC_KINDS
    }
    if top_metrics:
        row = first_input().agg(*_metric_cols(top_metrics)).collect()[0]
        out.update(_metric_envelope(row, top_metrics))

    sibling_pipes: dict[str, tuple[str, dict]] = {}
    for name, spec in aggs.items():
        if name in top_metrics:
            continue
        if not isinstance(spec, dict):
            raise DslError(f"aggregation {name!r} must be an object")
        # sub-agg `meta` is accepted-and-ignored (pure client metadata
        # — it cannot change results; the top-level echo below is what
        # Kibana reads back)
        sub = _strip_meta(spec.get("aggs") or spec.get("aggregations"))
        # `meta` is ES's client-metadata echo (Kibana stamps every agg
        # with one) — not an agg type
        kinds = [k for k in spec
                 if k not in ("aggs", "aggregations", "meta")]
        if len(kinds) != 1:
            raise DslError(f"aggregation {name!r} must have exactly one type")
        kind = kinds[0]
        body = spec[kind]
        if kind in _SIBLING_PIPELINES:
            # deferred: pipeline reductions run over the computed
            # sibling envelopes after the main pass (free — no job)
            sibling_pipes[name] = (kind, body)
            continue
        if kind == "string_stats":
            # r9: top-level only (the per-bucket char explode would
            # hide a corpus-sized shuffle — named 400 via the metric
            # dispatcher when nested)
            if sub:
                raise DslError(
                    "string_stats takes no sub-aggregations")
            out[name] = _string_stats_envelope(df, body)
            continue
        if kind == "t_test":
            if sub:
                raise DslError("t_test takes no sub-aggregations")
            out[name] = _t_test_envelope(df, body)
            continue
        if kind == "matrix_stats":
            if sub:
                raise DslError("matrix_stats takes no sub-aggregations")
            out[name] = _matrix_stats_envelope(df, body)
            continue
        if kind == "geo_line":
            # r13 late: ES's track/path agg — points connected into a
            # GeoJSON LineString ordered by a sort field. ONE
            # sort_array(collect_list(struct)) agg job; the transfer
            # is bounded by ES's own 10k size cap, truncation is
            # flagged via properties.complete exactly like ES.
            if sub:
                raise DslError("geo_line takes no sub-aggregations")
            check_agg_keys(kind, body)
            out[name] = _geo_line_envelope(df, body, schema_fields)
            continue
        if kind in ("geo_bounds", "geo_centroid"):
            # r13 late: geo metric aggs — ONE df.agg job each, pure
            # conditional min/max/avg column algebra (ES's
            # GeoBounds/GeoCentroid aggregators restated; wrap choice
            # is a driver-side closed form over 6 aggregates)
            if sub:
                raise DslError(f"{kind} takes no sub-aggregations")
            check_agg_keys(kind, body)
            out[name] = (_geo_bounds_envelope(df, body, schema_fields)
                         if kind == "geo_bounds"
                         else _geo_centroid_envelope(
                             df, body, schema_fields))
            continue
        check_agg_keys(kind, body)
        has_bucket_sub = any(
            isinstance(s, dict)
            and next((x for x in s if x not in ("aggs", "aggregations")),
                     None) in _LEVEL_KINDS
            for s in (sub or {}).values()
        )
        if kind in _LEVEL_KINDS and has_bucket_sub:
            # multi-level bucket chain (r6): ONE shuffle PER LEAF
            # CHAIN on its composite key, tree assembled from the
            # flat frame(s). Sibling bucket sub-aggs (r7) become
            # separate chains whose assemblies truncate the shared
            # ancestor levels identically (same metrics ride every
            # chain), then graft onto one response tree by bucket
            # key. Each collect is HARD-BOUNDED (r6 advisory): the
            # limit(B+1) caps the transfer and the overflow becomes
            # a named error, not a driver OOM.
            chains = _split_chains(name, kind, body, sub)
            trees = []
            for levels, per_level, ths in chains:
                frame = nested_levels_frame(first_input(), levels,
                                            per_level)
                rows = frame.limit(_NESTED_FLAT_BUDGET + 1).collect()
                if len(rows) > _NESTED_FLAT_BUDGET:
                    raise DslError(
                        f"nested aggregation {name!r} produces more "
                        f"than {_NESTED_FLAT_BUDGET} flat buckets "
                        "before terms-size truncation — narrow the "
                        "levels or use a composite aggregation (the "
                        "paged bucket API) for unbounded key domains"
                    )
                tree = _assemble_levels(rows, levels, per_level, 0)
                if ths:
                    _attach_chain_top_hits(
                        df, frame, rows, tree, levels, ths)
                trees.append((levels, tree))
            primary_levels, merged = trees[0]
            for levels_s, tree_s in trees[1:]:
                d = next(
                    i for i in range(min(len(primary_levels),
                                         len(levels_s)))
                    if primary_levels[i][0] != levels_s[i][0]
                )
                _graft_sibling(merged, tree_s, levels_s, 0, d)
            out[name] = merged
        elif kind in _GRID_AGGS:
            # r13 (r12 verdict stretch #9): per-cell doc counts over
            # geohash cells or (r13 late) OSM slippy-map tiles ("z/x/y"
            # keys, the Kibana Maps default grid) — the cell is EXACT
            # bit arithmetic (functions/geo.py), one groupBy shuffle,
            # buckets by (doc_count desc, key asc) like ES; geotile
            # `bounds` is unlisted in _AGG_BODY_KEYS → named 400
            # (boundary-stability note on functions/geo.py:geotile).
            # Sub-aggregations are a named 400 (bucket chains belong to
            # the nested-levels machinery; grafting geo cells there is
            # future work, and silently dropping subs would return
            # wrong envelopes).
            from sql_database_to_elastic_datalake_spark.functions import (
                geo,
            )
            from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
                _geo_field_cols,
            )

            cell, lo, hi, default, why = _GRID_AGGS[kind]
            if sub:
                raise DslError(
                    f"{kind} sub-aggregations are not supported")
            field = body.get("field")
            if not field:
                raise DslError(f"{kind} requires a field")
            precision = body.get("precision", default)
            if isinstance(precision, bool) or not isinstance(
                    precision, int) or not lo <= precision <= hi:
                raise DslError(
                    f"{kind} precision must be an integer in "
                    f"[{lo}, {hi}]{why}")
            size = body.get("size", 10000)
            if isinstance(size, bool) or not isinstance(size, int) \
                    or size < 1:
                raise DslError(f"{kind} size must be a positive "
                               "integer")
            lat_c, lon_c = _geo_field_cols(
                field, F.col, schema_fields or df.columns,
                schema=df.schema)
            rows = (
                df.filter(lat_c.isNotNull() & lon_c.isNotNull())
                .groupBy(getattr(geo, cell)(lat_c, lon_c, precision)
                         .alias("key"))
                .agg(F.count(F.lit(1)).alias("doc_count"))
                .orderBy(F.col("doc_count").desc(), F.col("key").asc())
                .limit(size)
                .collect()
            )
            out[name] = {"buckets": [
                {"key": r["key"], "doc_count": r["doc_count"]}
                for r in rows
            ]}
        elif kind == "geo_distance":
            # r13 late: distance-ring buckets — REWRITTEN into the
            # range machinery over a materialized haversine column,
            # so keyed form, sub-aggregations (bucket AND metric),
            # and the bucket envelope all come from the one
            # implementation. Distances and from/to are in the
            # requested ES unit (agg default: metres).
            from sql_database_to_elastic_datalake_spark.functions.geo import (
                haversine_km,
                parse_distance_km,
            )
            from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
                _geo_field_cols,
                _parse_geo_point,
            )

            field = body.get("field")
            if not field:
                raise DslError("geo_distance requires a field")
            if body.get("origin") is None:
                raise DslError("geo_distance requires an origin")
            if body.get("distance_type", "arc") != "arc":
                raise DslError(
                    "unsupported geo_distance distance_type "
                    f"{body['distance_type']!r} (arc only)")
            ranges = body.get("ranges")
            if not isinstance(ranges, list) or not ranges:
                raise DslError("geo_distance requires ranges")
            unit = body.get("unit", "m")
            try:
                per_unit_km = parse_distance_km(f"1{unit}")
            except ValueError:
                raise DslError(
                    f"unknown geo_distance unit {unit!r}") from None
            plat, plon = _parse_geo_point(body["origin"])
            lat_c, lon_c = _geo_field_cols(
                field, F.col, schema_fields or df.columns,
                schema=df.schema)
            tmp = "__geo_distance_band"
            scoped = df.withColumn(
                tmp,
                haversine_km(lat_c, lon_c, F.lit(plat), F.lit(plon))
                * F.lit(1.0 / per_unit_km))
            inner: dict[str, Any] = {
                "range": {"field": tmp, "ranges": ranges,
                          **({"keyed": body["keyed"]}
                             if "keyed" in body else {})}}
            if sub:
                inner["aggs"] = (spec.get("aggs")
                                 or spec.get("aggregations"))
            res = run_aggs(
                scoped, {name: inner},
                schema_fields=[*(schema_fields or df.columns), tmp],
                background=background)
            out[name] = res[name]
        elif kind == "terms":
            top_hits = {
                n: s for n, s in (sub or {}).items()
                if _agg_kind(s) == "top_hits"
            }
            parent_pipes = {
                n: s for n, s in (sub or {}).items()
                if _agg_kind(s) in _PARENT_PIPELINES
            }
            top_mets = {
                n: s for n, s in (sub or {}).items()
                if _agg_kind(s) == "top_metrics"
            }
            metrics = {n: s for n, s in (sub or {}).items()
                       if n not in top_hits and n not in parent_pipes
                       and n not in top_mets}
            # bucket_key, not the raw column: a `missing` value means
            # null-key docs belong to a bucket and count in the total;
            # include/exclude scopes the total the same way it scopes
            # the buckets (ES's sum_other counts only included terms).
            # The bucket job observes it; a count job only when that
            # observation comes back empty.
            tkey = bucket_key("terms", body)
            tpred = tkey.isNotNull()
            ie = _include_exclude_pred(tkey, body)
            if ie is not None:
                tpred = tpred & ie
            from pyspark.sql import Observation

            tobs = Observation()
            src = first_input().observe(
                tobs, F.count_if(tpred).alias("t"))
            rows = terms_frame(src, body, metrics).collect()
            returned = sum(r["doc_count"] for r in rows)
            seen = observed(tobs)
            total = seen["t"] if seen is not None \
                else df.filter(tpred).count()
            buckets = [
                {"key": _key_envelope(r["key"]),
                 "doc_count": r["doc_count"],
                 **_metric_envelope(r, metrics)}
                for r in rows
            ]
            for th_name, th_spec in top_hits.items():
                keys = [r["key"] for r in rows]
                th_body = th_spec["top_hits"]
                hit_rows = top_hits_frame(
                    df, bucket_key("terms", body), keys, th_body
                ).collect()
                # the `_source` spec restricts the RETURNED fields (r6
                # advisory: listed-but-unapplied would silently hand a
                # saved query extra fields); the frame itself keeps
                # every column — the bucket key below must stay
                # readable regardless of the projection
                from sql_database_to_elastic_datalake_spark.plans.search \
                    import resolve_source_columns

                th_src = resolve_source_columns(
                    [c for c in df.columns], th_body.get("_source"))
                by_key: dict = {}
                for hr in hit_rows:
                    # buckets carry _key_envelope-converted keys
                    # (datetime → epoch millis), so the lookup table
                    # must be keyed the same way — raw datetime keys
                    # here made top_hits under a timestamp terms agg
                    # attach empty hits arrays (r5 advisory); a null
                    # field value belongs to the `missing` bucket
                    raw = hr[body["field"]]
                    if raw is None:
                        raw = body.get("missing")
                    by_key.setdefault(_key_envelope(raw), []).append({
                        "_source": {c: hr[c] for c in hr.asDict()
                                    if c != "__rn" and c in th_src}
                    })
                for b in buckets:
                    b[th_name] = {"hits": {
                        "total": {"value": b["doc_count"],
                                  "relation": "eq"},
                        "hits": by_key.get(b["key"], []),
                    }}
            for tm_name, tm_spec in top_mets.items():
                # Lens's "last value per bucket": the SAME window
                # top-k plan as top_hits (WindowGroupLimit
                # pre-truncation, isin pushdown to the returned
                # buckets), projected to sort + metric fields
                tm_body = tm_spec["top_metrics"]
                check_agg_keys("top_metrics", tm_body)
                fields, sf, sd, size = _top_metrics_spec(tm_body)
                keys = [r["key"] for r in rows]
                hit_rows = top_hits_frame(
                    df.filter(F.col(sf).isNotNull()),
                    bucket_key("terms", body), keys,
                    {"size": size, "sort": [{sf: sd}]},
                ).collect()
                by_key: dict = {}
                for hr in hit_rows:
                    raw = hr[body["field"]]
                    if raw is None:
                        raw = body.get("missing")
                    by_key.setdefault(_key_envelope(raw), []).append(hr)
                for b in buckets:
                    b[tm_name] = {"top": _top_metrics_rows(
                        by_key.get(b["key"], []), fields, sf)}
            if parent_pipes:
                # the script family (bucket_script/selector/sort —
                # Kibana TSVB's "math" panels) runs over the RETURNED
                # terms buckets, like ES's reduce phase; the running
                # family needs histogram ordering and names its error
                buckets = _apply_parent_pipelines(
                    buckets, parent_pipes, ordered=False)
            out[name] = {
                "doc_count_error_upper_bound": 0,  # exact (divergence note)
                "sum_other_doc_count": int(total - returned),
                "buckets": buckets,
            }
        elif kind in ("histogram", "date_histogram"):
            sub = sub or {}
            parent_pipes = {
                n: s for n, s in sub.items()
                if _agg_kind(s) in _PARENT_PIPELINES
            }
            cum_cards = {
                n: s for n, s in sub.items()
                if _agg_kind(s) == "cumulative_cardinality"
            }
            # r13 late: the rate agg — ES allows it only under a
            # date_histogram (or composite date source). Each rate
            # rewrites to its sum/value_count component riding the
            # same frame; the per-bucket division by
            # bucket_span/unit happens driver-side where the bucket
            # key (and so the CALENDAR span — 28 vs 31-day months,
            # DST days) is known.
            rates = {
                n: s for n, s in sub.items()
                if _agg_kind(s) == "rate"
            }
            if rates and kind != "date_histogram":
                raise DslError(
                    "rate can only be used inside a date_histogram "
                    "aggregation (ES's own constraint)")
            # r14 (r13 verdict #5): moving_percentiles — percentiles
            # of the WINDOW'S RAW VALUES per bucket (ES merges the
            # window's t-digests; this engine computes the exact
            # interpolated percentile over the same value set — the
            # same documented exactness divergence as the percentiles
            # metric). Runs as ONE auxiliary explode+groupBy job
            # after the bucket keys are known (_moving_percentiles).
            movpct = {
                n: s for n, s in sub.items()
                if _agg_kind(s) == "moving_percentiles"
            }
            sub = {n: s for n, s in sub.items()
                   if n not in parent_pipes and n not in cum_cards
                   and n not in rates and n not in movpct}
            rate_comp: dict[str, str | None] = {}
            for n, s in rates.items():
                rb = s["rate"]
                check_agg_keys("rate", rb)
                mode = rb.get("mode", "sum")
                if mode not in ("sum", "value_count"):
                    raise DslError(
                        f"unknown rate mode {mode!r}")
                if rb.get("field") is not None:
                    mk = ("sum" if mode == "sum" else "value_count")
                    # synthetic component name — uniquified against
                    # the user's agg names so a user agg that happens
                    # to share the name is neither overwritten nor
                    # stripped from the envelope (r14, ADVICE)
                    comp = f"__rate_{n}"
                    while comp in sub:
                        comp = f"_{comp}"
                    sub[comp] = {mk: {"field": rb["field"]}}
                    rate_comp[n] = comp
                else:
                    rate_comp[n] = None  # doc_count-based rate
            rows = sorted(
                _histogram_buckets(first_input(), kind, body, sub)
                .collect(),
                key=lambda r: r["key"])
            buckets = []
            # strip ONLY the tracked synthetic rate components, not
            # anything that merely looks like one — a user sub-agg
            # literally named "__rate_x" stays visible (r14, ADVICE)
            rate_synth = {c for c in rate_comp.values()
                          if c is not None}
            for r in rows:
                vis = {n: s for n, s in sub.items()
                       if n not in rate_synth}
                b = {"key": _key_envelope(r["key"]),
                     "doc_count": r["doc_count"],
                     **_metric_envelope(r, vis)}
                if isinstance(r["key"], _dt.datetime):
                    b["key_as_string"] = _key_as_string(r["key"], body)
                for n, comp in rate_comp.items():
                    if comp is None:
                        raw = float(r["doc_count"])
                    else:
                        v = r[comp]
                        raw = float(v) if v is not None else 0.0
                    unit = rates[n]["rate"].get("unit")
                    if unit is None:
                        # ES default: the rate unit IS the histogram
                        # interval — the value is the bucket's own
                        # sum/count
                        b[n] = {"value": raw}
                    else:
                        span = _bucket_span_seconds(r["key"], body)
                        b[n] = {"value": raw * _rate_unit_seconds(unit)
                                / span if span else 0.0}
                buckets.append(b)
            if movpct:
                _apply_moving_percentiles(
                    df, kind, body, sub, rows, buckets, movpct)
            if cum_cards:
                # applied BEFORE the generic pipelines so a
                # bucket_script/selector can reference the running
                # count through buckets_path, like ES's reduce order
                _apply_cumulative_cardinality(
                    df, kind, body, sub, buckets, cum_cards)
            if parent_pipes:
                buckets = _apply_parent_pipelines(
                    buckets, parent_pipes, ordered=True)
            if body.get("keyed"):
                # ES `keyed: true`: buckets as an object — the
                # date form keys by key_as_string, the numeric form
                # by the key's string rendering; each bucket keeps
                # its inline key fields like ES
                out[name] = {"buckets": {
                    str(b.get("key_as_string", b["key"])): b
                    for b in buckets
                }}
            else:
                out[name] = {"buckets": buckets}
        elif kind == "range":
            if body.get("field") is None or not body.get("ranges"):
                raise DslError(
                    "range aggregation requires field and ranges")
            if sub:
                # sub-trees under range bands (Kibana's banded
                # drill-down): recurse per band over the band
                # predicate — one job set per band, ES's cost.
                # r13 late: metric subs take this path too (they
                # used to be a named 400 pointing at the filter-agg
                # form; the per-band recursion handles them for free
                # and geo_distance rings inherit it)
                buckets = []
                c = F.col(body["field"])
                for r in body["ranges"]:
                    pred = c.isNotNull()
                    parts = []
                    if r.get("from") is not None:
                        pred = pred & (c >= F.lit(r["from"]))
                        parts.append(str(r["from"]))
                    else:
                        parts.append("*")
                    if r.get("to") is not None:
                        pred = pred & (c < F.lit(r["to"]))
                        parts.append(str(r["to"]))
                    else:
                        parts.append("*")
                    scoped = df.filter(pred)
                    b = {"doc_count": scoped.count()}
                    if r.get("from") is not None:
                        b["from"] = r["from"]
                    if r.get("to") is not None:
                        b["to"] = r["to"]
                    b["key"] = r.get("key", "-".join(parts))
                    b.update(run_aggs(scoped, sub,
                                      schema_fields=schema_fields,
                                      background=background))
                    buckets.append(b)
                out[name] = {"buckets": ({b.pop("key"): b
                                          for b in buckets}
                                         if body.get("keyed")
                                         else buckets)}
                continue
            row = range_frame(df, body, sub).collect()[0]
            buckets = []
            for i, r in enumerate(body["ranges"]):
                b: dict[str, Any] = {"doc_count": row[f"band{i}.doc_count"]}
                parts = []
                if r.get("from") is not None:
                    b["from"] = r["from"]
                    parts.append(str(r["from"]))
                else:
                    parts.append("*")
                if r.get("to") is not None:
                    b["to"] = r["to"]
                    parts.append(str(r["to"]))
                else:
                    parts.append("*")
                b["key"] = r.get("key", "-".join(parts))
                buckets.append(b)
            if body.get("keyed"):
                # ES keyed ranges drop the inline "key" (it IS the
                # object key) but keep from/to
                out[name] = {"buckets": {
                    b.pop("key"): b for b in buckets
                }}
            else:
                out[name] = {"buckets": buckets}
        elif kind == "ip_range":
            # r14 (r13 verdict #7): each band [from, to) or CIDR mask
            # becomes two numeric comparisons over the parsed long —
            # all bands ride ONE shared conditional-count agg job,
            # exactly the plain range agg's cost. ES semantics: from
            # inclusive, to exclusive, mask = [network, network +
            # 2^(32-prefix)), host bits masked off. IPv6 literals are
            # named 400s (128-bit two-long arithmetic, unbuilt).
            from sql_database_to_elastic_datalake_spark.functions.ip \
                import int_to_ipv4, ip_to_long, ipv4_to_int, parse_cidr

            if body.get("field") is None \
                    or not isinstance(body.get("ranges"), list) \
                    or not body["ranges"]:
                raise DslError(
                    "ip_range aggregation requires field and a "
                    "non-empty ranges list")
            if sub:
                raise DslError(
                    "sub-aggregations under ip_range are not "
                    "supported (use the filter-agg form with CIDR "
                    "terms)")
            ipn = ip_to_long(F.col(body["field"]).cast("string"))
            bands = []
            for r in body["ranges"]:
                if not isinstance(r, dict):
                    raise DslError(
                        f"malformed ip_range entry {r!r}")
                unknown = sorted(set(r) - {"from", "to", "mask",
                                           "key"})
                if unknown:
                    raise DslError(
                        f"unsupported ip_range entry keys: {unknown}")
                try:
                    if "mask" in r:
                        if "from" in r or "to" in r:
                            raise DslError(
                                "an ip_range entry takes mask OR "
                                "from/to, not both")
                        lo, hi = parse_cidr(r["mask"])
                        frm = int_to_ipv4(lo)
                        to = (int_to_ipv4(hi) if hi <= 0xFFFFFFFF
                              else None)
                        key = r.get("key", str(r["mask"]))
                    else:
                        frm, to = r.get("from"), r.get("to")
                        lo = (ipv4_to_int(frm) if frm is not None
                              else None)
                        hi = (ipv4_to_int(to) if to is not None
                              else None)
                        key = r.get(
                            "key",
                            f"{frm if frm is not None else '*'}-"
                            f"{to if to is not None else '*'}")
                except ValueError as ex:
                    raise DslError(str(ex)) from None
                bands.append((key, frm, to, lo, hi))
            conds = []
            for i, (_, _, _, lo, hi) in enumerate(bands):
                pred = ipn.isNotNull()
                if lo is not None:
                    pred = pred & (ipn >= F.lit(lo))
                if hi is not None:
                    pred = pred & (ipn < F.lit(hi))
                conds.append(
                    F.sum(F.when(pred, 1).otherwise(0))
                    .cast("bigint").alias(f"band{i}"))
            row = df.agg(*conds).collect()[0]
            buckets = []
            for i, (key, frm, to, lo, hi) in enumerate(bands):
                b: dict[str, Any] = {"key": key,
                                     "doc_count": row[f"band{i}"]}
                if frm is not None:
                    b["from"] = frm
                if to is not None:
                    b["to"] = to
                buckets.append(b)
            if body.get("keyed"):
                out[name] = {"buckets": {b.pop("key"): b
                                         for b in buckets}}
            else:
                out[name] = {"buckets": buckets}
        elif kind == "date_range":
            row = range_frame(df, body, sub, is_date=True).collect()[0]

            def _dr_parse(v) -> _dt.datetime:
                if isinstance(v, (int, float)):
                    return _dt.datetime.fromtimestamp(
                        v / 1000, _dt.timezone.utc).replace(tzinfo=None)
                return _dt.datetime.fromisoformat(str(v))

            buckets = []
            for i, r in enumerate(body["ranges"]):
                b = {"doc_count": row[f"band{i}.doc_count"]}
                parts = []
                for end in ("from", "to"):
                    if r.get(end) is not None:
                        d = _dr_parse(r[end])
                        b[end] = _key_envelope(d)
                        b[f"{end}_as_string"] = _key_as_string(d, body)
                        parts.append(b[f"{end}_as_string"])
                    else:
                        parts.append("*")
                b["key"] = r.get("key", "-".join(parts))
                buckets.append(b)
            if body.get("keyed"):
                out[name] = {"buckets": {
                    b.pop("key"): b for b in buckets
                }}
            else:
                out[name] = {"buckets": buckets}
        elif kind == "composite":
            rows = composite_frame(df, body, sub).collect()
            src_names = [next(iter(s)) for s in body["sources"]]
            buckets = [
                {"key": {n: _key_envelope(r[n]) for n in src_names},
                 "doc_count": r["doc_count"],
                 **_metric_envelope(r, sub)}
                for r in rows
            ]
            env = {"buckets": buckets}
            if len(rows) == int(body.get("size", 10)) and buckets:
                # a full page may have more behind it: hand back the
                # resumption cursor exactly like ES
                env["after_key"] = buckets[-1]["key"]
            out[name] = env
        elif kind == "filters":
            specs = body.get("filters")
            anon = isinstance(specs, list)
            if _has_bucket_subs(sub):
                # bucket sub-trees under named filters: recurse per
                # filter over its compiled predicate
                fspecs = ({str(i): q for i, q in enumerate(specs)}
                          if anon else specs)
                if body.get("other_bucket") or \
                        body.get("other_bucket_key"):
                    raise DslError(
                        "other_bucket with bucket sub-aggregations is "
                        "not supported"
                    )
                fbuckets = {}
                for fname, q in (fspecs or {}).items():
                    scoped = df.filter(compile_dsl(
                        q, schema_fields=schema_fields))
                    env = {"doc_count": scoped.count()}
                    env.update(run_aggs(scoped, sub,
                                        schema_fields=schema_fields,
                                        background=background))
                    fbuckets[fname] = env
                out[name] = {"buckets": (list(fbuckets.values())
                                         if anon else fbuckets)}
                continue
            row = filters_frame(df, body, sub, schema_fields).collect()[0]
            bnames = [str(i) for i in range(len(specs))] if anon \
                else list(specs)
            if body.get("other_bucket") or body.get("other_bucket_key"):
                bnames.append(
                    str(body.get("other_bucket_key", "_other_")))

            def fbucket(nm: str) -> dict:
                b: dict[str, Any] = {"doc_count": row[f"{nm} doc_count"]}
                for mname, spec in (sub or {}).items():
                    mk = _agg_kind(spec)
                    if mk == "stats":
                        b[mname] = {
                            stat: row[f"{nm} {mname}.{stat}"]
                            for stat in ("count", "min", "max",
                                         "avg", "sum")
                        }
                    else:
                        b[mname] = {"value": row[f"{nm} {mname}"]}
                return b

            out[name] = {"buckets": (
                [fbucket(nm) for nm in bnames] if anon
                else {nm: fbucket(nm) for nm in bnames}
            )}
        elif kind == "filter":
            if _has_bucket_subs(sub):
                # bucket sub-aggs under filter (Kibana's filtered
                # panel): recurse over the filtered scope — one extra
                # job per sub-tree, exactly ES's cost
                pred = compile_dsl(body, schema_fields=schema_fields)
                scoped = df.filter(pred)
                env = {"doc_count": scoped.count()}
                env.update(run_aggs(scoped, sub,
                                    schema_fields=schema_fields,
                                    background=background))
            else:
                row = filter_frame(df, body, sub,
                                   schema_fields).collect()[0]
                env = {"doc_count": row["doc_count"]}
                env.update(_metric_envelope(row, sub))
            out[name] = env
        elif kind == "global":
            # ES's global bucket: sub-aggs see the WHOLE index, not
            # the query scope — faceted navigation's "totals" column.
            # Recurse on the unfiltered table; doc_count is one count
            # job (ES pays the same).
            if background is None:
                raise DslError(
                    "global needs the unfiltered table — this entry "
                    "point has no table context (use /search/advanced,"
                    " which passes it)"
                )
            if body not in ({}, None):
                raise DslError("global takes no options")
            genv: dict[str, Any] = {"doc_count": background.count()}
            if sub:
                genv.update(run_aggs(background, sub,
                                     schema_fields=schema_fields,
                                     background=background))
            out[name] = genv
        elif kind in ("sampler", "diversified_sampler"):
            # the cost-bounding wrapper: sub-aggs see at most
            # shard_size docs of the query scope (sampler_scope —
            # the deterministic-hash divergence is documented there).
            # The sample is a materialized local relation, so a
            # significant_text foreground flag is a membership
            # predicate on the sample's identity (bounded by
            # shard_size, pushdown-friendly) — the one-tokenized-scan
            # contract holds under the wrapper too.
            scoped = sampler_scope(
                df, body, diversified=kind == "diversified_sampler")
            senv: dict[str, Any] = {"doc_count": scoped.count()}
            if sub:
                sample_pred = None
                if background is not None and scoped.columns:
                    from pyspark.sql.types import (
                        ArrayType, BinaryType, StructType,
                    )

                    from sql_database_to_elastic_datalake_spark.operators.similarity import (  # noqa: E501
                        tiebreak_columns,
                    )

                    skeys = tiebreak_columns(scoped)
                    if skeys and skeys[0] == "id":
                        # the unique-by-construction id column: a
                        # plain In-membership identifies the sample
                        vals = [r["id"]
                                for r in scoped.select("id").collect()]
                        sample_pred = F.col("id").isin(vals) \
                            if vals else F.lit(False)
                    elif skeys:
                        # the lead tiebreak may be a NON-unique *_id
                        # foreign key — an isin() on it would count
                        # background rows sharing the key value as
                        # foreground and skew JLH. Identify sample
                        # rows by the FULL atomic tiebreak tuple
                        # (null-safe equality), width-bounded; a
                        # too-wide predicate leaves sample_pred None
                        # so significant_* raises its existing named
                        # 400 instead of returning skewed scores.
                        akeys = [
                            c for c in skeys
                            if not isinstance(
                                scoped.schema[c].dataType,
                                (ArrayType, StructType, BinaryType))
                        ]
                        rows = (scoped.select(*akeys).collect()
                                if akeys else [])
                        if not akeys:
                            pass
                        elif not rows:
                            sample_pred = F.lit(False)
                        elif len(rows) * len(akeys) <= 20_000:
                            sample_pred = None
                            for r in rows:
                                conj = None
                                for c in akeys:
                                    eq = F.col(c).eqNullSafe(
                                        F.lit(r[c]))
                                    conj = eq if conj is None \
                                        else conj & eq
                                sample_pred = conj \
                                    if sample_pred is None \
                                    else sample_pred | conj
                senv.update(run_aggs(scoped, sub,
                                     schema_fields=schema_fields,
                                     background=background,
                                     background_pred=sample_pred))
            out[name] = senv
        elif kind == "adjacency_matrix":
            # pairwise filter intersections (the Kibana graph panel):
            # N(N+1)/2 conditional aggregates in ONE job — the same
            # one-pass shape as the filters agg; empty intersections
            # are omitted like ES
            specs = body.get("filters")
            if not isinstance(specs, dict) or not specs:
                raise DslError(
                    "adjacency_matrix requires a named filters object")
            if sub:
                raise DslError(
                    "sub-aggregations under adjacency_matrix are not "
                    "supported"
                )
            sep = str(body.get("separator", "&"))
            from sql_database_to_elastic_datalake_spark.plans.es_dsl \
                import _ns

            # null-safe: a NULL predicate (missing field) must count
            # as no-match, not poison the pairwise AND
            preds = {
                n: _ns(compile_dsl(q, schema_fields=schema_fields))
                for n, q in specs.items()
            }
            names_am = sorted(preds)
            cells: list[tuple[str, Any]] = []
            for i, a in enumerate(names_am):
                cells.append((a, preds[a]))
                for b in names_am[i + 1:]:
                    cells.append((f"{a}{sep}{b}", preds[a] & preds[b]))
            row = df.agg(*[
                F.sum(F.when(p, 1).otherwise(0)).cast("bigint")
                .alias(f"am|{n}")
                for n, p in cells
            ]).collect()[0]
            out[name] = {"buckets": [
                {"key": n, "doc_count": row[f"am|{n}"]}
                for n, _ in cells if row[f"am|{n}"]
            ]}
        elif kind == "top_metrics":
            # the doc(s) with the extreme sort value: ONE TakeOrdered
            # (docs missing the sort field are skipped, like ES)
            fields, sf, sd, size = _top_metrics_spec(body)
            oc = F.col(sf).desc() if sd == "desc" else F.col(sf).asc()
            rows = (
                df.filter(F.col(sf).isNotNull())
                .select(*dict.fromkeys([sf, *fields]))
                .orderBy(oc).limit(size).collect()
            )
            out[name] = {"top": _top_metrics_rows(rows, fields, sf)}
        elif kind == "median_absolute_deviation":
            # exact MAD needs the median first — two jobs by
            # construction (ES avoids it with an approximate t-digest;
            # exactness divergence, same direction as percentiles)
            src = _metric_source(body)
            med = df.agg(
                F.percentile(src, F.lit(0.5)).alias("m")
            ).collect()[0]["m"]
            if med is None:
                out[name] = {"value": None}
            else:
                out[name] = {"value": df.agg(F.percentile(
                    F.abs(src - F.lit(med)), F.lit(0.5)
                ).alias("m")).collect()[0]["m"]}
        elif kind == "boxplot":
            # exact quantiles + Tukey whiskers in one two-scan plan
            # (boxplot_frame); ES's TDigest is the documented
            # exactness divergence
            if sub:
                raise DslError("boxplot takes no sub-aggregations")
            r = boxplot_frame(df, body).collect()[0]
            out[name] = {k: r[k] for k in
                         ("min", "max", "q1", "q2", "q3",
                          "lower", "upper")}
        elif kind == "multi_terms":
            rows = multi_terms_frame(df, body, sub).collect()
            kn = [f"k{i}" for i in range(len(body["terms"]))]
            out[name] = {"buckets": [
                {"key": [_key_envelope(r[k]) for k in kn],
                 "key_as_string": "|".join(str(r[k]) for k in kn),
                 "doc_count": r["doc_count"],
                 **_metric_envelope(r, sub)}
                for r in rows
            ]}
        elif kind == "rare_terms":
            if sub:
                raise DslError(
                    "sub-aggregations under rare_terms are not "
                    "supported"
                )
            rows = rare_terms_frame(df, body) \
                .limit(_RARE_TERMS_BUDGET + 1).collect()
            if len(rows) > _RARE_TERMS_BUDGET:
                raise DslError(
                    f"rare_terms returns more than {_RARE_TERMS_BUDGET}"
                    " buckets — raise max_doc_count selectivity or "
                    "filter the scope"
                )
            out[name] = {"buckets": [
                {"key": _key_envelope(r["key"]),
                 "doc_count": r["doc_count"]}
                for r in rows
            ]}
        elif kind == "frequent_item_sets":
            if sub:
                raise DslError(
                    "sub-aggregations under frequent_item_sets are "
                    "not supported"
                )
            out[name] = {"buckets": frequent_item_sets_result(df, body)}
        elif kind == "variable_width_histogram":
            if sub:
                raise DslError(
                    "sub-aggregations under variable_width_histogram "
                    "are not supported"
                )
            out[name] = {"buckets": [
                {"min": r["min"], "key": r["key"], "max": r["max"],
                 "doc_count": r["doc_count"]}
                for r in variable_width_histogram_frame(df, body)
                .collect()
            ]}
        elif kind == "categorize_text":
            if sub:
                raise DslError(
                    "sub-aggregations under categorize_text are not "
                    "supported"
                )
            out[name] = {"buckets": [
                {"key": r["key"], "doc_count": r["doc_count"],
                 "regex": ".*?" + ".*?".join(
                     re.escape(t) for t in r["key"].split(" ")) + ".*?",
                 "max_matching_length": r["max_matching_length"]}
                for r in categorize_text_frame(df, body).collect()
            ]}
        elif kind == "auto_date_histogram":
            frame, label = auto_date_histogram_plan(df, body, sub)
            buckets = []
            if frame is not None:
                for r in frame.collect():
                    b = {"key": _key_envelope(r["key"]),
                         "doc_count": r["doc_count"],
                         **_metric_envelope(r, sub)}
                    b["key_as_string"] = _key_as_string(r["key"], body)
                    buckets.append(b)
            out[name] = {"buckets": buckets, "interval": label}
        elif kind == "nested":
            if not isinstance(body, dict) or not body.get("path"):
                raise DslError("nested aggregation requires a path")
            out[name] = _nested_envelope(df, str(body["path"]), sub)
        elif kind == "significant_terms":
            if sub:
                raise DslError(
                    "sub-aggregations under significant_terms are not "
                    "supported"
                )
            if background is None:
                raise DslError(
                    "significant_terms needs the background set — this "
                    "entry point has no table context (use "
                    "/search/advanced, which passes it)"
                )
            bgdf = background
            if body.get("background_filter") is not None:
                # ES's background_filter narrows the contrast scope
                bgdf = background.filter(compile_dsl(
                    body["background_filter"],
                    schema_fields=schema_fields))
                body = {k: v for k, v in body.items()
                        if k != "background_filter"}
            rows = significant_terms_frame(df, bgdf, body).collect()
            out[name] = {
                "doc_count": df.count(),
                "bg_count": bgdf.count(),
                "buckets": [
                    {"key": _key_envelope(r["key"]),
                     "doc_count": r["doc_count"],
                     "bg_count": r["bg_count"],
                     "score": r["score"]}
                    for r in rows
                ],
            }
        elif kind == "significant_text":
            if sub:
                raise DslError(
                    "sub-aggregations under significant_text are not "
                    "supported"
                )
            if background is None or background_pred is None:
                raise DslError(
                    "significant_text needs the background set and "
                    "the query predicate — this entry point has no "
                    "table context (use /search/advanced, which "
                    "passes both)"
                )
            bg_pred = None
            if body.get("background_filter") is not None:
                bg_pred = compile_dsl(body["background_filter"],
                                      schema_fields=schema_fields)
                body = {k: v for k, v in body.items()
                        if k != "background_filter"}
            rows = significant_text_frame(
                background, background_pred, body,
                bg_pred=bg_pred).collect()
            out[name] = {
                "doc_count": df.count(),
                "bg_count": (background.count() if bg_pred is None
                             else background.filter(bg_pred).count()),
                "buckets": [
                    {"key": _key_envelope(r["key"]),
                     "doc_count": r["doc_count"],
                     "bg_count": r["bg_count"],
                     "score": r["score"]}
                    for r in rows
                ],
            }
        elif kind in ("children", "parent"):
            # r14 (r13 verdict stretch #8): scope-switch across the
            # declared join-field relation — `children` moves the agg
            # scope from matched parents to their child rows,
            # `parent` from matched children to their parents. ONE
            # distinct-key semi-join (pinned shuffle_hash like the
            # has_child/has_parent leaves), then the sub-aggs recurse
            # over the switched frame.
            from sql_database_to_elastic_datalake_spark.plans \
                .join_field import RELATIONS, _match_side

            if relation_ctx is None:
                raise DslError(
                    f"the {kind} aggregation needs table context "
                    "(the search route passes it; this entry point "
                    "compiles single-table aggs only)")
            table, load_sibling = relation_ctx
            type_name = body.get("type")
            if not isinstance(type_name, str) or not type_name:
                raise DslError(f"{kind} aggregation requires a "
                               "'type' string")
            unknown = sorted(set(body) - {"type"})
            if unknown:
                raise DslError(
                    f"unsupported {kind} aggregation options: "
                    f"{unknown}")
            rel = next((r for r in RELATIONS
                        if r["child"] == type_name), None)
            side = (rel and _match_side(
                table, rel["parent" if kind == "children"
                           else "child"]))
            if rel is None or side is None:
                raise DslError(
                    f"no join-field relation maps the {kind} "
                    f"aggregation type {type_name!r} onto table "
                    f"{table!r}")
            target_name = side + (rel["child"] if kind == "children"
                                  else rel["parent"])
            other = load_sibling(target_name)
            if other is None:
                raise DslError(
                    f"{kind} aggregation type {type_name!r} resolves "
                    f"to table {target_name!r}, which does not exist")
            if kind == "children":
                here_key, there_key = (rel["parent_key"],
                                       rel["child_key"])
            else:
                here_key, there_key = (rel["child_key"],
                                       rel["parent_key"])
            keys = (df.select(F.col(here_key).alias("__rel_k"))
                    .filter(F.col("__rel_k").isNotNull()).distinct())
            scoped = other.join(
                keys.hint("shuffle_hash"),
                on=F.col(there_key) == F.col("__rel_k"),
                how="left_semi")
            sub_aggs = sub or {}
            if all(_agg_kind(s) in _FUSABLE_METRIC_KINDS
                   for s in sub_aggs.values()):
                # r15 (guide §1.2, r14 verdict #5): doc_count rides
                # the sub-metrics aggregation — ONE job (and ONE run
                # of the semi-join) instead of a count job plus a
                # metrics job that re-executed the semi-join
                row = scoped.agg(
                    F.count(F.lit(1)).cast("bigint")
                    .alias("__rel_doc_count"),
                    *_metric_cols(sub_aggs)).collect()[0]
                env = {"doc_count": int(row["__rel_doc_count"])}
                env.update(_metric_envelope(row, sub_aggs))
            else:
                env = {"doc_count": scoped.count()}
                if sub:
                    env.update(run_aggs(scoped, sub,
                                        schema_fields=scoped.schema,
                                        background=scoped,
                                        relation_ctx=(target_name,
                                                      load_sibling)))
            out[name] = env
        else:
            raise DslError(f"unsupported aggregation kind {kind!r}")
    # sibling pipeline reductions see every computed envelope,
    # regardless of body order (ES resolves buckets_path the same way)
    for name, (kind, body) in sibling_pipes.items():
        out[name] = _sibling_pipeline_envelope(kind, body, out)
    # echo `meta` verbatim like ES (Kibana reads it back to map
    # responses to panels); metric aggs computed in the shared job get
    # theirs too
    for name, spec in aggs.items():
        if isinstance(spec, dict) and "meta" in spec \
                and isinstance(out.get(name), dict):
            out[name]["meta"] = spec["meta"]
    return out
