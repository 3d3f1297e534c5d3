"""Search API surface: multi-match across tables + hits envelope.

Reference semantics (SURVEY.md §2.8):
  * Q1 ``POST /search`` — a term matched against a field list or ``"*"``
    across ALL lake tables (index pattern ``data_lake_*``):
    /root/reference/src/search_api.py:16-36.
  * Q2 ``POST /search/advanced`` — raw DSL passthrough:
    /root/reference/src/search_api.py:38-46 (compiled here by
    :mod:`.es_dsl`).
  * Q4 result envelope {total, hits}: /root/reference/src/search_api.py:36,46.

Spark-first shape: per-table predicate + ``unionByName(allowMissing
Columns=True)`` over heterogeneous schemas — each table's filter pushes
into its own scan before the union, so a search over N tables reads only
matching row groups of each. Relevance is the deterministic tf score
(:func:`.es_dsl.tf_score`) or the doc-length-normalized BM25-style
ranking (:func:`bm25_rank`) — the latter matches Elasticsearch's
relevance *shape* (rare terms up-weighted, long documents damped) while
staying bit-reproducible in any IEEE-754 engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from sql_database_to_elastic_datalake_spark.localrel import local_frame
from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
    TOKEN_SPLIT_LOWER_RE,
    DslError,
    compile_dsl,
    lucene_regex_to_java,
    tf_score,
    tokenize,
)
from sql_database_to_elastic_datalake_spark.sources.parquet import load_tables

#: Lucene's default BM25 constants.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_rank(
    df: DataFrame,
    text_col: str,
    query: str,
    score_col: str = "bm25",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Deterministic BM25-style relevance over one text column.

    Per token t: ``idf_t · tf_t·(1+k1) / (tf_t + k1·(1 − b + b·dl/avgdl))``
    with the *rational* IDF ``(N − df_t + 0.5)/(df_t + 0.5)`` — the
    standard BM25 IDF minus the ``ln``: transcendentals differ in the
    last ulp across libm implementations, which would break differential
    hash-testing, and the log is monotone so rankings are shaped the
    same. All corpus statistics (N, df, Σdl) are exact integer sums cast
    to double once, so every engine computes identical bits.

    Plan shape: one scan computes per-doc features, one all-column agg
    reduces them to a single stats row, broadcast back over the corpus —
    two jobs, no shuffle of the documents themselves, same cost curve as
    the tf score at 100 TB.

    Reference: Elasticsearch ranks ``/search`` hits by BM25
    (/root/reference/src/search_api.py:16-36); constants follow Lucene's
    defaults.
    """
    toks = tokenize(query)
    feat = df.withColumn("__t", F.lower(F.col(text_col).cast("string")))
    feat = feat.withColumn(
        "__dli", F.size(F.split(F.trim(F.col("__t")), r"\s+")).cast("bigint")
    )
    for i, tok in enumerate(toks):
        occ = (
            F.length(F.col("__t"))
            - F.length(F.replace(F.col("__t"), F.lit(tok), F.lit("")))
        ) / F.lit(float(len(tok)))
        feat = feat.withColumn(f"__occ{i}", occ)
    aggs = [
        F.count("*").cast("double").alias("__n"),
        (F.sum("__dli").cast("double") / F.count("*").cast("double")).alias(
            "__avgdl"
        ),
    ]
    aggs += [
        F.sum(F.when(F.col(f"__occ{i}") > 0, 1).otherwise(0))
        .cast("double")
        .alias(f"__df{i}")
        for i in range(len(toks))
    ]
    stats = feat.agg(*aggs)
    joined = feat.crossJoin(F.broadcast(stats))
    dl_d = F.col("__dli").cast("double")
    score = F.lit(0.0)
    matched = F.lit(False)
    for i in range(len(toks)):
        occ = F.col(f"__occ{i}")
        dft = F.col(f"__df{i}")
        idf = (F.col("__n") - dft + F.lit(0.5)) / (dft + F.lit(0.5))
        num = occ * (F.lit(1.0) + F.lit(k1))
        den = occ + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * dl_d / F.col("__avgdl")
        )
        score = score + idf * num / den
        matched = matched | (occ > 0)
    helpers = ["__t", "__dli", "__n", "__avgdl"] + [
        f"__{p}{i}" for p in ("occ", "df") for i in range(len(toks))
    ]
    return (
        joined.filter(matched)
        .withColumn(score_col, score.cast("double"))
        .drop(*helpers)
    )


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]


def terms_enum_frame(
    df: DataFrame, field: str, string: str = "", size: int = 10,
    case_insensitive: bool = False, search_after: str | None = None,
) -> DataFrame:
    """ES ``_terms_enum`` over one table: distinct values of a keyword
    field under a prefix, ascending, ≤ ``size`` — the plan the API
    route and the registry query share.

    Shape: prefix filter (pushed as StartsWith when case-sensitive) →
    single-column distinct → ascending TakeOrdered(size). The distinct
    shuffle carries only the filtered column; the limit keeps the
    driver transfer at ``size`` rows regardless of corpus size."""
    c = F.col(field).cast("string")
    pred = c.isNotNull()
    if string:
        if case_insensitive:
            pred = pred & F.lower(c).startswith(string.lower())
        else:
            pred = pred & c.startswith(string)
    if search_after is not None:
        pred = pred & (c > F.lit(str(search_after)))
    return (
        df.filter(pred).select(c.alias("term"))
        .distinct().orderBy(F.col("term").asc()).limit(size)
    )


def multi_match_table(
    df: DataFrame,
    query: str,
    fields: list[str] | None = None,
    with_score: bool = True,
) -> DataFrame:
    """Match ``query`` tokens against the given (default: all string)
    columns of one table; optionally attach the tf relevance score.

    r12: field entries may carry ES's ``name^boost`` suffix — the
    weight multiplies that field's tf contribution (membership is
    unchanged; boosts only shape rank)."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        split_field_boost,
    )

    raw = fields or string_columns(df)
    if not raw:
        return df.limit(0)
    pairs = [split_field_boost(f, "multi_match field") for f in raw]
    cols = [n for n, _ in pairs]
    pred = compile_dsl({"multi_match": {"query": query, "fields": cols}})
    out = df.filter(pred)
    if with_score:
        out = out.withColumn(
            "score", tf_score(cols, query,
                              weights=[w for _, w in pairs]))
    return out


def search_all_tables(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    tables: tuple[str, ...] | None = None,
    limit_per_table: int | None = None,
) -> DataFrame:
    """Cross-table search (the ``data_lake_*`` pattern): every table's
    string columns are matched; results are unioned with provenance.

    Output schema is heterogeneous-safe: (table, entity_id, score,
    snippet) where snippet is the concatenated matching string columns.
    """
    # only touch the requested tables — an explicit list must not pay
    # footer reads for every other table in the lake
    dfs = (
        load_tables(spark, sf_dir)
        if tables is None
        else load_tables(spark, sf_dir, names=tuple(tables))
    )
    parts: list[DataFrame] = []
    for name, df in dfs.items():
        cols = string_columns(df)
        if not cols:
            continue
        id_col = df.columns[0]  # first column is the key in every table
        hit = multi_match_table(df, query, cols).select(
            F.lit(name).alias("table"),
            F.col(id_col).cast("string").alias("entity_id"),
            F.col("score"),
            F.concat_ws(" ", *[F.col(c) for c in cols]).alias("snippet"),
        )
        if limit_per_table:
            hit = hit.orderBy(F.col("score").desc(), F.col("entity_id")).limit(
                limit_per_table
            )
        parts.append(hit)
    if not parts:
        raise ValueError("no searchable tables found")
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p, allowMissingColumns=True)
    return acc


def hits_envelope(
    df: DataFrame, k: int, order_by: list[str] | None = None
) -> DataFrame:
    """ES-style {total, hits[]} as a DataFrame: top-k rows each carrying
    the total match count.

    A window count over an empty partitioning would force all rows into
    one task; instead the total is a 1-row aggregate broadcast-joined
    onto the top-k — both sides scale.
    """
    counts = df.agg(F.count("*").alias("total"))
    ordered = df
    if order_by:
        ordered = ordered.orderBy(*order_by)
    return ordered.limit(k).crossJoin(F.broadcast(counts))


def offset_page(
    df: DataFrame, order_by: list, from_: int, size: int
) -> DataFrame:
    """ES ``from``+``size`` offset pagination as one plan: ORDER BY …
    LIMIT size OFFSET from. The reference forwards bodies carrying
    ES's default paging idiom (``{"from": 20, "size": 10}``) verbatim
    (src/search_api.py:38-46); this is the engine's equivalent.

    Spark-first shape: ``orderBy + offset + limit`` compiles to ONE
    ``TakeOrderedAndProject(limit=from+size, offset=from)`` — each
    partition pre-truncates to its top ``from+size`` rows map-side and
    only those reach the driver-side merge; no global sort
    materializes. The cost is still linear in ``from`` (every deeper
    page re-ranks everything above it) — ES caps the same idiom at
    ``index.max_result_window`` for that reason; ``search_after``
    (``hits_envelope`` + cursor predicate) is the deep-pagination
    path.
    """
    if from_ < 0 or size < 0:
        raise ValueError("from/size must be non-negative")
    return df.orderBy(*order_by).offset(from_).limit(size)


def collapse_hits(
    df: DataFrame, field, order_cols: list
) -> DataFrame:
    """ES field collapsing: one hit per distinct ``field`` value — the
    best under the request's sort. The window top-1 pattern
    (``row_number`` over partitionBy(field) == 1) is exactly Spark's
    WindowGroupLimit shape: every partition pre-truncates to its
    per-key best row BEFORE the shuffle, so collapsing a 100 TB match
    set moves one row per (partition, key), not the corpus.

    Ties beyond the request sort break deterministically on the
    remaining columns (the same determinism divergence as terms
    ordering / top_hits — ES leaves them shard-arbitrary). The
    tiebreak spans ORDERABLE columns only: a MapType column in a
    window order is an AnalysisException (INVALID_ORDERING_TYPE),
    which would 500 a valid collapse on tables with map columns."""
    from pyspark.sql import Window

    from sql_database_to_elastic_datalake_spark.operators.similarity import (
        tiebreak_columns,
    )

    order = list(order_cols) + [
        F.col(c).asc_nulls_first() for c in tiebreak_columns(df)
    ]
    key = F.col(field) if isinstance(field, str) else field
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def resolve_source_columns(columns: list[str], source) -> list[str]:
    """ES ``_source`` filtering → the projected column list.

    Accepts every request shape ES does: ``True``/``None`` (all
    columns), ``False`` (none), a field name or list of names
    (includes), or ``{"includes": […], "excludes": […]}`` — names may
    be wildcard patterns. The result feeds a ``select`` BEFORE the
    collect, so at scale the filtering is a real scan projection
    (reduced ReadSchema), not response-side trimming.
    """
    if source is None or source is True:
        return list(columns)
    if source is False:
        return []
    if isinstance(source, str):
        source = [source]
    if isinstance(source, list):
        source = {"includes": source}
    if not isinstance(source, dict):
        raise DslError(f"malformed _source spec {source!r}")
    inc = source.get("includes", source.get("include", ["*"]))
    exc = source.get("excludes", source.get("exclude", []))
    if isinstance(inc, str):
        inc = [inc]
    if isinstance(exc, str):
        exc = [exc]
    import fnmatch as _fn

    return [
        c for c in columns
        if any(_fn.fnmatchcase(c, str(p)) for p in inc)
        and not any(_fn.fnmatchcase(c, str(p)) for p in exc)
    ]


def collect_highlight_terms(
    dsl: dict, schema_fields: list[str] | None = None
) -> dict[str, list[str]]:
    """Walk a query-DSL tree and collect, per field, the lowercase
    substrings its POSITIVE text leaves match — the terms ``highlight``
    wraps. ``must_not`` subtrees are skipped (ES doesn't highlight
    exclusions); non-text leaves (range/exists/ids/…) contribute
    nothing."""
    out: dict[str, list[str]] = {}

    def add(field: str, *terms: str) -> None:
        bucket = out.setdefault(field, [])
        for t in terms:
            t = str(t).lower()
            if t and t not in bucket:
                bucket.append(t)

    def walk(node: dict) -> None:
        if not isinstance(node, dict) or len(node) != 1:
            return
        kind, body = next(iter(node.items()))
        if kind == "match":
            f, q = next(iter(body.items()))
            if isinstance(q, dict):
                q = q.get("query", "")
            add(f, *tokenize(str(q)))
        elif kind in ("match_phrase", "match_phrase_prefix"):
            f, q = next(iter(body.items()))
            if isinstance(q, dict):
                q = q.get("query", "")
            add(f, str(q))
        elif kind in ("term", "prefix"):
            f, v = next(iter(body.items()))
            if isinstance(v, dict):
                v = v.get("value", "")
            add(f, str(v))
        elif kind == "terms":
            f, vs = next(iter(body.items()))
            add(f, *[str(v) for v in vs])
        elif kind == "multi_match":
            import fnmatch as _fn

            toks = tokenize(str(body.get("query", "")))
            for f in body.get("fields") or []:
                name = str(f).split("^", 1)[0]
                if ("*" in name or "?" in name) and schema_fields:
                    for c in schema_fields:
                        if _fn.fnmatchcase(c, name):
                            add(c, *toks)
                else:
                    add(name, *toks)
        elif kind in ("query_string", "simple_query_string"):
            from sql_database_to_elastic_datalake_spark.plans.query_string import (
                parse_query_string,
            )

            walk(parse_query_string(
                body, schema_fields=schema_fields,
                simple=kind == "simple_query_string"))
        elif kind == "constant_score":
            walk(body.get("filter") or {})
        elif kind in ("function_score", "script_score"):
            # r12: highlight rides the ranked page, so the scoring
            # wrappers' INNER query contributes its positive terms
            walk(body.get("query") or {})
        elif kind == "dis_max":
            for s in (body.get("queries") or []):
                walk(s)
        elif kind == "boosting":
            # positive terms only — the negative clause only demotes
            walk(body.get("positive") or {})
        elif kind == "bool":
            for key in ("must", "filter", "should"):
                subs = body.get(key) or []
                for s in (subs if isinstance(subs, list) else [subs]):
                    walk(s)
    walk(dsl)
    return out


def _match_spans(s: str, terms: list[str]) -> list[tuple[int, int]]:
    """Case-insensitive occurrence spans of any term, overlap-merged."""
    low = s.lower()
    spans: list[tuple[int, int]] = []
    for t in terms:
        start = 0
        while True:
            i = low.find(t, start)
            if i < 0:
                break
            spans.append((i, i + len(t)))
            start = i + 1
    if not spans:
        return []
    spans.sort()
    merged = [spans[0]]
    for a, b in spans[1:]:
        if a <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], b))
        else:
            merged.append((a, b))
    return merged


#: Lucene PassageScorer defaults (the unified highlighter's
#: ``order: "score"`` scorer): BM25-shaped k1/b plus a character pivot
#: standing in for average passage length.
_PASSAGE_K1, _PASSAGE_B, _PASSAGE_PIVOT = 1.2, 0.75, 87.0


def passage_scores(
    s: str, terms: list[str], windows: list[tuple[int, int]]
) -> list[float]:
    """Lucene's ``PassageScorer`` restated exactly (r13 — closes the
    last highlight divergence): per-fragment BM25-shaped scores for
    ``order: "score"``. The scorer is DOCUMENT-local — all statistics
    come from this one field value, never the corpus — so it is fully
    deterministic here, unlike the hit-level BM25 this engine
    deliberately avoids:

    * term importance ``weight(t) = (k1+1) · ln(1 + (numDocs + 0.5) /
      (ttf_t + 0.5))`` with ``numDocs = 1 + len(s)/pivot`` (the
      pseudo-document count Lucene derives from content length) and
      ``ttf_t`` the term's occurrence count in the whole value;
    * within-passage tf ``freq / (freq + k1·((1−b) + b·len/pivot))``;
    * position bias ``norm(start) = 1 + 1/ln(pivot + start)``
      (earlier passages win ties of content);
    * passage score = ``norm(start) · Σ_t weight(t) · tf(t)``.

    k1=1.2, b=0.75, pivot=87 are Lucene's shipped defaults. Matching
    uses the same case-insensitive substring matcher as
    :func:`_match_spans`, so scored occurrences are exactly the
    wrapped ones."""
    import math

    low = s.lower()
    num_docs = 1.0 + len(s) / _PASSAGE_PIVOT
    occs: dict[str, list[int]] = {}
    for t in dict.fromkeys(terms):
        starts: list[int] = []
        i = 0
        while True:
            i = low.find(t, i)
            if i < 0:
                break
            starts.append(i)
            i += 1
        if starts:
            occs[t] = starts
    weights = {
        t: (_PASSAGE_K1 + 1.0)
        * math.log(1.0 + (num_docs + 0.5) / (len(starts) + 0.5))
        for t, starts in occs.items()
    }
    out: list[float] = []
    for st, en in windows:
        plen = en - st
        tf_norm = _PASSAGE_K1 * (
            (1.0 - _PASSAGE_B) + _PASSAGE_B * plen / _PASSAGE_PIVOT)
        total = 0.0
        for t, starts in occs.items():
            freq = sum(1 for i in starts if st <= i < en)
            if freq:
                total += weights[t] * (freq / (freq + tf_norm))
        out.append((1.0 + 1.0 / math.log(_PASSAGE_PIVOT + st)) * total)
    return out


def _wrap_spans(
    s: str, spans: list[tuple[int, int]], pre: str, post: str
) -> str:
    parts: list[str] = []
    prev = 0
    for a, b in spans:
        parts += [s[prev:a], pre, s[a:b], post]
        prev = b
    parts.append(s[prev:])
    return "".join(parts)


#: ES highlight boundary defaults (the SimpleBoundaryScanner contract:
#: boundary_chars ".,!? \t\n", boundary_max_scan 20)
BOUNDARY_CHARS = ".,!? \t\n"
BOUNDARY_MAX_SCAN = 20

#: sentence terminators / post-terminator closers for the sentence
#: boundary scanner (the UAX#29 SAtTerm / Close classes' common cases)
_SENT_TERMS = ".!?"
_SENT_CLOSERS = "\"')]}»’”"


def sentence_spans(s: str) -> list[tuple[int, int]]:
    """Sentence segmentation for ``boundary_scanner: "sentence"`` (r12)
    — a deterministic restatement of the unified highlighter's
    BreakIterator rules (ICU UAX#29 sentence break, the cases that
    matter for highlight windows):

    * a boundary follows a terminator (``.!?``) plus any closing
      quotes/brackets plus whitespace — positioned at the first char
      of the NEXT sentence (trailing whitespace stays with the
      preceding sentence, the BreakIterator convention);
    * SB8 abbreviation guard: a ``.`` whose next non-space char is
      LOWERCASE does not break ("e.g. foo", "vs. bar" stay one
      sentence) — exactly ICU; "Dr. Smith" DOES break after "Dr.",
      also exactly ICU (no abbreviation dictionary, same as ES);
    * a newline is a mandatory break (ICU SB4 Sep/CR/LF).
    """
    spans: list[tuple[int, int]] = []
    start = 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("\n", "\r"):
            j = i + 1
            if ch == "\r" and j < n and s[j] == "\n":
                j += 1
            spans.append((start, j))
            start = i = j
            continue
        if ch in _SENT_TERMS:
            j = i + 1
            while j < n and s[j] in _SENT_CLOSERS:
                j += 1
            k = j
            while k < n and s[k] in " \t":
                k += 1
            if j >= n:
                break  # terminator at end of value: tail span below
            if k == j and s[k] not in ("\n", "\r"):
                i = j  # no whitespace after: "U.S.A." internal dots
                continue
            if ch == "." and k < n and s[k].islower():
                i = k  # SB8: lowercase continuation — no break
                continue
            spans.append((start, k))
            start = i = k
            continue
        i += 1
    if start < n:
        spans.append((start, n))
    return spans


def _snap_boundaries(
    s: str, st: int, en: int, chars: str, max_scan: int
) -> tuple[int, int]:
    """Snap a fragment window to boundary chars, Lucene
    SimpleBoundaryScanner-style: the start moves LEFT to just after
    the nearest boundary char within ``max_scan`` probes (to the value
    start if the scan reaches it); the end moves RIGHT to just after
    the nearest boundary char within ``max_scan`` probes (to the value
    end if the scan reaches it). No boundary in range leaves the
    match-centered edge as-is. Both moves only GROW the fragment, so a
    wrapped match can never be cut. One restated difference from
    Lucene: the end snap keeps the boundary char inside the fragment
    ("…end of sentence." rather than dropping the period)."""
    if max_scan > 0 and chars:
        o = st
        for _ in range(max_scan):
            if o <= 0:
                st = 0
                break
            if s[o - 1] in chars:
                st = o
                break
            o -= 1
        o = en
        for _ in range(max_scan):
            if o >= len(s):
                en = len(s)
                break
            if s[o] in chars:
                en = o + 1
                break
            o += 1
    return st, en


def highlight_snippets(
    text, terms: list[str], pre: str, post: str,
    fragment_size: int | None,
    number_of_fragments: int | None,
    boundary_chars: str = BOUNDARY_CHARS,
    boundary_max_scan: int = BOUNDARY_MAX_SCAN,
    boundary_scanner: str = "chars",
    order: str = "none",
) -> list[str] | None:
    """ES-shaped highlight fragments, overlapping windows merged, the
    first ``number_of_fragments`` in POSITION order (ES's ``order:
    "none"`` default), matches wrapped inside each.

    ``order: "score"`` returns the BEST-scoring fragments first under
    the unified highlighter's passage BM25 (r13 —
    :func:`passage_scores`: Lucene's PassageScorer restated exactly;
    its statistics are document-LOCAL, so unlike hit-level BM25 it is
    fully deterministic and carries no corpus-statistics divergence).
    Exact float ties break by position. The ``number_of_fragments``
    cap keeps the best fragments, like ES.

    ``boundary_scanner`` (r12):

    * ``"chars"`` — ``fragment_size``-char windows centered on each
      match cluster, edges snapped to the nearest boundary char
      (``boundary_chars``/``boundary_max_scan``, ES's
      SimpleBoundaryScanner defaults — see :func:`_snap_boundaries`);
    * ``"sentence"`` — the unified highlighter's DEFAULT: fragments
      are whole sentences (:func:`sentence_spans` — the BreakIterator
      restatement), starting from the sentence containing the match
      and extended forward by whole sentences while the fragment stays
      within ``fragment_size`` (the LengthGoalBreakIterator contract;
      a single sentence longer than the goal stays whole — a match is
      never cut).

    ``fragment_size`` None keeps the whole-value single fragment."""
    if text is None or not terms:
        return None
    s = str(text)
    merged = _match_spans(s, terms)
    if not merged:
        return None
    if fragment_size is None:
        return [_wrap_spans(s, merged, pre, post)]
    if number_of_fragments is not None and int(number_of_fragments) == 0:
        # ES: number_of_fragments 0 = no fragmentation, whole value
        return [_wrap_spans(s, merged, pre, post)]
    fs = max(int(fragment_size), 1)
    nof = int(number_of_fragments) if number_of_fragments else 5
    windows: list[tuple[int, int]] = []
    if boundary_scanner == "sentence":
        sents = sentence_spans(s)
        for a, b in merged:
            covering = [sp for sp in sents if sp[0] < b and sp[1] > a]
            if not covering:  # whitespace-only value edge case
                covering = [(a, b)]
            st, en = covering[0][0], covering[-1][1]
            for sp in sents:  # length-goal forward extension
                if sp[0] >= en:
                    if sp[1] - st > fs:
                        break
                    en = sp[1]
            if windows and st <= windows[-1][1]:
                windows[-1] = (windows[-1][0], max(windows[-1][1], en))
            else:
                windows.append((st, en))
    else:
        for a, b in merged:
            half = max(fs - (b - a), 0) // 2
            st = max(0, a - half)
            en = min(len(s), max(st + fs, b))
            st, en = _snap_boundaries(s, st, en, boundary_chars,
                                      int(boundary_max_scan))
            if windows and st <= windows[-1][1]:
                windows[-1] = (windows[-1][0], max(windows[-1][1], en))
            else:
                windows.append((st, en))
    if order == "score":
        # best fragments first (cap keeps the best, like ES): the
        # unified highlighter's passage BM25 (r13 —
        # :func:`passage_scores`, Lucene PassageScorer restated;
        # document-local statistics, fully deterministic), position
        # breaking exact float ties
        scores = passage_scores(s, terms, windows)
        windows = [w for _, _, w in sorted(
            (-sc, w[0], w) for sc, w in zip(scores, windows))]
    out: list[str] = []
    for st, en in windows[:nof]:
        inside = [(max(a, st), min(b, en)) for a, b in merged
                  if a < en and b > st]
        frag = _wrap_spans(s[st:en],
                           [(a - st, b - st) for a, b in inside],
                           pre, post)
        out.append(frag)
    return out


def suggest_terms(
    df: DataFrame,
    field: str,
    text: str,
    size: int = 5,
    max_edits: int = 2,
    prefix_length: int = 1,
    min_doc_freq: int = 1,
    suggest_mode: str = "missing",
    tokens: list[str] | None = None,
) -> DataFrame:
    """The ES *term suggester* ("did you mean"): per input token, the
    closest corpus terms by edit distance, weighted by frequency.

    Reference parity: the reference's search UI path forwards bodies
    verbatim to ES (src/search_api.py:38-46), where a ``suggest``
    section is the standard spell-correction idiom.

    Spark shape — fully distributed, two shuffles:

    1. term dictionary: tokenize + explode the field, groupBy term →
       doc frequency (count of DOCS containing the term, ES's df);
    2. candidate scoring: the (tiny) input token list rides each
       dictionary row via ``explode(array(lits))`` — a generator, not
       a join — then ``levenshtein(term, token) <= max_edits`` filters
       and a window top-k per token keeps ``size`` candidates
       (WindowGroupLimit pre-truncation).

    ``suggest_mode`` "missing" (ES's default) only suggests for tokens
    absent from the dictionary; "popular" requires candidates more
    frequent than the token itself; "always" suggests regardless.

    Documented divergence: the score is ``1 − dist/max(|token|,
    |term|)`` (ES/Lucene normalizes by the shorter string and shard
    statistics, which is not reproducible cross-engine); ordering is
    score desc, freq desc, term asc — deterministic where ES leaves
    ties shard-dependent.
    """
    from pyspark.sql import Window

    if suggest_mode not in ("missing", "popular", "always"):
        raise DslError(f"unknown suggest_mode {suggest_mode!r}")
    # The API envelope passes the token list it derived via
    # token_spans() over the original request text, so the job scores
    # exactly the tokens the envelope will surface (r8 ADVICE: deriving
    # them independently let case folding produce job tokens with no
    # entry). Standalone callers fall back to the match analyzer.
    tokens = list(dict.fromkeys(
        tokens if tokens is not None else tokenize(str(text))))
    if not tokens:
        return local_frame(
            df.sparkSession, [],
            "token string, candidate string, freq long, score double")
    # 1. term dictionary with doc frequency — the SAME token class as
    # :func:`.es_dsl.tokenize`, so suggestions come from the analyzer
    # the match queries use
    toks_col = F.array_distinct(
        F.split(F.lower(F.col(field).cast("string")),
                TOKEN_SPLIT_LOWER_RE))
    dict_df = (
        df.select(F.explode(toks_col).alias("candidate"))
        .filter(F.length("candidate") > 0)
        .groupBy("candidate")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= int(min_doc_freq))
    )
    # 2. score every (candidate, token) pair cheaply: the token list
    # is query-sized, so explode multiplies the dictionary by a small
    # constant; the levenshtein bound then prunes almost everything
    pairs = dict_df.select(
        "candidate", "freq",
        F.explode(F.array(*[F.lit(t) for t in tokens])).alias("token"),
    ).filter(
        (F.col("candidate") != F.col("token"))
        & (F.levenshtein(F.col("candidate"), F.col("token"))
           <= int(max_edits))
    )
    if prefix_length:
        pairs = pairs.filter(
            F.substring(F.col("candidate"), 1, int(prefix_length))
            == F.substring(F.col("token"), 1, int(prefix_length))
        )
    dist = F.levenshtein(F.col("candidate"), F.col("token"))
    pairs = pairs.withColumn(
        "score",
        (F.lit(1.0) - dist.cast("double")
         / F.greatest(F.length("token"),
                      F.length("candidate")).cast("double")),
    )
    w = Window.partitionBy("token").orderBy(
        F.col("score").desc(), F.col("freq").desc(),
        F.col("candidate").asc())
    top = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(size))
        .select("token", "candidate", "freq", "score")
    )
    if suggest_mode == "always":
        return top
    # dictionary rows for the INPUT tokens themselves (freq of the
    # token as typed) — broadcast back to gate per suggest_mode
    self_freq = dict_df.filter(
        F.col("candidate").isin(tokens)
    ).select(F.col("candidate").alias("token"),
             F.col("freq").alias("self_freq"))
    gated = top.join(F.broadcast(self_freq), "token", "left")
    if suggest_mode == "missing":
        return gated.filter(F.col("self_freq").isNull()).drop(
            "self_freq")
    return gated.filter(
        F.col("self_freq").isNull()
        | (F.col("freq") > F.col("self_freq"))).drop("self_freq")


def suggest_phrase(
    df: DataFrame,
    field: str,
    text: str,
    size: int = 3,
    max_edits: int = 2,
    prefix_length: int = 1,
    min_doc_freq: int = 1,
    per_token: int = 5,
    tokens: list[str] | None = None,
) -> DataFrame:
    """The ES *phrase suggester* ("did you mean", whole phrase):
    per-token candidates from the corpus vocabulary (levenshtein ≤
    max_edits, the token itself included at distance 0), composed into
    candidate phrases re-ranked by corpus BIGRAM plausibility with
    Laplace smoothing:

        score = Π tokenscore(cᵢ)
              × Π (bigram(cᵢ₋₁, cᵢ) + 1) / (unigram(cᵢ₋₁) + V)

    where tokenscore is the term suggester's ``1 − dist/max(len)``,
    counts are corpus OCCURRENCE counts (the phrase model needs token
    frequencies, unlike the term suggester's document frequencies —
    a stated difference), and V is the vocabulary size. Every factor
    is a ratio of exact integers, so the doubles replay bit-identically
    in the DuckDB oracle.

    Spark shape: ONE tokenized scan feeds the unigram and bigram
    dictionaries (a groupBy each); candidate generation rides the
    unigram dictionary exactly like the term suggester (explode the
    tiny token list, levenshtein prune, window top ``per_token``);
    composition touches only the per-token candidate sets and the few
    candidate bigrams (collected — they are query-sized, ≤
    per_token²·(n−1) rows), never the corpus.

    Documented divergence: ES's phrase suggester scores with a
    shard-local smoothed trigram/bigram mix (``stupid_backoff``)
    whose statistics are not reproducible cross-engine; this model is
    the deterministic Laplace-bigram equivalent, and ordering ties
    break on the phrase string.
    """
    from pyspark.sql import Window

    toks = [t for t in (tokens if tokens is not None
                        else tokenize(str(text)))]
    empty = local_frame(df.sparkSession, [],
                        "phrase string, score double")
    if not toks:
        return empty

    arr = F.array_compact(F.split(
        F.lower(F.col(field).cast("string")), TOKEN_SPLIT_LOWER_RE))
    arr = F.filter(arr, lambda t: t != F.lit(""))
    tokenized = df.select(arr.alias("toks"))
    uni = (
        tokenized.select(F.explode("toks").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    # adjacent pairs: zip the array with itself shifted by one — a
    # generator expression, no shuffle before the pair groupBy
    pairs_col = F.arrays_zip(
        F.slice(F.col("toks"), 1,
                F.greatest(F.size("toks") - 1, F.lit(0))),
        F.slice(F.col("toks"), 2,
                F.greatest(F.size("toks") - 1, F.lit(0))),
    )
    big = (
        tokenized.select(F.explode(pairs_col).alias("p"))
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    )

    # per-position candidates (the token itself rides at distance 0 —
    # the phrase suggester corrects in context, so a valid word can
    # still be replaced when the bigram model prefers a neighbor)
    uniq = list(dict.fromkeys(toks))
    cand = uni.select(
        F.col("w").alias("candidate"), "cnt",
        F.explode(F.array(*[F.lit(t) for t in uniq])).alias("token"),
    ).filter(
        (F.levenshtein(F.col("candidate"), F.col("token"))
         <= int(max_edits))
        & (F.col("cnt") >= int(min_doc_freq))
    )
    if prefix_length:
        cand = cand.filter(
            F.substring(F.col("candidate"), 1, int(prefix_length))
            == F.substring(F.col("token"), 1, int(prefix_length))
        )
    dist = F.levenshtein(F.col("candidate"), F.col("token"))
    cand = cand.withColumn(
        "ts",
        (F.lit(1.0) - dist.cast("double")
         / F.greatest(F.length("token"),
                      F.length("candidate")).cast("double")),
    )
    w = Window.partitionBy("token").orderBy(
        F.col("ts").desc(), F.col("cnt").desc(),
        F.col("candidate").asc())
    top = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(per_token))
        .select("token", "candidate", "cnt", "ts")
        .collect()
    )
    by_tok: dict[str, list] = {}
    for r in top:
        by_tok.setdefault(r["token"], []).append(
            (r["candidate"], int(r["cnt"]), float(r["ts"])))
    sets = [by_tok.get(t, []) for t in toks]
    if any(not s for s in sets):
        return empty  # a position with no candidate: no phrase (ES
        # emits no option when generation fails for a term)
    vocab = uni.count()

    # the only bigrams that can matter are candidate adjacencies —
    # query-sized, fetched in one pruned pass over the bigram frame
    need = set()
    for i in range(1, len(toks)):
        for c1, _, _ in sets[i - 1]:
            for c2, _, _ in sets[i]:
                need.add((c1, c2))
    bcnt: dict[tuple, int] = {}
    if need:
        w1s = sorted({a for a, _ in need})
        w2s = sorted({b for _, b in need})
        for r in big.filter(
                F.col("w1").isin(w1s) & F.col("w2").isin(w2s)
        ).collect():
            bcnt[(r["w1"], r["w2"])] = int(r["cnt"])

    phrases: list[tuple[str, float]] = []

    def compose(i: int, words: list, prev_cnt: int, score: float):
        if i == len(sets):
            phrases.append((" ".join(words), score))
            return
        for c, cnt, ts in sets[i]:
            s = score * ts
            if i > 0:
                b = bcnt.get((words[-1], c), 0)
                s = s * (float(b + 1) / float(prev_cnt + vocab))
            compose(i + 1, words + [c], cnt, s)

    compose(0, [], 0, 1.0)
    phrases.sort(key=lambda p: (-p[1], p[0]))
    return local_frame(df.sparkSession, phrases[:int(size)],
                       "phrase string, score double")


def suggest_completion(
    df: DataFrame,
    field: str,
    prefix: str,
    size: int = 5,
    case_insensitive: bool = True,
    fuzzy: dict | bool | None = None,
) -> DataFrame:
    """The ES *completion suggester* re-expressed lake-side (r9):
    distinct VALUES of the field starting with the prefix, ranked by
    document frequency, then alphabetically.

    DOCUMENTED DIVERGENCE: ES's completion suggester serves from an
    index-side FST built at ingest with per-entry ``weight``s; a
    parquet lake has no FST, so rank weight here is document
    frequency (no weights ingested → ES falls back to insertion-ish
    order, which is not reproducible anyway). The lookup itself —
    prefix-match over the value dictionary — is the same contract.

    ``fuzzy`` (r10) is ES's typo-tolerant mode: a value matches when
    its leading characters are within ``fuzziness`` edits of the
    typed prefix. Options mirror ES: ``fuzziness`` (int or "AUTO" —
    0 edits under 3 chars, 1 under 6, 2 beyond), ``prefix_length``
    (exact leading chars, default 1), ``min_length`` (inputs shorter
    than this get no fuzz, default 3), ``transpositions`` /
    ``unicode_aware`` accepted-and-documented: plain Levenshtein
    counts a transposition as 2 edits (no Damerau in either engine's
    built-in), the one scoring divergence from ES's FST walk. Edit
    distance runs ONCE PER DISTINCT VALUE (after the groupBy, inside
    the pushdown-friendly ``prefix_length`` pre-filter) with the
    threshold form, and alignment tries every leading-window length
    in ``len(prefix) ± fuzziness`` so boundary insertions/deletions
    match like the FST's.

    Plan: prefix filter pushed to the scan (StartsWith), one groupBy
    on the value, TakeOrdered(size). Dictionary-groupBy-bounded like
    the other suggesters."""
    c = F.col(field).cast("string")
    p = str(prefix)
    val = F.lower(c) if case_insensitive else c
    if case_insensitive:
        p = p.lower()
    if fuzzy is None or fuzzy is False:
        grouped = (
            df.filter(c.isNotNull() & val.startswith(p))
            .groupBy(c.alias("value"))
            .agg(F.count(F.lit(1)).alias("freq"))
        )
    else:
        fz = {} if fuzzy is True else fuzzy
        if not isinstance(fz, dict):
            raise DslError(
                "completion fuzzy must be true or an options object")
        unknown = sorted(set(fz) - {
            "fuzziness", "prefix_length", "min_length",
            "transpositions", "unicode_aware"})
        if unknown:
            raise DslError(
                f"unsupported completion fuzzy options: {unknown}")
        fuzziness = fz.get("fuzziness", "AUTO")
        if isinstance(fuzziness, str) and fuzziness.upper() == "AUTO":
            f_edits = 0 if len(p) < 3 else (1 if len(p) < 6 else 2)
        elif isinstance(fuzziness, int) \
                and not isinstance(fuzziness, bool) \
                and 0 <= fuzziness <= 2:
            f_edits = fuzziness
        else:
            raise DslError(
                f"malformed fuzziness {fuzziness!r} (0, 1, 2 or "
                "\"AUTO\")")
        pl = fz.get("prefix_length", 1)
        if not isinstance(pl, int) or isinstance(pl, bool) or pl < 0:
            raise DslError("fuzzy prefix_length must be >= 0")
        min_len = fz.get("min_length", 3)
        if not isinstance(min_len, int) or isinstance(min_len, bool) \
                or min_len < 0:
            raise DslError("fuzzy min_length must be >= 0")
        if len(p) < min_len:
            f_edits = 0  # ES: short inputs get no fuzz
        pre = val.startswith(p[:pl]) if pl else F.lit(True)
        grouped = (
            df.filter(c.isNotNull() & pre)
            .groupBy(c.alias("value"))
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        gval = (F.lower(F.col("value").cast("string"))
                if case_insensitive
                else F.col("value").cast("string"))
        if f_edits == 0:
            grouped = grouped.filter(gval.startswith(p))
        else:
            # threshold levenshtein returns -1 past the bound; least()
            # over the leading-window lengths ignores the misses
            dists = [
                F.levenshtein(F.substring(gval, 1, n), F.lit(p),
                              f_edits)
                for n in range(max(len(p) - f_edits, pl, 0),
                               len(p) + f_edits + 1)
            ]
            best = F.least(*[F.when(d >= 0, d) for d in dists]) \
                if len(dists) > 1 else F.when(dists[0] >= 0, dists[0])
            grouped = grouped.filter(best.isNotNull())
    return (
        grouped
        .orderBy(F.col("freq").desc(), F.col("value").asc())
        .limit(int(size))
    )


def suggest_completion_regex(
    df: DataFrame,
    field: str,
    pattern: str,
    size: int = 5,
    case_insensitive: bool = True,
) -> DataFrame:
    """ES completion suggester ``regex`` mode (r11): distinct values
    whose ANALYZED form matches the whole pattern (Lucene regexes are
    implicitly anchored at both ends — the FST walk consumes the
    entire entry), ranked by document frequency like the prefix mode.

    The pattern is Lucene-regexp syntax translated by
    :func:`lucene_regex_to_java` and matched against the lowercased
    value (ES matches the analyzer's output form, which the default
    completion analyzer lowercases). One scan → groupBy value →
    RLIKE on the DISTINCT values (the dictionary, not the corpus) →
    TakeOrdered."""
    java_pat = lucene_regex_to_java(str(pattern))
    import re as _re

    try:
        _re.compile(java_pat)
    except _re.error as ex:
        raise DslError(f"malformed regex {pattern!r}: {ex}") from None
    c = F.col(field).cast("string")
    grouped = (
        df.filter(c.isNotNull())
        .groupBy(c.alias("value"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    gval = (F.lower(F.col("value").cast("string")) if case_insensitive
            else F.col("value").cast("string"))
    anchored = f"^(?:{java_pat})$"
    return (
        grouped.filter(gval.rlike(anchored))
        .orderBy(F.col("freq").desc(), F.col("value").asc())
        .limit(int(size))
    )
