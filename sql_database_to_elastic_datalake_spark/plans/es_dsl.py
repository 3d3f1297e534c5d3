"""ES-query-DSL → Spark Column compiler.

The reference's "advanced search" endpoint passes an arbitrary
Elasticsearch query DSL tree straight to ES
(/root/reference/src/search_api.py:38-46; documented examples
/root/reference/README.md:260-275). This module is the engine-owned
equivalent: it compiles the DSL tree into a single Spark ``Column``
predicate, which Catalyst then pushes down into the scan like any other
filter — the entire "search engine" disappears into the query plan.

Supported node types (the surface the reference's README documents plus
the standard leaves needed to express them):

  ``term / terms / terms_set / range / match / match_phrase /
  match_phrase_prefix / prefix / wildcard / regexp / fuzzy / exists /
  ids / match_all / multi_match / constant_score / query_string /
  simple_query_string (grammar subset, parsed to the structured
  leaves by plans/query_string.py) / bool(must, filter, should,
  must_not, minimum_should_match) / nested``

Semantics notes (documented divergences from Elasticsearch):
  * ``match`` tokenizes on non-alphanumerics, lowercases, and requires
    ANY token to appear as a substring (ES's default OR operator); no
    stemming/BM25 — relevance ranking is provided separately as a
    deterministic term-frequency score (:func:`tf_score`), since BM25
    ordering is not reproducible without ES's corpus statistics
    (SURVEY.md §7.3 hard-part #3).
  * ``bool.filter`` ≡ ``bool.must`` (we have no scoring context).
  * ``boost`` never changes MEMBERSHIP (this compiler produces a
    boolean filter; boosting only affects relevance), but as of r12 it
    IS honored wherever the engine ranks: :func:`compile_score`
    compiles the same tree into a score Column (leaf ``{"value": v,
    "boost": 2.0}`` specs, ``bool.boost``, the ``field^2`` suffix in
    ``multi_match``/``query_string`` fields, ``constant_score``,
    ``dis_max`` ``tie_breaker``, ``boosting`` ``negative_boost``) —
    see its docstring for the deterministic scoring model.
  * ``minimum_should_match`` supports the full ES spec grammar:
    integers, negative integers, percentages (``"75%"``, ``"-25%"``,
    rounded down per the Lucene spec), and conditional forms
    (``"3<90%"``, multiple space-separated conditionals). Lucene edge
    rules apply: a computed value ≤0 with no required clauses still
    demands one optional match; a value above the clause count matches
    nothing.
  * ``nested`` compiles to an ``exists()`` lambda over the array column
    — per-element match like ES nested queries, no explode/regroup.
  * Leaf spec OPTIONS follow the no-silent-wrong-results posture (r6):
    ``case_insensitive`` (term/prefix/wildcard/regexp),
    ``zero_terms_query`` / ``operator`` / ``fuzziness`` (match, r7) and
    ``match_phrase`` ``slop`` (r7 — positional in-order token match,
    see :func:`_sloppy_phrase`) are IMPLEMENTED; scoring-only keys
    (``boost``, multi_match ``type``/``tie_breaker``,
    match_phrase_prefix ``max_expansions``) are accepted-and-ignored;
    anything else a saved query might carry is a named 400 — the
    reference forwards bodies verbatim to ES, so a silently dropped
    option would change the result set with no error.

Scale notes: the output is a pure Column expression — whole-stage
codegen applies, and simple comparisons (term/range) reach parquet as
PushedFilters. ``match`` substring predicates stay JVM-side ``contains``
(no regex), still codegen-friendly.
"""

from __future__ import annotations

import fnmatch
import re
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# The ONE token character class for the whole engine. Every consumer —
# the match-query analyzer below, the Spark-side corpus tokenizer
# (TOKEN_SPLIT_RE in F.split), and the suggest envelope's offset scan
# (token_spans) — derives from TOKEN_CHARS so they can never desync
# (r8 verdict nit: the suggest envelope hardcoded its own copy).
_TOKEN_CHARS_LOWER = "0-9a-z"
TOKEN_CHARS = _TOKEN_CHARS_LOWER + "A-Z"
TOKEN_RE = re.compile(f"[{TOKEN_CHARS}]+")
TOKEN_SPLIT_RE = f"[^{TOKEN_CHARS}]+"
#: split pattern for ALREADY-LOWERCASED input (the corpus tokenizer
#: lowercases first, so A-Z can never occur; the smaller class is
#: measurably faster in Spark's regex split hot path — ~1.3x at sf0.1)
TOKEN_SPLIT_LOWER_RE = f"[^{_TOKEN_CHARS_LOWER}]+"
_TOKEN_RE = re.compile(TOKEN_SPLIT_RE)


def tokenize(text: str) -> list[str]:
    """Lowercase alphanumeric tokens — the analyzer for match queries.

    Lowercases FIRST (matching the Spark-side corpus analyzer,
    ``F.split(F.lower(col), TOKEN_SPLIT_RE)``), so case folding that
    maps non-ASCII into ASCII ('İ' → 'i' + U+0307) yields the folded
    ASCII token. The suggest path deliberately does NOT use this —
    see :func:`token_spans`."""
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def token_spans(text: str) -> list[tuple[str, int, int]]:
    """``(lowered_token, offset, length)`` per token of the ORIGINAL
    text — the suggest-envelope analyzer. Offsets index the request
    text as sent, so they are found by scanning it unfolded; each
    matched run is ASCII by construction, so lowering it cannot change
    its length. Decision for non-ASCII input (pinned by test): a
    codepoint outside TOKEN_CHARS is a token break and never yields an
    entry — 'İstanbul' produces exactly one entry, 'stanbul' at
    offset 1 — and the suggest job queries exactly the tokens emitted
    here, so entries and candidates agree by construction (r8 ADVICE:
    lower-first folding produced job tokens like 'i' that no envelope
    entry could surface)."""
    return [(m.group().lower(), m.start(), len(m.group()))
            for m in TOKEN_RE.finditer(text)]


class DslError(ValueError):
    pass


class NotFoundError(DslError):
    """A missing table/document — the wire layer's 404 class. Kept as
    a DslError subclass so existing ``except DslError`` handlers stay
    correct; routes that distinguish 404 from 400 catch this FIRST
    (structural classification — never substring-matching the message,
    which would misroute a 400 whose text happens to embed
    'not found')."""


class GeoResolutionError(DslError):
    """A geo leaf whose field cannot be resolved to a geo_point
    against the AVAILABLE schema knowledge (r14, ADVICE): unknown
    field, a column that exists but is not a lat/lon struct or
    ``f_lat``/``f_lon`` pair, or a schema-free resolver that cannot
    host struct access. Still a DslError (named 400 at query time),
    but distinguishable so percolator PUT validation can TOLERATE geo
    leaves — field resolution there is a match-time concern, the
    target table isn't known yet."""


class _SchemaFields(list):
    """``compile_dsl``'s ``schema_fields`` as a plain column-name list
    that also carries the full StructType when the caller has the
    DataFrame in hand — so geo leaves can type-check the struct branch
    (named 400) instead of dying in an AnalysisException mid-plan.
    Subclasses list: every existing membership/iteration site works
    unchanged, and the attribute rides through recursive calls."""

    def __init__(self, names, schema=None):
        super().__init__(names)
        self.schema = schema


def _norm_schema_fields(schema_fields):
    """Accept a StructType wherever a column-name list is expected."""
    from pyspark.sql.types import StructType

    if isinstance(schema_fields, StructType):
        return _SchemaFields(schema_fields.fieldNames(), schema_fields)
    return schema_fields


def _ns(pred: Column) -> Column:
    """Null-safe coercion: ES query semantics are two-valued — a
    predicate on a missing/null field is simply *no match*. SQL
    three-valued logic agrees with that in positive (WHERE) context, but
    NULL propagating through ``NOT`` or a should-count would silently
    drop rows ES would match (found by the hypothesis differential
    test). Applied exactly where the distinction is observable —
    ``must_not`` and ``minimum_should_match`` counting — so plain leaf
    comparisons stay pushdown-eligible (a coalesce-wrapped predicate
    never reaches parquet as a PushedFilter).
    """
    return F.coalesce(pred, F.lit(False))


def _field_value(
    body: dict, value_key: str = "value",
    allowed: tuple[str, ...] = (),
):
    """ES allows ``{"term": {"f": v}}`` and ``{"term": {"f": {"value":
    v}}}``. ``allowed`` lists the spec keys (beyond the value and
    ``boost``) with implemented semantics — anything else is a named
    400, never silently dropped: the reference forwards these bodies
    verbatim to ES, so an ignored option (fuzziness, slop, …) would
    change the result set with no error."""
    if len(body) != 1:
        raise DslError(f"expected a single field, got {list(body)}")
    field, spec = next(iter(body.items()))
    if isinstance(spec, dict):
        if value_key not in spec:
            raise DslError(f"missing '{value_key}' in {spec}")
        unknown = sorted(set(spec) - {value_key, "boost", *allowed})
        if unknown:
            raise DslError(
                f"unsupported query options on field {field!r}: "
                f"{unknown} (supported: "
                f"{sorted({value_key, 'boost', *allowed})})"
            )
        return field, spec[value_key]
    return field, spec


def _spec_flag(body: dict, key: str, default=False):
    """A boolean/extra option from the spec-dict form (False/default
    when the shorthand form was used)."""
    spec = next(iter(body.values()))
    if isinstance(spec, dict):
        return spec.get(key, default)
    return default


def _wildcard_to_like(pattern: str) -> str:
    """ES wildcard (``*``/``?``) → SQL LIKE (``%``/``_``), escaping both."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def lucene_regex_to_java(pattern: str) -> str:
    """Translate the SHARED subset of Lucene's regexp syntax (what the
    ``regexp`` query, span_multi/intervals regexp rules and the
    completion/regexp suggesters take) to a Java/RE2-portable pattern:
    literals, ``.``, ``*``, ``+``, ``?``, ``|``, groups, char classes
    and ``{n,m}`` pass through; Lucene's ``@`` (any string) becomes
    ``.*``; the automaton-specific operators — ``~`` complement,
    ``&`` intersection, ``<n-m>`` numeric interval, ``#`` empty
    language — are NAMED 400s (no finite translation exists without
    Lucene's automaton library). Before r11 these sites passed raw
    patterns to Java regex, where ``~ & < #`` are LITERALS — a silent
    semantic divergence instead of an error."""
    out: list[str] = []
    in_class = False
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            if i + 1 >= len(pattern):
                raise DslError("regex ends in a bare backslash")
            out.append(pattern[i:i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
        elif ch == "[":
            in_class = True
            out.append(ch)
        elif ch in "~&<#":
            raise DslError(
                f"unsupported Lucene regexp operator {ch!r} "
                "(complement/intersection/interval/empty need the "
                "index-side automaton; escape it for the literal)")
        elif ch == "@":
            out.append(".*")
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def resolve_minimum_should_match(spec, n_optional: int) -> int:
    """Resolve an ES ``minimum_should_match`` spec against ``n_optional``
    should clauses, per the Lucene/Solr grammar the ES docs defer to:

    * positive integer — used as-is;
    * negative integer — ``n_optional`` minus that many may be missing
      (``-2`` with 5 clauses → 3);
    * percentage ``"75%"`` — ``floor(n * 75/100)``;
    * negative percentage ``"-25%"`` — that percent (rounded down) may
      be missing: ``n - floor(n * 25/100)``;
    * conditional ``"3<90%"`` — all required when ``n <= 3``, else the
      right-hand spec applies; multiple space-separated conditionals
      pick the clause with the greatest test value below ``n``.

    Returns the raw computed integer — callers apply the Lucene edge
    rules (≤0 → unconstrained unless the bool has no required clauses;
    > n_optional → unsatisfiable). Malformed specs raise
    :class:`DslError` — the module's malformed-user-query contract.
    """
    if isinstance(spec, bool):
        raise DslError(f"malformed minimum_should_match {spec!r}")
    if isinstance(spec, int):
        return spec if spec >= 0 else n_optional + spec
    if not isinstance(spec, str) or not spec.strip():
        raise DslError(f"malformed minimum_should_match {spec!r}")
    s = spec.strip()
    if "<" in s:
        clauses = []
        for part in s.split():
            m = re.fullmatch(r"(\d+)<(-?\d+%?)", part)
            if not m:
                raise DslError(f"malformed minimum_should_match {spec!r}")
            clauses.append((int(m.group(1)), m.group(2)))
        clauses.sort()
        applicable = None
        for test, sub in clauses:
            if n_optional > test:
                applicable = sub
        if applicable is None:
            return n_optional  # n <= smallest test: all required
        return resolve_minimum_should_match(applicable, n_optional)
    if s.endswith("%"):
        try:
            pct = int(s[:-1])
        except ValueError:
            raise DslError(f"malformed minimum_should_match {spec!r}") from None
        missing_or_needed = abs(pct) * n_optional // 100
        return (
            missing_or_needed if pct >= 0 else n_optional - missing_or_needed
        )
    try:
        return resolve_minimum_should_match(int(s), n_optional)
    except ValueError:
        raise DslError(f"malformed minimum_should_match {spec!r}") from None


def _let1(value: Column, fn) -> Column:
    """LET-bind ``value`` — evaluate it ONCE per row — inside a
    boolean expression tree: a single-element ``exists`` returns
    exactly ``fn(value)`` (true/false/null included) while forcing one
    evaluation of ``value``. Catalyst has no LET and does not
    common-subexpression-eliminate across a FilterExec condition, so a
    predicate referencing a derived token array N times re-runs the
    regexp tokenizer N times per row (r14: the intervals member's plan
    carried 5 ``split(`` nodes; binding once measured sf0.1 steady
    1.45 -> 0.52 s with identical rows). ``fn`` runs eagerly at
    compile time — validation raises exactly as before."""
    return F.exists(F.array(value), fn)


def _token_array(col: Column) -> Column:
    """The field value as its lowercase token array — the same analyzer
    as :func:`tokenize`, as a column expression (split + filter, no
    UDF)."""
    return F.filter(
        F.split(F.lower(col.cast("string")), TOKEN_SPLIT_LOWER_RE),
        lambda t: t != F.lit(""),
    )


def _token_positions(arr: Column, tok: str) -> Column:
    """0-based positions of ``tok`` in a token array (transform-with-
    index + filter — pure column algebra)."""
    return F.filter(
        F.transform(arr, lambda t, i: F.when(t == F.lit(tok), i)),
        lambda x: x.isNotNull(),
    )


#: phrase length bound for the sloppy-match expression (the compiled
#: predicate chains one array_min/filter per token — honesty cap, not
#: a performance cliff)
_MAX_SLOP_TOKENS = 8


def _sloppy_phrase(col: Column, toks: list[str], slop: int) -> Column:
    """``match_phrase`` with ``slop``: the tokens appear IN ORDER with
    at most ``slop`` extra positions between the first and the last
    (span − (n−1) ≤ slop). For each candidate start, the follow-up
    positions are chosen greedily (min position after the previous one
    — optimal: the min-valid choice minimizes the final span), so the
    expression is linear in the phrase length, no UDF, no explode.

    Documented divergence: ES's sloppy phrases also match REORDERED
    terms when the slop affords the moves (Lucene edit-distance
    semantics); this compiler matches in request order only — a
    reordered match is missed, never a false positive.
    """
    span = F.lit(len(toks) - 1 + slop)

    def _min_after(pos: Column, prev: Column) -> Column:
        # single-parameter lambda via closure: a defaulted second
        # parameter would make PySpark bind the higher-order
        # function's INDEX argument over the default
        return F.array_min(F.filter(pos, lambda x: x > prev))

    def over(arr: Column) -> Column:
        def chain(p0: Column) -> Column:
            cur = p0
            for tok in toks[1:]:
                cur = _min_after(_token_positions(arr, tok), cur)
            return F.coalesce(cur - p0 <= span, F.lit(False))

        return F.coalesce(
            F.exists(_token_positions(arr, toks[0]), chain),
            F.lit(False))

    # token array LET-bound (r14, _let1): the chain references the
    # array once per phrase token — n tokenizer runs per row before
    return _let1(_token_array(col), over)


# ---------------------------------------------------------------------------
# span queries (r9) — positional membership over the token array
# ---------------------------------------------------------------------------

_SPAN_KINDS = ("span_term", "span_near", "span_or", "span_first",
               "span_not", "span_multi", "span_containing",
               "span_within")

#: clause-count honesty cap for span_near (one array_min/filter chain
#: per clause — same shape and cap rationale as _MAX_SLOP_TOKENS)
_MAX_SPAN_CLAUSES = 8

_SPAN_MULTI_KINDS = ("prefix", "wildcard", "regexp", "fuzzy")


def _span_field(kind: str, body) -> str:
    """The ONE field a span tree targets. Lucene requires every clause
    of a span query to address the same field; a mixed tree is a named
    400 here (it would be a hard error in ES too)."""
    if not isinstance(body, dict):
        raise DslError(f"{kind} body must be an object")
    if kind == "span_term":
        if not body:
            raise DslError("span_term requires a field")
        return next(iter(body))
    if kind == "span_multi":
        match = body.get("match")
        if not isinstance(match, dict) or len(match) != 1:
            raise DslError("span_multi requires a single match query")
        mkind, mbody = next(iter(match.items()))
        if mkind not in _SPAN_MULTI_KINDS:
            raise DslError(
                f"span_multi supports {list(_SPAN_MULTI_KINDS)}, "
                f"got {mkind!r}")
        if not isinstance(mbody, dict) or not mbody:
            raise DslError(f"span_multi {mkind} requires a field")
        return next(iter(mbody))
    if kind == "span_first":
        sub = body.get("match")
        if not isinstance(sub, dict) or len(sub) != 1:
            raise DslError("span_first requires a match span clause")
        return _span_field(*next(iter(sub.items())))
    if kind in ("span_or", "span_near"):
        clauses = body.get("clauses")
        if not isinstance(clauses, list) or not clauses:
            raise DslError(f"{kind} requires a non-empty clauses list")
        fields = set()
        for cl in clauses:
            if not isinstance(cl, dict) or len(cl) != 1:
                raise DslError(f"malformed span clause {cl!r}")
            fields.add(_span_field(*next(iter(cl.items()))))
        if len(fields) != 1:
            raise DslError(
                f"span clauses must target one field, got {sorted(fields)}")
        return next(iter(fields))
    if kind == "span_not":
        fields = set()
        for part in ("include", "exclude"):
            sub = body.get(part)
            if not isinstance(sub, dict) or len(sub) != 1:
                raise DslError(f"span_not requires an {part} span clause")
            fields.add(_span_field(*next(iter(sub.items()))))
        if len(fields) != 1:
            raise DslError(
                f"span clauses must target one field, got {sorted(fields)}")
        return next(iter(fields))
    if kind in ("span_containing", "span_within"):
        fields = set()
        for part in ("big", "little"):
            sub = body.get(part)
            if not isinstance(sub, dict) or len(sub) != 1:
                raise DslError(f"{kind} requires a {part} span clause")
            fields.add(_span_field(*next(iter(sub.items()))))
        if len(fields) != 1:
            raise DslError(
                f"span clauses must target one field, got {sorted(fields)}")
        return next(iter(fields))
    raise DslError(f"unsupported span clause kind {kind!r}")


def _pos_to_spans(pos: Column) -> Column:
    """array<int> of single-token positions → array<struct<s,e>>
    spans (a token at p is the half-open span [p, p+1))."""
    return F.transform(
        pos, lambda p: F.struct(p.alias("s"), (p + F.lit(1)).alias("e")))


def _span_spans(arr: Column, kind: str, body: dict) -> Column:
    """One span CLAUSE → the array<struct<s,e>> of its match spans in
    the token array (half-open [s, e) positions, Lucene's own span
    model). r10 generalizes the r9 single-position algebra to real
    spans, which is what makes a NESTED span_near (a multi-token
    span) an ordinary clause instead of a named 400."""
    if kind == "span_term":
        field, value = _field_value(body)
        toks = tokenize(str(value))
        if len(toks) != 1:
            raise DslError(
                f"span_term value {value!r} must analyze to one token")
        return _pos_to_spans(_token_positions(arr, toks[0]))
    if kind == "span_or":
        out = None
        for cl in body["clauses"]:
            p = _span_spans(arr, *next(iter(cl.items())))
            out = p if out is None else F.concat(out, p)
        return F.array_sort(F.array_distinct(out))
    if kind == "span_first":
        end = body.get("end")
        if not isinstance(end, int) or end < 1:
            raise DslError("span_first requires a positive integer end")
        inner = _span_spans(arr, *next(iter(body["match"].items())))
        # SpanFirst keeps spans whose END is <= `end`
        return F.filter(inner, lambda sp: sp["e"] <= F.lit(end))
    if kind == "span_not":
        unknown = sorted(set(body) - {"include", "exclude", "boost",
                                      "pre", "post", "dist"})
        if unknown:
            raise DslError(f"unsupported span_not keys: {unknown}")
        dist = body.get("dist", 0)
        pre = body.get("pre", dist)
        post = body.get("post", dist)
        for nm, v in (("pre", pre), ("post", post), ("dist", dist)):
            if not isinstance(v, int) or isinstance(v, bool) or v < 0:
                raise DslError(
                    f"span_not {nm} must be a non-negative integer")
        inc = _span_spans(arr, *next(iter(body["include"].items())))
        exc = _span_spans(arr, *next(iter(body["exclude"].items())))
        # SpanNot keeps include spans that do not OVERLAP any exclude
        # span, the overlap window widened by pre positions before and
        # post after the include (dist sets both, like Lucene); for
        # single-token spans at pre=post=0 this is the r9 array_except
        return F.filter(
            inc,
            lambda a: ~F.coalesce(
                F.exists(exc, lambda b:
                         ((a["s"] - F.lit(int(pre))) < b["e"])
                         & (b["s"] < (a["e"] + F.lit(int(post))))),
                F.lit(False)),
        )
    if kind in ("span_containing", "span_within"):
        unknown = sorted(set(body) - {"big", "little", "boost"})
        if unknown:
            raise DslError(f"unsupported {kind} keys: {unknown}")
        big = _span_spans(arr, *next(iter(body["big"].items())))
        little = _span_spans(arr, *next(iter(body["little"].items())))
        # span_containing yields BIG spans that enclose a little
        # match; span_within yields LITTLE spans enclosed by a big one
        src, ref = (big, little) if kind == "span_containing" \
            else (little, big)
        if kind == "span_containing":
            def rel(a, b):
                return (a["s"] <= b["s"]) & (b["e"] <= a["e"])
        else:
            def rel(a, b):
                return (b["s"] <= a["s"]) & (a["e"] <= b["e"])
        return F.filter(
            src,
            lambda a: F.coalesce(
                F.exists(ref, lambda b: rel(a, b)), F.lit(False)),
        )
    if kind == "span_multi":
        mkind, mbody = next(iter(body["match"].items()))
        field, value = _field_value(
            mbody, allowed=("fuzziness",) if mkind == "fuzzy" else ())
        sval = str(value).lower()  # tokens are lowercase by analysis
        if mkind == "prefix":
            def tok_pred(t):
                return t.startswith(sval)
        elif mkind == "wildcard":
            like = _wildcard_to_like(sval)

            def tok_pred(t):
                return t.like(like)
        elif mkind == "regexp":
            # Lucene whole-term anchoring; pattern via the shared
            # Lucene-subset translation (r11 — raw Java before)
            pat = f"^(?:{lucene_regex_to_java(sval)})$"

            def tok_pred(t):
                return t.rlike(pat)
        else:  # fuzzy
            fspec = mbody[field] if isinstance(mbody[field], dict) else {}
            edits = _max_edits(fspec.get("fuzziness", "AUTO"), sval)

            def tok_pred(t):
                return F.levenshtein(t, F.lit(sval)) <= edits
        return _pos_to_spans(F.filter(
            F.transform(arr, lambda t, i: F.when(tok_pred(t), i)),
            lambda x: x.isNotNull(),
        ))
    if kind == "span_near":
        # a nested span_near is a SPAN PRODUCER: enumerate every valid
        # ordered chain and emit its envelope [first.s, last.e). The
        # accumulator carries the spent gap budget g = Σ(s_i − e_{i−1})
        # — exactly Lucene's ordered-near slop (match length minus the
        # clause lengths) — so the final filter is exact for clauses of
        # ANY width. Cost is the product of per-clause match counts
        # (flatten × transform), bounded by _MAX_SPAN_CLAUSES and by
        # term selectivity — the same combination walk Lucene's
        # NearSpansOrdered performs per document.
        unknown = sorted(set(body) - {"clauses", "slop", "in_order",
                                      "boost"})
        if unknown:
            raise DslError(f"unsupported span_near keys: {unknown}")
        clauses = body.get("clauses")
        if not isinstance(clauses, list) or not clauses:
            raise DslError("span_near requires a non-empty clauses list")
        if len(clauses) > _MAX_SPAN_CLAUSES:
            raise DslError(
                f"at most {_MAX_SPAN_CLAUSES} proximity clauses")
        slop = body.get("slop", 0)
        if not isinstance(slop, int) or slop < 0:
            raise DslError(f"malformed span_near slop {slop!r}")
        subs = [_span_spans(arr, *next(iter(cl.items())))
                for cl in clauses]
        if not bool(body.get("in_order", True)):
            # unordered producer (r10-late): NearSpansUnordered spans
            # are pairwise-DISJOINT arrangements, and every disjoint
            # arrangement is some ordered chain — so the union of the
            # ordered chain producer over clause PERMUTATIONS is the
            # exact span set, and each chain's gap budget
            # Σ(s_i − e_{i−1}) equals the unordered window formula
            # (max_e − min_s − Σlen) for that arrangement. k! chains
            # bound the cost; past 4 clauses (24 chains) the request
            # must order or flatten (named 400, the honesty cap).
            import itertools

            if len(subs) > 4:
                raise DslError(
                    "a nested unordered span_near supports at most 4 "
                    "clauses (the permutation enumeration is k!; use "
                    "in_order: true or lift it to the top level)")
            if len(subs) == 1:
                return _chain_spans(subs, slop)
            out = None
            for perm in itertools.permutations(subs):
                p = _chain_spans(list(perm), slop)
                out = p if out is None else F.concat(out, p)
            return F.array_sort(F.array_distinct(out))
        return _chain_spans(subs, slop)
    raise DslError(f"unsupported span clause kind {kind!r}")


def _chain_spans(subs: list[Column], gap_budget: int) -> Column:
    """Ordered-chain SPAN PRODUCER: every valid in-order chain over
    the clause span arrays → its envelope [first.s, last.e). The
    accumulator carries the spent gap budget g = Σ(s_i − e_{i−1}) —
    exactly Lucene's ordered-near slop (match length minus clause
    lengths) — so the final filter is exact for clauses of ANY width;
    ``gap_budget < 0`` means unlimited (intervals' max_gaps: -1).
    Cost is the product of per-clause match counts (flatten ×
    transform) — the combination walk Lucene performs per document."""
    acc = F.transform(
        subs[0],
        lambda x: F.struct(x["s"].alias("s"), x["e"].alias("e"),
                           F.lit(0).alias("g")))
    for nxt in subs[1:]:
        acc = F.flatten(F.transform(
            acc,
            lambda a: F.filter(
                F.transform(
                    nxt,
                    lambda x: F.when(
                        x["s"] >= a["e"],
                        F.struct(a["s"].alias("s"),
                                 x["e"].alias("e"),
                                 (a["g"] + (x["s"] - a["e"]))
                                 .alias("g")))),
                lambda v: v.isNotNull()),
        ))
    if gap_budget >= 0:
        acc = F.filter(acc, lambda a: a["g"] <= F.lit(gap_budget))
    return F.array_sort(F.array_distinct(F.transform(
        acc,
        lambda a: F.struct(a["s"].alias("s"), a["e"].alias("e")))))


def _spans_near_exists(span_arrays: list[Column], ordered: bool,
                       slop: int,
                       single_token: bool = False) -> Column:
    """Proximity MEMBERSHIP over span arrays: one nested ``exists``
    per clause, so every clause's chosen span is in scope for the
    innermost constraint — brute-force exact for any clause count and
    any span widths (r10; the r9 greedy min-next chain was exact only
    for single-token spans, and unordered was capped at 2 clauses).
    Ordered: consecutive non-overlap with Σ gaps ≤ slop. Unordered:
    (max e − min s − Σ len) ≤ slop over the chosen tuple — exactly
    Lucene's ``NearSpansUnordered.atMatch``, which permits OVERLAPPING
    clause spans (two clauses matching the same token match; r11 —
    the previous pairwise-disjointness conjunct was stricter than
    Lucene and dropped such documents). This is also the intervals
    UNORDERED flavor — both surfaces share the one walk.
    ``slop < 0`` means unlimited (intervals max_gaps: -1). Cost is the
    product of per-clause match counts, same as Lucene's per-document
    walk — EXCEPT the ordered single-token case (``single_token=True``,
    the overwhelmingly common shape), which takes the greedy min-next
    chain instead: exact for width-1 spans (the minimal valid next
    choice minimizes the final span — the r9 argument) at O(n·k)
    instead of O(Πn), so a pathologically frequent term cannot blow
    the walk up."""
    if len(span_arrays) > _MAX_SPAN_CLAUSES:
        raise DslError(
            f"at most {_MAX_SPAN_CLAUSES} proximity clauses")
    if len(span_arrays) == 1:
        return F.coalesce(F.size(span_arrays[0]) > 0, F.lit(False))
    if not ordered and slop < 0:
        # unconstrained unordered (intervals' default): every clause
        # present somewhere — skip the combination walk
        out = F.lit(True)
        for sp in span_arrays:
            out = out & F.coalesce(F.size(sp) > 0, F.lit(False))
        return out
    if ordered and single_token:
        k = len(span_arrays)

        def _min_after(arr: Column, cur: Column) -> Column:
            # a one-arg lambda closing over cur: a two-parameter
            # lambda would bind Spark's (element, index) HOF form
            return F.array_min(F.transform(
                F.filter(arr, lambda x: x["s"] >= cur),
                lambda x: x["e"]))

        def chain(first: Column) -> Column:
            cur = first["e"]
            for arr in span_arrays[1:]:
                cur = _min_after(arr, cur)
            if slop < 0:
                return cur.isNotNull()
            # Σ gaps for width-1 spans = last.e − first.s − k
            return F.coalesce(
                cur - first["s"] <= F.lit(k + slop), F.lit(False))

        return F.coalesce(
            F.exists(span_arrays[0], chain), F.lit(False))

    def constraint(chosen: list[Column]) -> Column:
        if ordered:
            cond = F.lit(True)
            gaps = None
            for prev, cur in zip(chosen, chosen[1:]):
                cond = cond & (cur["s"] >= prev["e"])
                g = cur["s"] - prev["e"]
                gaps = g if gaps is None else gaps + g
            if slop >= 0:
                cond = cond & (gaps <= F.lit(slop))
            return cond
        cond = F.lit(True)
        if slop >= 0:
            max_e = F.greatest(*[c["e"] for c in chosen])
            min_s = F.least(*[c["s"] for c in chosen])
            total_len = None
            for c in chosen:
                ln = c["e"] - c["s"]
                total_len = ln if total_len is None else total_len + ln
            cond = cond & (max_e - min_s - total_len <= F.lit(slop))
        return cond

    def rec(i: int, chosen: list[Column]) -> Column:
        if i == len(span_arrays):
            return constraint(chosen)
        return F.exists(span_arrays[i],
                        lambda x: rec(i + 1, chosen + [x]))

    return F.coalesce(rec(0, []), F.lit(False))


def _compile_span(kind: str, body: dict, col) -> Column:
    """A top-level span query → boolean membership Column (this
    engine's filter context is score-free — module docstring). All
    positional algebra is transform/filter/exists column expressions
    over ONE token-array computation: no UDF, no explode, whole-stage
    codegen applies."""
    field = _span_field(kind, body)
    if kind != "span_near":
        # token array LET-bound (r14, _let1): multi-reference span
        # trees re-ran the tokenizer once per reference
        return _let1(
            _token_array(col(field)),
            lambda a: F.coalesce(
                F.size(_span_spans(a, kind, body)) > 0, F.lit(False)))

    unknown = sorted(set(body) - {"clauses", "slop", "in_order", "boost"})
    if unknown:
        raise DslError(f"unsupported span_near keys: {unknown}")
    clauses = body["clauses"]
    if not isinstance(clauses, list) or not clauses:
        raise DslError("span_near requires a non-empty clauses list")
    slop = body.get("slop", 0)
    if not isinstance(slop, int) or slop < 0:
        raise DslError(f"malformed span_near slop {slop!r}")
    # in_order defaults to TRUE, matching Elasticsearch
    # (SpanNearQueryBuilder.DEFAULT_IN_ORDER = true). Membership is
    # the nested-exists walk (_spans_near_exists) — exact for any
    # clause count, any order, and multi-token clause spans (r10: the
    # unordered 2-clause cap is gone). A clause yields width-1 spans
    # iff no span_near appears along its OUTPUT path
    # (_span_clause_wide — wrappers like span_first/containing can
    # carry a wide producer, found by the differential harness), which
    # keeps the ordered greedy fast path on for the common shape.
    single = not any(_span_clause_wide(cl) for cl in clauses
                     if isinstance(cl, dict) and cl)
    return _let1(
        _token_array(col(field)),
        lambda a: _spans_near_exists(
            [_span_spans(a, *next(iter(cl.items()))) for cl in clauses],
            bool(body.get("in_order", True)), slop, single_token=single))


def _span_clause_wide(node: dict) -> bool:
    """Whether a span clause can OUTPUT spans wider than one token —
    true iff a span_near producer sits on its output path. Wrappers
    pass their output side through: span_not emits include spans,
    span_containing big spans, span_within little spans; the other
    side only filters and cannot widen the output."""
    if not isinstance(node, dict) or len(node) != 1:
        return True  # malformed — let the producer raise its 400
    kind, body = next(iter(node.items()))
    if kind == "span_near":
        return True
    if not isinstance(body, dict):
        return False
    if kind == "span_or":
        cls = body.get("clauses")
        return any(_span_clause_wide(c) for c in cls) \
            if isinstance(cls, list) else True
    if kind == "span_first":
        return _span_clause_wide(body.get("match", {}))
    if kind == "span_not":
        return _span_clause_wide(body.get("include", {}))
    if kind == "span_containing":
        return _span_clause_wide(body.get("big", {}))
    if kind == "span_within":
        return _span_clause_wide(body.get("little", {}))
    return False  # span_term / span_multi: width 1


# ---------------------------------------------------------------------------
# intervals query (r9) — the modern proximity surface, compiled onto
# the same positional algebra as the span family
# ---------------------------------------------------------------------------

_INTERVALS_RULES = ("match", "prefix", "wildcard", "fuzzy", "regexp",
                    "any_of", "all_of")


def _intervals_tok_positions(arr: Column, kind: str, body) -> Column:
    """One SINGLE-POSITION intervals rule → its match-position array.
    Multi-token matches and nested all_of produce wide intervals the
    single-position model cannot chain exactly — named 400 under
    ordering/gap constraints (same honesty rule as nested span_near)."""
    if kind == "match":
        if not isinstance(body, dict) or "query" not in body:
            raise DslError("intervals match requires a query")
        toks = tokenize(str(body["query"]))
        if len(toks) != 1:
            raise DslError(
                "a multi-token intervals match cannot nest under "
                "ordering/gap constraints (single-token intervals "
                "only — flatten the tokens into the outer all_of)")
        return _token_positions(arr, toks[0])
    if kind == "prefix":
        v = body.get("prefix") if isinstance(body, dict) else body
        if not isinstance(v, str):
            raise DslError("intervals prefix requires a prefix string")
        return F.filter(
            F.transform(arr, lambda t, i: F.when(
                t.startswith(v.lower()), i)),
            lambda x: x.isNotNull(),
        )
    if kind in ("wildcard", "regexp"):
        v = body.get("pattern") if isinstance(body, dict) else body
        if not isinstance(v, str):
            raise DslError(f"intervals {kind} requires a pattern")
        if kind == "wildcard":
            like = _wildcard_to_like(v.lower())

            def pred(t):
                return t.like(like)
        else:
            # Lucene whole-term anchoring; shared subset translation
            pat = f"^(?:{lucene_regex_to_java(v)})$"

            def pred(t):
                return t.rlike(pat)
        return F.filter(
            F.transform(arr, lambda t, i: F.when(pred(t), i)),
            lambda x: x.isNotNull(),
        )
    if kind == "fuzzy":
        if not isinstance(body, dict) or "term" not in body:
            raise DslError("intervals fuzzy requires a term")
        term = str(body["term"]).lower()
        edits = _max_edits(body.get("fuzziness", "AUTO"), term)
        return F.filter(
            F.transform(arr, lambda t, i: F.when(
                F.levenshtein(t, F.lit(term)) <= edits, i)),
            lambda x: x.isNotNull(),
        )
    if kind == "any_of":
        ivs = body.get("intervals") if isinstance(body, dict) else None
        if not isinstance(ivs, list) or not ivs:
            raise DslError("any_of requires a non-empty intervals list")
        out = None
        for iv in ivs:
            p = _intervals_tok_positions(arr, *_one_rule(iv))
            out = p if out is None else F.concat(out, p)
        return F.array_sort(F.array_distinct(out))
    raise DslError(
        f"intervals {kind} cannot nest under ordering/gap constraints")


def _one_rule(spec) -> tuple[str, dict]:
    if not isinstance(spec, dict) or len(spec) != 1:
        raise DslError(
            f"an intervals rule must have exactly one kind, got {spec!r}")
    kind, body = next(iter(spec.items()))
    if kind == "filter":
        raise DslError(
            "an intervals filter attaches INSIDE a rule body "
            "({'match': {..., 'filter': {...}}}), it is not a rule")
    if kind not in _INTERVALS_RULES:
        raise DslError(f"unsupported intervals rule {kind!r}")
    if isinstance(body, dict):
        allowed = {
            # every rule takes a filter (r10) — applied to its spans
            "match": {"query", "max_gaps", "ordered", "filter"},
            "prefix": {"prefix", "filter"},
            "wildcard": {"pattern", "filter"},
            "regexp": {"pattern", "filter"},
            "fuzzy": {"term", "fuzziness", "filter"},
            "any_of": {"intervals", "filter"},
            "all_of": {"intervals", "max_gaps", "ordered", "filter"},
        }[kind]
        unknown = sorted(set(body) - allowed)
        if unknown:
            # analyzer / use_field change which terms match — silently
            # ignoring them would change results
            raise DslError(
                f"unsupported intervals {kind} options: {unknown} "
                f"(supported: {sorted(allowed)})")
    return kind, body


def _minimal_spans(sp: Column) -> Column:
    """Lucene's MINIMAL-interval semantics: an interval strictly
    containing another match is never produced. Pairwise prune —
    O(m²) per row over a rule's own (small) match set."""
    return F.filter(
        sp,
        lambda a: ~F.coalesce(
            F.exists(sp, lambda b:
                     ((b["s"] > a["s"]) & (b["e"] <= a["e"]))
                     | ((b["s"] >= a["s"]) & (b["e"] < a["e"]))),
            F.lit(False)),
    )


#: intervals filter relations (rule body ``filter`` key, r10):
#: keep source spans standing in the relation to SOME filter span
_INTERVAL_FILTER_RELS = {
    "containing": lambda a, b: (a["s"] <= b["s"]) & (b["e"] <= a["e"]),
    "contained_by": lambda a, b: (b["s"] <= a["s"]) & (a["e"] <= b["e"]),
    "overlapping": lambda a, b: (a["s"] < b["e"]) & (b["s"] < a["e"]),
    # half-open [s, e): "entirely before/after" the filter span
    "before": lambda a, b: a["e"] <= b["s"],
    "after": lambda a, b: a["s"] >= b["e"],
}


def _apply_interval_filter(arr: Column, sp: Column, fspec) -> Column:
    """Apply a rule's ``filter`` option: keep source spans in the
    stated relation to the filter rule's spans (``not_*`` = in the
    relation to NONE of them). The filter rule is itself a span
    producer, so filters nest."""
    if not isinstance(fspec, dict) or len(fspec) != 1:
        raise DslError(
            "an intervals filter takes exactly one relation "
            f"({sorted(_INTERVAL_FILTER_RELS) + ['not_containing', 'not_contained_by', 'not_overlapping']}), got {fspec!r}")
    rel_name, frule = next(iter(fspec.items()))
    if rel_name == "script":
        # r11: the painless interval-filter script. ES exposes an
        # `interval` object with start/end (token positions, end
        # INCLUSIVE — our half-open spans map end → e-1) and gaps;
        # gaps are producer-internal state this engine does not carry
        # on produced spans, so referencing interval.gaps is a named
        # 400. The script compiles through the shared painless-subset
        # compiler (score_dsl.script_column) with the interval fields
        # pre-rewritten to its doc[...] reference form — evaluated
        # per SPAN as pure column algebra, zero exchanges like every
        # other intervals constraint.
        from sql_database_to_elastic_datalake_spark.plans.score_dsl import (
            script_column,
        )

        if not isinstance(frule, dict) or not isinstance(
                frule.get("source"), str):
            raise DslError(
                "intervals filter script requires a source string")
        src = frule["source"]
        if "interval.gaps" in src:
            raise DslError(
                "intervals filter scripts may reference "
                "interval.start / interval.end; interval.gaps is "
                "producer-internal state this engine does not carry "
                "on produced spans")
        rewritten = dict(frule)
        rewritten["source"] = (
            src.replace("interval.start", "doc['__iv_start'].value")
               .replace("interval.end", "doc['__iv_end'].value"))

        def _keep(a: Column) -> Column:
            def resolve(name: str, _a=a) -> Column:
                if name == "__iv_start":
                    return _a["s"].cast("double")
                if name == "__iv_end":
                    return (_a["e"] - 1).cast("double")
                raise DslError(
                    f"intervals filter scripts see only the interval "
                    f"object (interval.start / interval.end), not "
                    f"doc[{name!r}]")

            col = script_column(rewritten, resolve, base_score=None)
            # painless truthiness: non-zero keeps; null drops
            return F.coalesce(col != F.lit(0.0), F.lit(False))

        return F.filter(sp, _keep)
    neg = rel_name.startswith("not_")
    base_name = rel_name[4:] if neg else rel_name
    rel = _INTERVAL_FILTER_RELS.get(base_name)
    if rel is None or (neg and base_name in ("before", "after")):
        raise DslError(
            f"unsupported intervals filter relation {rel_name!r}")
    fsp = _intervals_spans(arr, *_one_rule(frule))
    if neg:
        return F.filter(
            sp, lambda a: ~F.coalesce(
                F.exists(fsp, lambda b: rel(a, b)), F.lit(False)))
    return F.filter(
        sp, lambda a: F.coalesce(
            F.exists(fsp, lambda b: rel(a, b)), F.lit(False)))


def _intervals_spans(arr: Column, kind: str, body) -> Column:
    """One intervals rule → its array<struct<s,e>> of match spans
    (half-open, minimal-interval pruned) — the producer that lets
    multi-token matches, ordered all_of chains, and filtered rules
    nest under ordering/gap constraints and under each other. The
    unordered constrained combinations have no bounded span
    enumeration (their minimal windows interleave) — membership-only
    there, named 400 here."""
    fspec = body.get("filter") if isinstance(body, dict) else None
    if kind == "match":
        if not isinstance(body, dict) or "query" not in body:
            raise DslError("intervals match requires a query")
        toks = tokenize(str(body["query"]))
        if len(toks) > _MAX_SPAN_CLAUSES:
            raise DslError(
                f"intervals match supports at most {_MAX_SPAN_CLAUSES}"
                " tokens")
        if not toks:
            sp = F.array().cast("array<struct<s:int,e:int>>")
        elif len(toks) == 1:
            sp = _pos_to_spans(_token_positions(arr, toks[0]))
        else:
            ordered = bool(body.get("ordered", False))
            mg = body.get("max_gaps", -1)
            if not isinstance(mg, int):
                raise DslError(f"malformed max_gaps {mg!r}")
            if not ordered:
                raise DslError(
                    "an unordered multi-token intervals match cannot "
                    "produce spans (its minimal windows have no "
                    "bounded enumeration); use ordered: true here")
            sp = _minimal_spans(_chain_spans(
                [_pos_to_spans(_token_positions(arr, t))
                 for t in toks], mg))
    elif kind == "any_of":
        ivs = body.get("intervals") if isinstance(body, dict) else None
        if not isinstance(ivs, list) or not ivs:
            raise DslError("any_of requires a non-empty intervals list")
        out = None
        for iv in ivs:
            p = _intervals_spans(arr, *_one_rule(iv))
            out = p if out is None else F.concat(out, p)
        sp = _minimal_spans(F.array_sort(F.array_distinct(out)))
    elif kind == "all_of":
        ivs = body.get("intervals") if isinstance(body, dict) else None
        if not isinstance(ivs, list) or not ivs:
            raise DslError("all_of requires a non-empty intervals list")
        if len(ivs) > _MAX_SPAN_CLAUSES:
            raise DslError(
                f"at most {_MAX_SPAN_CLAUSES} proximity clauses")
        mg = body.get("max_gaps", -1)
        if not isinstance(mg, int):
            raise DslError(f"malformed max_gaps {mg!r}")
        if not bool(body.get("ordered", False)):
            raise DslError(
                "an unordered all_of cannot produce spans (its "
                "minimal windows have no bounded enumeration); use "
                "ordered: true here")
        sp = _minimal_spans(_chain_spans(
            [_intervals_spans(arr, *_one_rule(iv)) for iv in ivs], mg))
    else:
        # single-token leaves: prefix / wildcard / regexp / fuzzy
        sp = _pos_to_spans(_intervals_tok_positions(arr, kind, body))
    if fspec is not None:
        sp = _apply_interval_filter(arr, sp, fspec)
    return sp


def _rule_required_tokens(kind: str, body) -> list[str]:
    """Tokens that MUST appear in the field for an intervals rule to
    match — the necessary-condition set behind the contains() guard at
    the intervals leaf. ``match``: all of its analyzed tokens (a
    ``filter`` relation only restricts the source spans, so the source
    tokens stay necessary); ``all_of``: the union over sub-rules.
    Other kinds (any_of, prefix, wildcard, regexp, fuzzy) return []
    — no guard, the rule evaluates as before."""
    if kind == "match" and isinstance(body, dict):
        toks = tokenize(str(body.get("query", "")))
        return list(dict.fromkeys(toks))
    if kind == "all_of" and isinstance(body, dict) \
            and isinstance(body.get("intervals"), list):
        out: list[str] = []
        for iv in body["intervals"]:
            try:
                out.extend(_rule_required_tokens(*_one_rule(iv)))
            except DslError:
                return []
        return list(dict.fromkeys(out))
    return []


def _intervals_rule(arr: Column, kind: str, body) -> Column:
    """One intervals rule → boolean membership (score-free filter
    context, like the span family). Constrained combinations run the
    nested-exists walk (r10 — exact for any clause count; the r9
    unordered-2-clause cap is gone); the unordered flavor permits
    overlapping sub-intervals, matching both Lucene's intervals
    UNORDERED and NearSpansUnordered (r11 — one shared walk)."""
    if isinstance(body, dict) and body.get("filter") is not None:
        # a filtered rule goes through the span producer (the filter
        # relation needs real spans)
        return F.coalesce(
            F.size(_intervals_spans(arr, kind, body)) > 0,
            F.lit(False))
    if kind == "match":
        if not isinstance(body, dict) or "query" not in body:
            raise DslError("intervals match requires a query")
        toks = tokenize(str(body["query"]))
        if not toks:
            return F.lit(False)
        if len(toks) > _MAX_SPAN_CLAUSES:
            raise DslError(
                f"intervals match supports at most {_MAX_SPAN_CLAUSES}"
                " tokens")
        ordered = bool(body.get("ordered", False))
        mg = body.get("max_gaps", -1)
        if not isinstance(mg, int):
            raise DslError(f"malformed max_gaps {mg!r}")
        return _spans_near_exists(
            [_pos_to_spans(_token_positions(arr, t)) for t in toks],
            ordered, mg, single_token=True)
    if kind == "all_of":
        ivs = body.get("intervals") if isinstance(body, dict) else None
        if not isinstance(ivs, list) or not ivs:
            raise DslError("all_of requires a non-empty intervals list")
        ordered = bool(body.get("ordered", False))
        mg = body.get("max_gaps", -1)
        if not isinstance(mg, int):
            raise DslError(f"malformed max_gaps {mg!r}")
        if not ordered and mg < 0:
            # unconstrained conjunction — sub-rules keep their own
            # internal constraints, exact for any rule shape
            out = F.lit(True)
            for iv in ivs:
                out = out & _intervals_rule(arr, *_one_rule(iv))
            return out
        # constrained: sub-rules must produce spans — multi-token
        # ordered matches, nested ordered all_of and filtered rules
        # all qualify now (r10); unordered nested combinations stay
        # the producer's named 400
        return _spans_near_exists(
            [_intervals_spans(arr, *_one_rule(iv)) for iv in ivs],
            ordered, mg)
    if kind == "any_of":
        ivs = body.get("intervals") if isinstance(body, dict) else None
        if not isinstance(ivs, list) or not ivs:
            raise DslError("any_of requires a non-empty intervals list")
        out = F.lit(False)
        for iv in ivs:
            out = out | _intervals_rule(arr, *_one_rule(iv))
        return out
    # leaf token rules: membership = any matching position
    return F.coalesce(
        F.size(_intervals_tok_positions(arr, kind, body)) > 0,
        F.lit(False))


def _fuzzy_match(col: Column, text: str, fuzziness, operator: str) -> Column:
    """Fuzziness-in-match (r7 — previously a named 400): each query
    token matches any DOCUMENT token within its edit budget (AUTO
    ladder per token length, like ES). The doc side tokenizes in-plan
    (:func:`_token_array`) so the comparison is token-vs-token like
    ES's term-level fuzzy expansion — ``exists(tokens, levenshtein ≤
    k)`` per query token, OR/AND by ``operator``. No UDF."""
    toks = tokenize(text)
    if not toks:
        return F.lit(False)

    def over(arr: Column) -> Column:
        def _fuzzy_tok(tok: str) -> Column:
            maxed = _max_edits(fuzziness, tok)
            return F.coalesce(
                F.exists(arr, lambda t: F.levenshtein(
                    t, F.lit(tok)) <= F.lit(maxed)),
                F.lit(False))

        preds = [_fuzzy_tok(tok) for tok in toks]
        acc = preds[0]
        for p in preds[1:]:
            acc = (acc & p) if operator == "and" else (acc | p)
        return acc

    # token array LET-bound (r14, _let1): one tokenizer run per row,
    # not one per query token
    return _let1(_token_array(col), over)


def _match_tokens(col: Column, text: str, require_all: bool = False) -> Column:
    toks = tokenize(str(text))
    if not toks:
        # ES default zero_terms_query='none': a query that analyzes to
        # no tokens matches NOTHING (lit(True) here inverted the whole
        # result set under must_not)
        return F.lit(False)
    low = F.lower(col.cast("string"))
    preds = [low.contains(t) for t in toks]
    acc = preds[0]
    for p in preds[1:]:
        acc = (acc & p) if require_all else (acc | p)
    return acc


#: Compiled-predicate cache (r14, guide §5 driver overhead): span /
#: intervals / fuzzy trees cost 1-2 s of pure driver time to build —
#: thousands of py4j round-trips composing Column nodes — and a serving
#: engine compiles the SAME stored/repeated queries over and over (the
#: prepared-statement pattern; ES itself caches parsed queries). A
#: Column is an immutable unresolved-expression handle, safe to reuse
#: across DataFrames and sessions within the process, so identical
#: (dsl, schema) requests return the identical handle. This caches
#: EXPRESSIONS only — every action still computes from the data; no
#: result or plan-output ever lands here.
_COMPILE_CACHE: "dict[tuple, Column]" = {}
_COMPILE_CACHE_MAX = 512


def _compile_cache_key(dsl: dict, schema_fields) -> tuple | None:
    import json as _json

    try:
        return (_json.dumps(dsl, sort_keys=True), repr(schema_fields))
    except (TypeError, ValueError):
        return None  # non-JSON payload: compile uncached


def compile_dsl(
    dsl: dict,
    field_resolver: Callable[[str], Column] | None = None,
    schema_fields: list[str] | None = None,
) -> Column:
    """Compile an ES query DSL tree into one boolean Column (cached:
    identical ``(dsl, schema_fields)`` requests with the default field
    resolver return the same Column handle — see ``_COMPILE_CACHE``).
    """
    if field_resolver is None:
        key = _compile_cache_key(dsl, schema_fields)
        if key is not None:
            hit = _COMPILE_CACHE.get(key)
            if hit is not None:
                return hit
            out = _compile_dsl(dsl, None, schema_fields)
            if len(_COMPILE_CACHE) >= _COMPILE_CACHE_MAX:
                _COMPILE_CACHE.clear()
            _COMPILE_CACHE[key] = out
            return out
    return _compile_dsl(dsl, field_resolver, schema_fields)


def _compile_dsl(
    dsl: dict,
    field_resolver: Callable[[str], Column] | None = None,
    schema_fields: list[str] | None = None,
) -> Column:
    """Compile an ES query DSL tree into one boolean Column.

    ``field_resolver`` maps a DSL field name to a Column — override it
    for renamed/nested columns; defaults to ``F.col``.

    ``schema_fields`` is the table's column list, used ONLY to expand
    wildcard field patterns in ``multi_match`` (``fields: ["*_name"]``)
    the way ES expands them from the index mapping; callers that know
    the DataFrame (the API layer) pass ``df.columns``. Without it,
    wildcard patterns raise — a schema-free compiler cannot guess.

    r14: ``schema_fields`` may also be the DataFrame's ``StructType``
    (``df.schema``) — same name semantics, plus geo leaves can then
    TYPE-check struct columns (named 400 instead of an
    AnalysisException when a filter names a non-geo column).
    """
    schema_fields = _norm_schema_fields(schema_fields)
    col = field_resolver or F.col

    if not isinstance(dsl, dict) or len(dsl) != 1:
        raise DslError(f"query node must have exactly one key, got {dsl!r}")
    kind, body = next(iter(dsl.items()))
    if not isinstance(body, dict):
        raise DslError(f"{kind} query body must be an object, got {body!r}")

    if kind == "match_all":
        return F.lit(True)

    if kind == "term":
        field, value = _field_value(body, allowed=("case_insensitive",))
        if isinstance(value, (list, dict)):
            raise DslError(f"term {field!r} value must be a scalar "
                           "(use terms for a list)")
        if isinstance(value, str) and "/" in value:
            # r14 (r13 verdict #7): a CIDR-shaped term takes ES's
            # ip-field block semantics — two numeric comparisons over
            # the parsed long; non-ip column values parse null and
            # never match (two-valued, like every other leaf)
            from sql_database_to_elastic_datalake_spark.functions.ip \
                import cidr_member, is_cidr_literal

            if is_cidr_literal(value):
                return cidr_member(col(field).cast("string"), value)
            if ":" in value \
                    and re.fullmatch(r"[0-9A-Fa-f:]+/\d{1,3}", value):
                raise DslError(
                    f"ipv6 CIDR term {value!r} is unimplemented "
                    "(needs 128-bit two-long arithmetic)")
        if _spec_flag(body, "case_insensitive"):
            return (F.lower(col(field).cast("string"))
                    == F.lit(str(value).lower()))
        return col(field) == F.lit(value)

    if kind == "terms":
        # ES allows a sibling boost key next to the field in the terms
        # object — accepted-and-ignored like every other boost
        body = {k: v for k, v in body.items() if k != "boost"}
        if len(body) != 1:
            raise DslError("terms expects one field")
        field, values = next(iter(body.items()))
        if not isinstance(values, list):
            raise DslError(f"terms {field!r} requires a list of values")
        return col(field).isin(values)

    if kind == "ids":
        values = body.get("values")
        if not isinstance(values, list):
            raise DslError("ids requires a values list")
        return col(body.get("field", "id")).cast("string").isin(
            [str(v) for v in values]
        )

    if kind == "range":
        if len(body) != 1:
            raise DslError("range expects one field")
        field, bounds = next(iter(body.items()))
        if not isinstance(bounds, dict):
            raise DslError(f"range {field!r} requires an object of bounds")
        c = col(field)
        preds = []
        ops = {"gte": c.__ge__, "gt": c.__gt__, "lte": c.__le__, "lt": c.__lt__}
        for op, v in bounds.items():
            if op == "boost":
                continue  # scoring-only; honored by compile_score
            if op not in ops:
                raise DslError(f"unsupported range op {op}")
            preds.append(ops[op](F.lit(v)))
        if not preds:
            raise DslError("empty range")
        acc = preds[0]
        for p in preds[1:]:
            acc = acc & p
        return acc

    if kind == "exists":
        if not body.get("field"):
            raise DslError("exists requires a field")
        return col(body["field"]).isNotNull()

    if kind == "prefix":
        field, value = _field_value(body, allowed=("case_insensitive",))
        if _spec_flag(body, "case_insensitive"):
            return F.lower(col(field).cast("string")).startswith(
                str(value).lower())
        return col(field).cast("string").startswith(str(value))

    if kind == "wildcard":
        field, value = _field_value(body, allowed=("case_insensitive",))
        if _spec_flag(body, "case_insensitive"):
            return F.lower(col(field).cast("string")).like(
                _wildcard_to_like(str(value).lower()))
        return col(field).cast("string").like(_wildcard_to_like(str(value)))

    if kind == "regexp":
        # ES regexp queries anchor to the WHOLE field value (Lucene
        # semantics), unlike rlike's substring search — wrap in ^$.
        # The pattern goes through the shared Lucene-subset
        # translation (r11): @ → .*, automaton operators named 400s.
        field, value = _field_value(body, allowed=("case_insensitive",))
        pat = f"^(?:{lucene_regex_to_java(str(value))})$"
        if _spec_flag(body, "case_insensitive"):
            pat = "(?i)" + pat
        return col(field).cast("string").rlike(pat)

    if kind == "fuzzy":
        field, value = _field_value(body, allowed=("fuzziness",))
        spec = body[field] if isinstance(body[field], dict) else {}
        fuzziness = _max_edits(spec.get("fuzziness", "AUTO"), str(value))
        return F.levenshtein(
            F.lower(col(field).cast("string")), F.lit(str(value).lower())
        ) <= fuzziness

    if kind == "match":
        field, value = _field_value(
            body, value_key="query",
            allowed=("operator", "zero_terms_query", "fuzziness"))
        spec = body[field] if isinstance(body[field], dict) else {}
        operator = spec.get("operator", "or")
        if operator not in ("and", "or"):
            raise DslError(f"unknown match operator {operator!r}")
        ztq = spec.get("zero_terms_query", "none")
        if ztq not in ("none", "all"):
            raise DslError(f"unknown zero_terms_query {ztq!r}")
        if ztq == "all" and not tokenize(str(value)):
            # ES: an all-stopword/empty query matches EVERY doc under
            # zero_terms_query: "all" (the default "none" matches none)
            return F.lit(True)
        if spec.get("fuzziness") is not None:
            return _fuzzy_match(col(field), str(value),
                                spec["fuzziness"], operator)
        return _match_tokens(col(field), value, require_all=operator == "and")

    if kind == "match_phrase":
        field, value = _field_value(body, value_key="query",
                                    allowed=("slop",))
        spec = body[field] if isinstance(body[field], dict) else {}
        slop = spec.get("slop", 0)
        if not isinstance(slop, int) or isinstance(slop, bool) or slop < 0:
            raise DslError(f"malformed match_phrase slop {slop!r}")
        if slop:
            # sloppy phrase (r7 — previously a named 400): positional
            # token match, see _sloppy_phrase. slop: 0 keeps the
            # documented substring semantics (exact adjacency).
            toks = tokenize(str(value))
            if not toks:
                return F.lit(False)
            if len(toks) == 1:
                return _match_tokens(col(field), value)
            if len(toks) > _MAX_SLOP_TOKENS:
                raise DslError(
                    f"match_phrase slop supports phrases of at most "
                    f"{_MAX_SLOP_TOKENS} tokens (got {len(toks)})"
                )
            return _sloppy_phrase(col(field), toks, slop)
        return F.lower(col(field).cast("string")).contains(str(value).lower())

    if kind == "match_phrase_prefix":
        # under this compiler's substring phrase semantics (see module
        # docstring), a phrase whose LAST term may be a prefix is
        # exactly the plain substring test: "pandas lo" is a substring
        # of "pandas loop". Accepted as its own node type for DSL
        # compatibility; compiles identically to match_phrase.
        # max_expansions only BOUNDS ES's candidate expansion — our
        # substring form has no expansion step to bound.
        field, value = _field_value(body, value_key="query",
                                    allowed=("max_expansions",))
        return F.lower(col(field).cast("string")).contains(str(value).lower())

    if kind == "constant_score":
        # scoring wrapper: in filter context only the inner filter
        # matters; boost (the thing it exists to set) is accepted and
        # ignored per the module's boost divergence note.
        if "filter" not in body:
            raise DslError("constant_score requires a filter clause")
        return compile_dsl(body["filter"], field_resolver, schema_fields)

    if kind == "terms_set":
        # array-membership with a per-document required-match count:
        # {"f": {"terms": [...], "minimum_should_match_field": "n"}}.
        # size(array_intersect(f, terms)) >= n — pure column algebra,
        # no explode. minimum_should_match_script is not supported
        # (needs Painless); a missing count field reads as no match,
        # consistent with ES treating null msm as unsatisfiable.
        if len(body) != 1:
            raise DslError("terms_set expects one field")
        field, spec = next(iter(body.items()))
        if not isinstance(spec, dict) or "terms" not in spec:
            raise DslError("terms_set requires a terms list")
        terms = [F.lit(t) for t in spec["terms"]]
        if "minimum_should_match_field" in spec:
            required = col(spec["minimum_should_match_field"])
        elif "minimum_should_match" in spec:
            required = F.lit(
                resolve_minimum_should_match(
                    spec["minimum_should_match"], len(terms)
                )
            )
        else:
            raise DslError(
                "terms_set requires minimum_should_match_field or "
                "minimum_should_match (scripts are not supported)"
            )
        matched = F.size(F.array_intersect(col(field), F.array(*terms)))
        return matched >= required

    if kind == "multi_match":
        # type / tie_breaker only shape ES's SCORING (this compiler is
        # a boolean filter) — accepted-and-ignored like boost; keys
        # with match-set semantics we don't implement (fuzziness,
        # slop, …) are named errors
        unknown = sorted(set(body) - {"query", "fields", "operator",
                                      "type", "tie_breaker", "boost",
                                      "fuzziness"})
        if unknown:
            raise DslError(
                f"unsupported multi_match options: {unknown} "
                "(supported: query, fields, operator, fuzziness; "
                "type/tie_breaker/boost accepted-and-ignored)"
            )
        mm_operator = str(body.get("operator", "or")).lower()
        if mm_operator not in ("and", "or"):
            raise DslError(f"unknown multi_match operator {mm_operator!r}")
        query = body["query"]
        fields = body.get("fields")
        if not isinstance(fields, list) or not fields:
            # ES expands omitted fields from the index mapping's
            # default_field; a schema-free compiler cannot — the API
            # layer (which knows the table) passes explicit fields
            # (plans/search.py does exactly that). Surfacing the
            # contract beats compiling F.col("*"), which fails analysis
            # unreadably.
            raise DslError(
                "multi_match requires an explicit non-empty fields list "
                "(field expansion needs the table schema)"
            )
        expanded: list[str] = []
        for f in fields:
            # per-field boost suffix ("name^3") — accepted and ignored,
            # see the module docstring's boost divergence note
            name = str(f).split("^", 1)[0]
            if "*" in name or "?" in name:
                if schema_fields is None:
                    raise DslError(
                        f"wildcard field pattern {f!r} needs the table "
                        "schema (pass schema_fields=df.columns)"
                    )
                expanded.extend(
                    c for c in schema_fields
                    if fnmatch.fnmatchcase(c, name)
                )
            else:
                expanded.append(name)
        expanded = list(dict.fromkeys(expanded))
        if not expanded:
            # ES semantics: fields that resolve to nothing match no
            # documents (match_no_docs), not all of them
            return F.lit(False)
        if body.get("fuzziness") is not None:
            # per-field fuzzy match (r7), any field may satisfy —
            # ES's most_fields/best_fields membership semantics
            preds = [
                _fuzzy_match(col(f), str(query), body["fuzziness"],
                             mm_operator)
                for f in expanded
            ]
        else:
            preds = [
                _match_tokens(col(f), query,
                              require_all=mm_operator == "and")
                for f in expanded
            ]
        acc = preds[0]
        for p in preds[1:]:
            acc = acc | p
        return acc

    if kind in ("query_string", "simple_query_string"):
        # the Lucene string grammar is pure FRONT-END: it parses to a
        # structured tree of the leaves above and recurses — search
        # semantics, pushdown, and codegen are exactly the structured
        # path's (plans/query_string.py documents the grammar subset)
        from sql_database_to_elastic_datalake_spark.plans.query_string import (
            parse_query_string,
        )

        tree = parse_query_string(
            body, schema_fields=schema_fields,
            simple=kind == "simple_query_string",
        )
        return compile_dsl(tree, field_resolver, schema_fields)

    if kind == "nested":
        path = body["path"]
        inner = body["query"]
        prefix = path + "."

        def nested_resolver(element: Column) -> Callable[[str], Column]:
            def resolve(field: str) -> Column:
                name = field[len(prefix):] if field.startswith(prefix) else field
                return element[name]

            return resolve

        return F.exists(
            col(path), lambda el: compile_dsl(inner, nested_resolver(el))
        )

    if kind == "bool":
        clauses: list[Column] = []
        for key in ("must", "filter"):
            for sub in _as_list(body.get(key)):
                clauses.append(compile_dsl(sub, field_resolver, schema_fields))
        for sub in _as_list(body.get("must_not")):
            clauses.append(~_ns(compile_dsl(sub, field_resolver, schema_fields)))
        should = [
            compile_dsl(s, field_resolver, schema_fields)
            for s in _as_list(body.get("should"))
        ]
        if should:
            # ES default: should clauses only filter when there are no
            # must/filter clauses (minimum_should_match defaults to 1
            # then, else 0 — scoring-only, which we have no notion of).
            raw = body.get("minimum_should_match")
            if raw is None:
                msm = 0 if clauses else 1
            else:
                msm = resolve_minimum_should_match(raw, len(should))
            if msm <= 0 and not clauses:
                # Lucene rule: a BooleanQuery with no required clauses
                # must still match at least one optional clause, even
                # when the computed minimum is zero or negative
                msm = 1
            if msm == 1:
                acc = should[0]
                for p in should[1:]:
                    acc = acc | p
                clauses.append(acc)
            elif msm > 1:
                # a minimum above len(should) is naturally
                # unsatisfiable through the count comparison —
                # Lucene's behavior (matches nothing)
                count = sum((_ns(p).cast("int") for p in should), F.lit(0))
                clauses.append(count >= msm)
        if not clauses:
            return F.lit(True)
        acc = clauses[0]
        for p in clauses[1:]:
            acc = acc & p
        return acc

    if kind == "dis_max":
        # scoring picks the best sub-query; MEMBERSHIP is the union —
        # in filter context dis_max is exactly OR (tie_breaker only
        # blends scores, accepted-and-ignored like boost)
        queries = body.get("queries")
        if not isinstance(queries, list) or not queries:
            raise DslError("dis_max requires a non-empty queries list")
        preds = [compile_dsl(q, field_resolver, schema_fields)
                 for q in queries]
        acc = preds[0]
        for p in preds[1:]:
            acc = acc | p
        return acc

    if kind == "boosting":
        # the negative clause only DEMOTES scores; membership is the
        # positive clause alone. The negative query still compiles so
        # a malformed saved query errors here like it would on ES.
        if "positive" not in body:
            raise DslError("boosting requires a positive clause")
        if "negative" in body:
            compile_dsl(body["negative"], field_resolver, schema_fields)
        return compile_dsl(body["positive"], field_resolver,
                           schema_fields)

    if kind == "match_bool_prefix":
        # search-as-you-type: every term matches as a term, the last
        # as a prefix. Under this compiler's documented substring
        # match semantics a prefix fragment IS a substring test, so
        # this compiles exactly like match (operator honored).
        field, value = _field_value(body, value_key="query",
                                    allowed=("operator",))
        spec = body[field] if isinstance(body[field], dict) else {}
        operator = spec.get("operator", "or")
        if operator not in ("and", "or"):
            raise DslError(f"unknown match_bool_prefix operator "
                           f"{operator!r}")
        return _match_tokens(col(field), value,
                             require_all=operator == "and")

    if kind == "combined_fields":
        # TERM-CENTRIC (unlike multi_match's field-centric
        # best_fields): with operator "and", every term must appear in
        # at least one of the fields; "or", any term anywhere.
        unknown = sorted(set(body) - {"query", "fields", "operator",
                                      "boost",
                                      "auto_generate_synonyms_phrase_query"})
        if unknown:
            raise DslError(
                f"unsupported combined_fields options: {unknown} "
                "(supported: query, fields, operator)"
            )
        fields = body.get("fields")
        if not isinstance(fields, list) or not fields:
            raise DslError(
                "combined_fields requires a non-empty fields list")
        operator = str(body.get("operator", "or")).lower()
        if operator not in ("and", "or"):
            raise DslError(
                f"unknown combined_fields operator {operator!r}")
        expanded: list[str] = []
        for f in fields:
            name = str(f).split("^", 1)[0]
            if "*" in name or "?" in name:
                if schema_fields is None:
                    raise DslError(
                        f"wildcard field pattern {f!r} needs the table "
                        "schema (pass schema_fields=df.columns)"
                    )
                expanded.extend(c for c in schema_fields
                                if fnmatch.fnmatchcase(c, name))
            else:
                expanded.append(name)
        expanded = list(dict.fromkeys(expanded))
        if not expanded:
            return F.lit(False)
        toks = tokenize(str(body.get("query", "")))
        if not toks:
            return F.lit(False)
        per_tok = []
        for t in toks:
            p = F.lit(False)
            for f in expanded:
                p = p | F.coalesce(
                    F.lower(col(f).cast("string")).contains(t),
                    F.lit(False))
            per_tok.append(p)
        acc = per_tok[0]
        for p in per_tok[1:]:
            acc = (acc & p) if operator == "and" else (acc | p)
        return acc

    if kind == "wrapper":
        # base64-wrapped query (SDK passthroughs emit these) — decode
        # and recurse; the payload gets the full compiler, pushdown
        # included
        import base64
        import json as _json

        raw = body.get("query")
        if not isinstance(raw, str):
            raise DslError("wrapper requires a base64 query string")
        try:
            inner = _json.loads(base64.b64decode(raw))
        except Exception:
            raise DslError("wrapper query is not valid base64 JSON") \
                from None
        return compile_dsl(inner, field_resolver, schema_fields)

    if kind == "more_like_this":
        # "find documents like these": representative terms extracted
        # from the like-text(s), OR'd under minimum_should_match.
        # DOCUMENTED DIVERGENCE: ES selects terms by shard-local
        # tf-idf and prunes by corpus doc frequency — statistics that
        # are non-reproducible across shards even on ES itself. Term
        # selection here is like-text tf with an alphabetical
        # tie-break (deterministic, replayable by the oracle);
        # min_doc_freq/max_doc_freq are therefore accepted-and-ignored
        # (keeping them a 400 would reject every client default —
        # the official client sends min_doc_freq: 5 implicitly).
        # Membership-only in filter context like every compound; pair
        # with function_score for ranked pages.
        unknown = sorted(set(body) - {
            "fields", "like", "min_term_freq", "max_query_terms",
            "minimum_should_match", "min_word_length",
            "max_word_length", "stop_words", "boost",
            # corpus-statistics and scoring-only keys, accepted-and-
            # ignored per the divergence note above
            "min_doc_freq", "max_doc_freq", "boost_terms",
            "fail_on_unsupported_field", "include", "analyzer",
        })
        if unknown:
            raise DslError(
                f"unsupported more_like_this keys: {unknown}")
        raw_fields = body.get("fields")
        if not isinstance(raw_fields, list) or not raw_fields:
            raise DslError("more_like_this requires a fields list")
        likes = _as_list(body.get("like"))
        if not likes:
            raise DslError("more_like_this requires like")
        texts: list[str] = []
        for e in likes:
            if isinstance(e, str):
                texts.append(e)
            else:
                raise DslError(
                    "more_like_this like-by-document entries "
                    "({'_id': …}) are resolved by the API layer; "
                    "the schema-free compiler takes like TEXT"
                )
        min_tf = int(body.get("min_term_freq", 2))
        max_terms = int(body.get("max_query_terms", 25))
        if max_terms <= 0:
            raise DslError("max_query_terms must be positive")
        min_wl = int(body.get("min_word_length", 0))
        max_wl = int(body.get("max_word_length", 0))
        stops = {str(s).lower()
                 for s in _as_list(body.get("stop_words"))}
        tf: dict[str, int] = {}
        for t in texts:
            for tok in tokenize(str(t)):
                tf[tok] = tf.get(tok, 0) + 1
        cands = sorted(
            ((n, tok) for tok, n in tf.items()
             if n >= min_tf and len(tok) >= min_wl
             and (not max_wl or len(tok) <= max_wl)
             and tok not in stops),
            key=lambda p: (-p[0], p[1]))
        terms = [tok for _, tok in cands[:max_terms]]
        if not terms:
            return F.lit(False)
        expanded: list[str] = []
        for f in raw_fields:
            name = str(f).split("^", 1)[0]
            if "*" in name or "?" in name:
                if schema_fields is None:
                    raise DslError(
                        f"wildcard field pattern {f!r} needs the "
                        "table schema (pass schema_fields=df.columns)"
                    )
                expanded.extend(c for c in schema_fields
                                if fnmatch.fnmatchcase(c, name))
            else:
                expanded.append(name)
        expanded = list(dict.fromkeys(expanded))
        if not expanded:
            return F.lit(False)
        per_term = []
        for t in terms:
            p = F.lit(False)
            for f in expanded:
                p = p | F.coalesce(
                    F.lower(col(f).cast("string")).contains(t),
                    F.lit(False))
            per_term.append(p)
        msm = resolve_minimum_should_match(
            body.get("minimum_should_match", "30%"), len(per_term))
        if msm <= 1:
            acc = per_term[0]
            for p in per_term[1:]:
                acc = acc | p
            return acc
        count = sum((_ns(p).cast("int") for p in per_term), F.lit(0))
        return count >= msm

    if kind in ("function_score", "script_score"):
        # In FILTER context (this compiler's output) a scoring wrapper
        # is pure membership of its inner query — the same posture as
        # dis_max/boosting (scoring keys shape rank order, which
        # filter context does not have). The RANKED path lives in
        # plans.score_dsl + the API layer, which compiles the same
        # body into (predicate, score) and orders the page by it.
        # min_score is honored where a score exists; here it would
        # silently change membership, so it is a named 400.
        if body.get("min_score") is not None:
            raise DslError(
                f"{kind}.min_score needs scoring context (top-level "
                "query position); filter context is membership-only"
            )
        return compile_dsl(body.get("query", {"match_all": {}}),
                           field_resolver, schema_fields)

    if kind == "rank_feature":
        # inside a bool tree this is membership only (score-free
        # filter context — ES's own rank_feature matches docs with a
        # positive feature value); as a TOP-LEVEL query the API layer
        # routes it to the scored page before reaching here
        # (score_dsl.rank_feature_columns has the scoring math)
        if not isinstance(body.get("field"), str):
            raise DslError("rank_feature requires a field")
        unknown = sorted(set(body) - {
            "field", "boost", "saturation", "log", "sigmoid", "linear"})
        if unknown:
            raise DslError(f"unsupported rank_feature keys: {unknown}")
        # uncast comparison so the positive-feature membership pushes
        # into the parquet scan
        return F.coalesce(col(body["field"]) > 0, F.lit(False))

    if kind == "distance_feature":
        # membership = has the field (ES semantics); scoring only on
        # the top-level ranked page (score_dsl.distance_feature_columns)
        if not isinstance(body.get("field"), str):
            raise DslError("distance_feature requires a field")
        unknown = sorted(set(body) - {"field", "origin", "pivot",
                                      "boost"})
        if unknown:
            raise DslError(
                f"unsupported distance_feature keys: {unknown}")
        if "origin" not in body or "pivot" not in body:
            raise DslError("distance_feature requires origin and pivot")
        f = body["field"]
        if schema_fields is not None and f"{f}_lat" in schema_fields \
                and f"{f}_lon" in schema_fields:
            # r13 late: geo tier — membership is "has the point"
            return (col(f"{f}_lat").isNotNull()
                    & col(f"{f}_lon").isNotNull())
        return col(f).isNotNull()

    if kind == "script":
        # ES filter-context script query ({"script": {"script": {…}}}):
        # the painless-subset compiler (plans/score_dsl) evaluates the
        # expression per row; truthiness is non-zero. ES exposes no
        # _score to filter scripts — neither does this context (named
        # 400 via base_score=None). A null result (missing doc value,
        # division by zero) does NOT match — the documented
        # refuse-silently-wrong posture, where painless throws.
        # Reference parity: the reference forwards these bodies
        # verbatim (/root/reference/src/search_api.py:38-46).
        from sql_database_to_elastic_datalake_spark.plans.score_dsl import (
            script_column,
        )

        if "script" not in body:
            raise DslError("script query requires a script object")
        unknown = sorted(set(body) - {"script", "boost"})
        if unknown:
            raise DslError(f"unsupported script query keys: {unknown}")
        val = script_column(body["script"], col, base_score=None)
        return F.coalesce(val != F.lit(0.0), F.lit(False))

    if kind in _SPAN_KINDS:
        return _compile_span(kind, body, col)

    if kind == "intervals":
        # the modern proximity surface ({"intervals": {field: rule}}):
        # match/prefix/wildcard/regexp/fuzzy/any_of/all_of compiled
        # onto the same positional token-array algebra as the span
        # family (score-free membership; `filter` rules and
        # analyzer/use_field overrides are named 400s)
        if len(body) != 1:
            raise DslError("intervals expects one field")
        field, spec = next(iter(body.items()))
        if isinstance(spec, dict) and "boost" in spec:
            spec = {k: v for k, v in spec.items() if k != "boost"}
        rkind, rbody = _one_rule(spec)
        # r14 (guide §1.2 per-row work): bind the token array ONCE via
        # a 1-element exists() — Catalyst has no LET, and the rule
        # tree references the array once per term/position helper, so
        # the regexp tokenizer ran 5x per row in the r13 plan
        # (measured sf0.1 steady 1.45 -> 0.52 s; identical rows — the
        # single-element exists returns exactly f(element), nulls
        # included)
        pred = _let1(_token_array(col(field)),
                     lambda a: _intervals_rule(a, rkind, rbody))
        # r14 (guide §2.2 cheap pre-filter): every token of a match /
        # all_of rule tree is a NECESSARY substring of the lowercased
        # field (doc tokens are substrings of lower(text) by
        # construction of _token_array), so a contains() conjunction
        # short-circuits the positional span algebra — the expensive
        # part — on every row that cannot match. Pure pruning: rows
        # passing the guard evaluate exactly the old predicate;
        # rows failing it evaluated to FALSE before too.
        req = _rule_required_tokens(rkind, rbody)
        if req:
            low = F.lower(col(field).cast("string"))
            guard = low.contains(req[0])
            for t in req[1:]:
                guard = guard & low.contains(t)
            pred = guard & pred
        return pred

    if kind == "pinned":
        # promoted ids + organic results: membership is the union
        # (the pinning only affects rank order, which sorted/filter
        # contexts define themselves)
        ids = body.get("ids")
        organic = body.get("organic")
        if not isinstance(ids, list) or organic is None:
            raise DslError("pinned requires ids and organic")
        id_pred = col(body.get("field", "id")).cast("string").isin(
            [str(v) for v in ids])
        return id_pred | compile_dsl(organic, field_resolver,
                                     schema_fields)

    if kind == "geo_distance":
        # r13 (r12 verdict stretch #9): ES geo_distance membership —
        # haversine (Lucene's mean earth radius) against a literal
        # point, pure column algebra. Parquet-native geo_point
        # encoding: a `f_lat`/`f_lon` column pair, or a struct column
        # `f` with lat/lon fields.
        from sql_database_to_elastic_datalake_spark.functions.geo import (
            haversine_km,
            parse_distance_km,
        )

        opts = {k: v for k, v in body.items()
                if k in ("distance", "distance_type",
                         "validation_method", "_name", "boost")}
        fields = {k: v for k, v in body.items() if k not in opts}
        if "distance" not in opts:
            raise DslError("geo_distance requires distance")
        if opts.get("distance_type", "arc") != "arc":
            raise DslError(
                "unsupported geo_distance distance_type "
                f"{opts['distance_type']!r} (arc only — plane would "
                "return different members, not a degraded version)")
        if len(fields) != 1:
            raise DslError("geo_distance expects exactly one field")
        field, point = next(iter(fields.items()))
        try:
            radius_km = parse_distance_km(opts["distance"])
        except ValueError as ex:
            raise DslError(str(ex)) from None
        lat_c, lon_c = _geo_field_cols(
            field, col, schema_fields,
            schema=getattr(schema_fields, "schema", None))
        plat, plon = _parse_geo_point(point)
        d = haversine_km(lat_c, lon_c, F.lit(plat), F.lit(plon))
        return d <= F.lit(radius_km)

    if kind == "geo_bounding_box":
        from sql_database_to_elastic_datalake_spark.functions.geo import (
            bbox_predicate,
        )

        fields = {k: v for k, v in body.items()
                  if k not in ("validation_method", "type", "_name",
                               "boost", "ignore_unmapped")}
        if body.get("type", "memory") not in ("memory", "indexed"):
            raise DslError(
                f"unsupported geo_bounding_box type {body['type']!r}")
        if len(fields) != 1:
            raise DslError("geo_bounding_box expects exactly one field")
        field, box = next(iter(fields.items()))
        if not isinstance(box, dict):
            raise DslError("geo_bounding_box box must be an object")
        if {"top_left", "bottom_right"} <= set(box):
            tl, br = (_parse_geo_point(box["top_left"]),
                      _parse_geo_point(box["bottom_right"]))
            top, left, bottom, right = tl[0], tl[1], br[0], br[1]
        elif {"top_right", "bottom_left"} <= set(box):
            tr, bl = (_parse_geo_point(box["top_right"]),
                      _parse_geo_point(box["bottom_left"]))
            top, left, bottom, right = tr[0], bl[1], bl[0], tr[1]
        elif {"top", "left", "bottom", "right"} <= set(box):
            try:
                top, left, bottom, right = (
                    float(box["top"]), float(box["left"]),
                    float(box["bottom"]), float(box["right"]))
            except (TypeError, ValueError):
                raise DslError("malformed geo_bounding_box edges") \
                    from None
        else:
            raise DslError(
                "geo_bounding_box needs top_left/bottom_right, "
                "top_right/bottom_left, or top/left/bottom/right")
        lat_c, lon_c = _geo_field_cols(
            field, col, schema_fields,
            schema=getattr(schema_fields, "schema", None))
        return bbox_predicate(lat_c, lon_c, top, left, bottom, right)

    if kind == "geo_polygon":
        # r13 late: ES's (deprecated-but-used) polygon membership —
        # ray casting unrolled into column algebra over the literal
        # vertex list (functions/geo.py:point_in_polygon; planar-edge
        # divergence documented there)
        from sql_database_to_elastic_datalake_spark.functions.geo import (
            point_in_polygon,
        )

        fields = {k: v for k, v in body.items()
                  if k not in ("validation_method", "_name", "boost",
                               "ignore_unmapped")}
        if len(fields) != 1:
            raise DslError("geo_polygon expects exactly one field")
        field, spec = next(iter(fields.items()))
        pts = spec.get("points") if isinstance(spec, dict) else None
        if not isinstance(pts, list) or len(pts) < 3:
            raise DslError(
                "geo_polygon requires a points list of at least 3 "
                "geo points")
        verts = [_parse_geo_point(p) for p in pts]
        lat_c, lon_c = _geo_field_cols(
            field, col, schema_fields,
            schema=getattr(schema_fields, "schema", None))
        return point_in_polygon(lat_c, lon_c, verts)

    if kind == "geo_shape":
        # r13 late: geo_shape over POINT-encODED docs (the only geo
        # data model here) — envelope is the bbox predicate, circle
        # the haversine, polygon the ray cast, point an exact match.
        # Relations collapse for point docs: intersects == within;
        # disjoint = has-the-point AND NOT inside; contains only
        # holds for a point shape. Indexed shapes (indexed_shape) and
        # multi-geometry / holes are named 400s — a real geometry
        # engine problem, not a column expression.
        from sql_database_to_elastic_datalake_spark.functions.geo import (
            bbox_predicate,
            haversine_km,
            parse_distance_km,
            point_in_polygon,
        )

        fields = {k: v for k, v in body.items()
                  if k not in ("ignore_unmapped", "_name", "boost")}
        if len(fields) != 1:
            raise DslError("geo_shape expects exactly one field")
        field, spec = next(iter(fields.items()))
        if not isinstance(spec, dict):
            raise DslError("geo_shape field spec must be an object")
        if "indexed_shape" in spec:
            raise DslError(
                "geo_shape indexed_shape is not supported (pass the "
                "shape inline)")
        shape = spec.get("shape")
        if not isinstance(shape, dict) or "type" not in shape:
            raise DslError("geo_shape requires an inline shape with "
                           "a type")
        relation = str(spec.get("relation", "intersects")).lower()
        if relation not in ("intersects", "within", "disjoint",
                            "contains"):
            raise DslError(f"unknown geo_shape relation {relation!r}")
        stype = str(shape["type"]).lower()
        lat_c, lon_c = _geo_field_cols(
            field, col, schema_fields,
            schema=getattr(schema_fields, "schema", None))
        if stype == "envelope":
            coords = shape.get("coordinates")
            if not (isinstance(coords, list) and len(coords) == 2
                    and all(isinstance(c, list) and len(c) == 2
                            for c in coords)):
                raise DslError(
                    "envelope coordinates must be [[minLon, maxLat], "
                    "[maxLon, minLat]] (GeoJSON order)")
            (min_lon, max_lat), (max_lon, min_lat) = coords
            inside = bbox_predicate(lat_c, lon_c, float(max_lat),
                                    float(min_lon), float(min_lat),
                                    float(max_lon))
        elif stype == "circle":
            coords = shape.get("coordinates")
            if not (isinstance(coords, list) and len(coords) == 2):
                raise DslError(
                    "circle coordinates must be [lon, lat]")
            if "radius" not in shape:
                raise DslError("circle requires a radius")
            try:
                r_km = parse_distance_km(shape["radius"])
            except ValueError as ex:
                raise DslError(str(ex)) from None
            inside = haversine_km(
                lat_c, lon_c, F.lit(float(coords[1])),
                F.lit(float(coords[0]))) <= F.lit(r_km)
        elif stype == "polygon":
            coords = shape.get("coordinates")
            if not (isinstance(coords, list) and coords
                    and isinstance(coords[0], list)):
                raise DslError(
                    "polygon coordinates must be a ring list "
                    "(GeoJSON)")
            if len(coords) > 1:
                raise DslError(
                    "polygon holes are not supported (outer ring "
                    "only)")
            ring = coords[0]
            if len(ring) >= 2 and ring[0] == ring[-1]:
                ring = ring[:-1]  # GeoJSON closes the ring explicitly
            if len(ring) < 3:
                raise DslError("polygon ring needs at least 3 points")
            verts = []
            for p in ring:
                if not (isinstance(p, list) and len(p) == 2):
                    raise DslError(
                        "polygon points must be [lon, lat] pairs")
                verts.append((float(p[1]), float(p[0])))
            inside = point_in_polygon(lat_c, lon_c, verts)
        elif stype == "point":
            coords = shape.get("coordinates")
            if not (isinstance(coords, list) and len(coords) == 2):
                raise DslError("point coordinates must be [lon, lat]")
            inside = (lat_c == F.lit(float(coords[1]))) \
                & (lon_c == F.lit(float(coords[0])))
        else:
            raise DslError(
                f"unsupported geo_shape type {stype!r} (implemented "
                "over point docs: envelope, circle, polygon, point; "
                "multi-geometries and linestrings are not)")
        has = lat_c.isNotNull() & lon_c.isNotNull()
        if relation == "disjoint":
            return has & ~F.coalesce(inside, F.lit(False))
        if relation == "contains":
            if stype != "point":
                raise DslError(
                    "geo_shape relation 'contains' over point docs "
                    "only holds for a point shape")
            return inside
        return inside  # intersects == within for a point doc

    if kind == "geo_grid":
        # r13 late: cell membership for POINT docs — the doc's
        # computed geohash/geotile cell equals the requested one
        # (prefix containment comes free: a geohash cell contains a
        # point iff the point's hash at the CELL's precision matches).
        # geohex needs the H3 hexagon math — named 400.
        from sql_database_to_elastic_datalake_spark.functions.geo import (
            geohash,
            geotile,
        )

        if len(body) != 1:
            raise DslError("geo_grid expects exactly one field")
        field, spec = next(iter(body.items()))
        if not isinstance(spec, dict) or len(spec) != 1:
            raise DslError(
                "geo_grid field spec must be {geohash|geotile: cell}")
        grid_kind, cell = next(iter(spec.items()))
        lat_c, lon_c = _geo_field_cols(
            field, col, schema_fields,
            schema=getattr(schema_fields, "schema", None))
        if grid_kind == "geohash":
            cell = str(cell).lower()
            if not 1 <= len(cell) <= 8:
                raise DslError(
                    "geo_grid geohash cell must be 1-8 characters "
                    "(the exact-arithmetic precision bound)")
            return geohash(lat_c, lon_c, len(cell)) == F.lit(cell)
        if grid_kind == "geotile":
            parts = str(cell).split("/")
            if len(parts) != 3:
                raise DslError(
                    "geo_grid geotile cell must be 'z/x/y'")
            try:
                z = int(parts[0])
            except ValueError:
                raise DslError(
                    "geo_grid geotile zoom must be an integer") \
                    from None
            if not 0 <= z <= 29:
                raise DslError(
                    "geo_grid geotile zoom must be in [0, 29]")
            return geotile(lat_c, lon_c, z) == F.lit(str(cell))
        raise DslError(
            f"unsupported geo_grid kind {grid_kind!r} (geohash and "
            "geotile are implemented; geohex needs H3 hexagon math)")

    if kind in ("has_child", "has_parent", "parent_id"):
        # r14: the join-field family is a REWRITE, not a compile — a
        # single-frame boolean compiler cannot host the second table
        # (plans/join_field.py). advanced_search rewrites these leaves
        # before compiling; every other DSL entry point names the gap.
        raise DslError(
            f"{kind} is a join-field query — supported on the search "
            "routes (advanced_search / /search/advanced), which "
            "rewrite it over the declared parent/child relation; "
            "this entry point compiles single-table predicates only")

    raise DslError(f"unsupported query kind: {kind}")


def _geo_field_cols(field: str, col, schema_fields,
                    schema=None) -> tuple:
    """Resolve a geo_point field to (lat, lon) Columns: the
    parquet-native ``f_lat``/``f_lon`` column pair when both exist,
    else a struct column ``f`` with lat/lon subfields when ``f``
    exists; an entirely unmapped field is a named 400 (ES errors on
    geo queries against unmapped fields too). With ``schema`` (a
    StructType — the agg/sort paths have the DataFrame in hand) the
    struct branch is TYPE-checked, so a geo agg on a plain numeric
    column is a named 400 rather than a mid-plan AnalysisException."""
    f = str(field)
    if schema_fields is not None:
        if f"{f}_lat" in schema_fields and f"{f}_lon" in schema_fields:
            return col(f"{f}_lat"), col(f"{f}_lon")
        if f in schema_fields:
            if schema is not None:
                from pyspark.sql.types import StructType

                dt = next((sf.dataType for sf in schema.fields
                           if sf.name == f), None)
                if not (isinstance(dt, StructType)
                        and {"lat", "lon"} <= {x.name for x in dt.fields}):
                    raise GeoResolutionError(
                        f"field {f!r} is not a geo_point (expected a "
                        f"struct with lat/lon or a {f}_lat/{f}_lon "
                        "pair)")
            base = col(f)
            try:
                return base["lat"], base["lon"]
            except Exception:
                # a resolver handing back a literal/typed non-struct
                # column fails struct access EAGERLY — name it (r14,
                # ADVICE) instead of leaking the raw error
                raise GeoResolutionError(
                    f"field {f!r} is not a geo_point (expected a "
                    f"struct with lat/lon or a {f}_lat/{f}_lon "
                    "pair)") from None
        raise GeoResolutionError(
            f"unknown geo field {f!r} (expected a struct column or a "
            f"{f}_lat/{f}_lon pair)")
    base = col(f)
    try:
        return base["lat"], base["lon"]
    except Exception:
        raise GeoResolutionError(
            f"cannot resolve geo field {f!r} without a table schema "
            "(the resolver returned a non-struct column)") from None


def _parse_geo_point(v) -> tuple[float, float]:
    """An ES geo-point literal as (lat, lon): object form, [lon, lat]
    array, or "lat,lon" string. The geohash point form is a named 400
    (cell-center semantics would silently shift the query point)."""
    try:
        if isinstance(v, dict) and {"lat", "lon"} <= set(v):
            return float(v["lat"]), float(v["lon"])
        if isinstance(v, list) and len(v) == 2:
            return float(v[1]), float(v[0])  # GeoJSON order: lon, lat
        if isinstance(v, str) and "," in v:
            lat_s, lon_s = v.split(",", 1)
            return float(lat_s), float(lon_s)
    except (TypeError, ValueError):
        pass
    raise DslError(
        f"malformed geo point {v!r} (use {{lat, lon}}, [lon, lat], "
        "or 'lat,lon'; geohash points are not supported)")


def _max_edits(fuzziness, term: str) -> int:
    """Resolve an ES ``fuzziness`` spec to a max edit distance.

    Accepts an integer, a numeric string, ``"AUTO"`` (ES ladder: 0
    edits for term length ≤2, 1 for 3-5, else 2), or the documented
    ``"AUTO:low,high"`` form (0 edits below ``low``, 1 below ``high``,
    else 2). Anything else raises :class:`DslError` — the module's
    contract for rejecting malformed user queries.
    """
    if isinstance(fuzziness, str) and fuzziness.upper().startswith("AUTO"):
        low, high = 3, 6
        if len(fuzziness) > 4:
            m = re.fullmatch(r"AUTO:(\d+),(\d+)", fuzziness, re.IGNORECASE)
            if not m:
                raise DslError(f"malformed fuzziness {fuzziness!r}")
            low, high = int(m.group(1)), int(m.group(2))
        n = len(term)
        return 0 if n < low else (1 if n < high else 2)
    try:
        return int(fuzziness)
    except (TypeError, ValueError):
        raise DslError(f"malformed fuzziness {fuzziness!r}") from None


def _as_list(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def tf_score(
    fields: list[Column | str], query: str,
    weights: list[float] | None = None,
) -> Column:
    """Deterministic naive term-frequency relevance score.

    Counts total (possibly overlapping-free) occurrences of each query
    token across the given fields:
    ``(len(s) - len(replace(s, token))) / len(token)`` summed over
    tokens × fields. Reproducible anywhere — unlike BM25 — so ranked
    search output can be differentially tested.

    ``weights`` (r12, relevance ``boost``): one multiplier per field —
    the ES ``title^2`` idiom. Each field's token counts scale by its
    weight before the sum; omitted = all 1.0.
    """
    toks = tokenize(query)
    if weights is not None and len(weights) != len(fields):
        raise DslError("tf_score weights must match fields one-to-one")
    score = F.lit(0)
    for i, fld in enumerate(fields):
        c = F.lower((F.col(fld) if isinstance(fld, str) else fld).cast("string"))
        base_len = F.length(c)
        w = 1.0 if weights is None else float(weights[i])
        for t in toks:
            occ = (base_len - F.length(F.replace(c, F.lit(t), F.lit("")))) / F.lit(
                len(t)
            )
            score = score + F.lit(w) * F.coalesce(occ, F.lit(0.0))
    return score.cast("double")


def split_field_boost(field: str, where: str = "field") -> tuple[str, float]:
    """Split ES's ``name^boost`` field suffix into (name, weight).

    The single most common relevance idiom (``"fields": ["title^2",
    "body"]``). A malformed suffix is a named 400 — ES rejects
    ``title^x`` too."""
    s = str(field)
    if "^" not in s:
        return s, 1.0
    name, _, suffix = s.partition("^")
    try:
        w = float(suffix)
    except ValueError:
        raise DslError(
            f"malformed {where} boost suffix {field!r} (expected "
            "name^number)") from None
    if w < 0:
        raise DslError(f"{where} boost must be non-negative ({field!r})")
    return name, w


def _boost_of(value, where: str) -> float:
    """Validate one explicit ``boost`` value (ES: non-negative float)."""
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        raise DslError(f"{where} boost must be a number, got {value!r}")
    b = float(value)
    if b < 0:
        raise DslError(f"{where} boost must be non-negative, got {value!r}")
    return b


def _node_boost(body, where: str) -> float:
    """The ``boost`` carried by a query node, wherever ES's grammar
    puts it: the leaf body itself (``multi_match``/``bool``/…) or the
    single-field spec object (``{"term": {"f": {"value": v, "boost":
    b}}}``). Default 1.0."""
    if not isinstance(body, dict):
        return 1.0
    if "boost" in body:
        return _boost_of(body["boost"], where)
    for v in body.values():
        if isinstance(v, dict) and "boost" in v:
            return _boost_of(v["boost"], where)
    return 1.0


def compile_score(
    dsl: dict,
    field_resolver: Callable[[str], Column] | None = None,
    schema_fields: list[str] | None = None,
) -> Column:
    """Cached entry point for :func:`_compile_score` (r15, r14 verdict
    #6): identical ``(dsl, schema_fields)`` requests with the default
    field resolver return the same unresolved Column handle, sharing
    the bounded ``_COMPILE_CACHE`` store with :func:`compile_dsl`
    (score entries are keyed under a ``"score"`` namespace so the two
    compilers can never collide on the same dsl). Expressions only —
    never results; see the cache's own docstring."""
    if field_resolver is None:
        key = _compile_cache_key(dsl, schema_fields)
        if key is not None:
            key = ("score", *key)
            hit = _COMPILE_CACHE.get(key)
            if hit is not None:
                return hit
            out = _compile_score(dsl, None, schema_fields)
            if len(_COMPILE_CACHE) >= _COMPILE_CACHE_MAX:
                _COMPILE_CACHE.clear()
            _COMPILE_CACHE[key] = out
            return out
    return _compile_score(dsl, field_resolver, schema_fields)


def _compile_score(
    dsl: dict,
    field_resolver: Callable[[str], Column] | None = None,
    schema_fields: list[str] | None = None,
) -> Column:
    """Compile an ES query DSL tree into its relevance-score Column —
    the companion to :func:`compile_dsl` (membership from there, rank
    from here; the score is only meaningful on rows the predicate
    matches, and validation of unknown options lives in the predicate
    compile, so callers always run both).

    r12: this closes the module's historical "boost is accepted and
    ignored" divergence for the RANKED paths. Scoring model (documented
    divergence, deterministic by design):

    * text leaves (``match``, ``multi_match``, ``query_string``,
      ``simple_query_string``) score by :func:`tf_score` — term
      frequency, exactly replayable by a SQL oracle — times their
      ``boost`` and per-field ``^weight`` suffixes; BM25's corpus
      statistics are not reproducible without ES's shards
      (SURVEY.md §7.3 hard-part #3).
    * ``multi_match`` honors ES ``type`` scoring: ``best_fields``
      (default) takes the best single field plus ``tie_breaker`` times
      the others; ``most_fields`` sums. Other types score as
      ``best_fields`` (their match-set semantics are already the
      documented substring divergence in the filter path).
    * every other leaf scores a CONSTANT ``boost`` (default 1.0) when
      matched — exactly what ES's ``constant_score``/filter context
      gives, and the honest deterministic stand-in for BM25 on
      term/range/… leaves.
    * compounds follow Lucene: ``bool`` sums the scores of matching
      ``must``+``should`` clauses (``filter``/``must_not`` contribute
      0 — a filter-only bool scores 0.0 like ES), ``dis_max`` takes
      the best clause plus ``tie_breaker`` times the rest,
      ``boosting`` multiplies by ``negative_boost`` when the negative
      matches, ``constant_score`` returns its boost, and every node
      multiplies by its own ``boost``.

    Pure column algebra — whole-stage codegen, no UDF; the ranked page
    stays one scan + one TakeOrdered.
    """
    schema_fields = _norm_schema_fields(schema_fields)
    col = field_resolver or F.col

    if not isinstance(dsl, dict) or len(dsl) != 1:
        raise DslError(f"query node must have exactly one key, got {dsl!r}")
    kind, body = next(iter(dsl.items()))

    if kind == "bool":
        boost = _boost_of(body["boost"], "bool") if isinstance(
            body, dict) and "boost" in body else 1.0
        parts: list[Column] = []
        for key in ("must", "should"):
            for sub in _as_list(body.get(key)):
                p = _ns(compile_dsl(sub, field_resolver, schema_fields))
                s = compile_score(sub, field_resolver, schema_fields)
                parts.append(F.when(p, s).otherwise(F.lit(0.0)))
        total = parts[0] if parts else F.lit(0.0)
        for p in parts[1:]:
            total = total + p
        return (total * F.lit(boost)).cast("double")

    if kind == "dis_max":
        boost = _boost_of(body["boost"], "dis_max") \
            if isinstance(body, dict) and "boost" in body else 1.0
        tb = float(body.get("tie_breaker", 0.0)) \
            if isinstance(body, dict) else 0.0
        queries = body.get("queries") if isinstance(body, dict) else None
        if not isinstance(queries, list) or not queries:
            raise DslError("dis_max requires a non-empty queries list")
        masked = [
            F.when(_ns(compile_dsl(q, field_resolver, schema_fields)),
                   compile_score(q, field_resolver, schema_fields))
            for q in queries
        ]
        best = masked[0] if len(masked) == 1 else F.greatest(*masked)
        best = F.coalesce(best, F.lit(0.0))
        matched_sum = masked[0] if len(masked) == 1 else None
        if matched_sum is None:
            matched_sum = F.lit(0.0)
            for m in masked:
                matched_sum = matched_sum + F.coalesce(m, F.lit(0.0))
        else:
            matched_sum = F.coalesce(matched_sum, F.lit(0.0))
        score = best + F.lit(tb) * (matched_sum - best)
        return (score * F.lit(boost)).cast("double")

    if kind == "boosting":
        if not isinstance(body, dict) or "positive" not in body:
            raise DslError("boosting requires a positive clause")
        boost = _boost_of(body["boost"], "boosting") \
            if "boost" in body else 1.0
        pos = compile_score(body["positive"], field_resolver,
                            schema_fields)
        if "negative" in body:
            if "negative_boost" not in body:
                raise DslError(
                    "boosting with a negative clause requires "
                    "negative_boost (ES rejects its absence too)")
            nb = _boost_of(body["negative_boost"], "negative_boost")
            neg = _ns(compile_dsl(body["negative"], field_resolver,
                                  schema_fields))
            pos = pos * F.when(neg, F.lit(nb)).otherwise(F.lit(1.0))
        return (pos * F.lit(boost)).cast("double")

    if kind == "constant_score":
        boost = _boost_of(body.get("boost", 1.0), "constant_score") \
            if isinstance(body, dict) else 1.0
        return F.lit(boost).cast("double")

    if kind == "match_all":
        boost = _node_boost(body, "match_all") \
            if isinstance(body, dict) else 1.0
        return F.lit(boost).cast("double")

    if kind == "match":
        field, spec = next(iter(body.items()))
        value = spec.get("query") if isinstance(spec, dict) else spec
        boost = _boost_of(spec["boost"], "match") \
            if isinstance(spec, dict) and "boost" in spec else 1.0
        return (tf_score([col(field)], str(value)) * F.lit(boost)) \
            .cast("double")

    if kind in ("match_phrase", "match_phrase_prefix"):
        # phrase-aware tf: count occurrences of the WHOLE phrase (the
        # same substring semantics the membership compile uses), so a
        # doc repeating the phrase outranks one containing it once
        field, spec = next(iter(body.items()))
        value = str(spec.get("query") if isinstance(spec, dict)
                    else spec).lower()
        boost = _boost_of(spec["boost"], kind) \
            if isinstance(spec, dict) and "boost" in spec else 1.0
        if not value:
            return F.lit(0.0)
        c = F.lower(col(field).cast("string"))
        occ = (F.length(c)
               - F.length(F.replace(c, F.lit(value), F.lit("")))) \
            / F.lit(len(value))
        return (F.coalesce(occ, F.lit(0.0)) * F.lit(boost)) \
            .cast("double")

    if kind == "multi_match":
        boost = _boost_of(body["boost"], "multi_match") \
            if "boost" in body else 1.0
        mm_type = str(body.get("type", "best_fields"))
        tb = float(body.get("tie_breaker", 0.0))
        query = str(body.get("query", ""))
        fields = body.get("fields")
        if not isinstance(fields, list) or not fields:
            raise DslError(
                "multi_match requires an explicit non-empty fields "
                "list (field expansion needs the table schema)")
        weights: dict[str, float] = {}
        for f in fields:
            name, w = split_field_boost(f, "multi_match field")
            if "*" in name or "?" in name:
                if schema_fields is None:
                    raise DslError(
                        f"wildcard field pattern {f!r} needs the "
                        "table schema (pass schema_fields=df.columns)")
                for c in schema_fields:
                    if fnmatch.fnmatchcase(c, name):
                        weights.setdefault(c, w)
            else:
                weights.setdefault(name, w)
        if not weights:
            return F.lit(0.0)
        per_field = [
            tf_score([col(f)], query) * F.lit(w)
            for f, w in weights.items()
        ]
        if mm_type == "most_fields":
            score = per_field[0]
            for s in per_field[1:]:
                score = score + s
        else:  # best_fields (default) and the documented-divergence
            # types score as best_fields: best + tie_breaker * rest
            best = per_field[0] if len(per_field) == 1 \
                else F.greatest(*per_field)
            total = per_field[0]
            for s in per_field[1:]:
                total = total + s
            score = best + F.lit(tb) * (total - best)
        return (score * F.lit(boost)).cast("double")

    if kind in ("query_string", "simple_query_string"):
        from sql_database_to_elastic_datalake_spark.plans.query_string import (
            parse_query_string,
        )

        boost = 1.0
        if isinstance(body, dict) and "boost" in body:
            boost = _boost_of(body["boost"], kind)
        tree = parse_query_string(
            body, schema_fields=schema_fields,
            simple=kind == "simple_query_string",
        )
        return (compile_score(tree, field_resolver, schema_fields)
                * F.lit(boost)).cast("double")

    if kind == "wrapper":
        import base64
        import json as _json

        raw = body.get("query") if isinstance(body, dict) else None
        if not isinstance(raw, str):
            raise DslError("wrapper requires a base64 query string")
        try:
            inner = _json.loads(base64.b64decode(raw))
        except Exception:
            raise DslError("wrapper query is not valid base64 JSON") \
                from None
        return compile_score(inner, field_resolver, schema_fields)

    if kind in ("function_score", "script_score"):
        raise DslError(
            f"{kind} inside a scored tree is not supported — nest its "
            "query directly and move the functions to the top level")

    if kind in ("rank_feature", "distance_feature"):
        # r13 late: the feature queries' ENTIRE purpose is decay
        # scoring inside a bool should — a constant fallback here
        # would silently flatten them. Delegate to the score_dsl
        # implementations the top-level ranked page already uses.
        from sql_database_to_elastic_datalake_spark.plans.score_dsl import (
            distance_feature_columns,
            rank_feature_columns,
        )

        if kind == "rank_feature":
            _, score, _ = rank_feature_columns(body, col)
            return score
        field = body.get("field") if isinstance(body, dict) else None
        origin = body.get("origin") if isinstance(body, dict) else None
        is_geo = (schema_fields is not None and isinstance(field, str)
                  and f"{field}_lat" in schema_fields
                  and f"{field}_lon" in schema_fields)
        date_fields: set = set()
        if not is_geo and isinstance(origin, str):
            # no schema types here — a non-numeric string origin IS
            # the date tier (ES requires numbers for numeric fields)
            try:
                float(origin)
            except ValueError:
                date_fields = {field}
        _, score, _ = distance_feature_columns(
            body, col, date_fields, schema_fields=schema_fields)
        return score

    # every other leaf (term/terms/range/exists/prefix/wildcard/
    # regexp/fuzzy/ids/terms_set/nested/span_*/intervals/script/
    # more_like_this/…): constant boost when matched, like ES's
    # filter context / constant_score
    return F.lit(_node_boost(body, kind)).cast("double")
