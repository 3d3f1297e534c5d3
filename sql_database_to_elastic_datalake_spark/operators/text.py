"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language ID,
quality scoring, token counting, and document fingerprinting over a
``documents(doc_id, text, ...)`` table.

Everything here is native Column expressions — no Python in the hot
path, whole-stage codegen end-to-end, and all of it embarrassingly
parallel (per-row, no shuffle). At 100 TB these run at scan speed.

Portability note: token/bit arithmetic uses only functions with exact
DuckDB equivalents (md5, ascii, length/replace, regexp) so every
operator is differentially testable; a production deployment would swap
md5 for ``xxhash64`` (cheaper, JVM-intrinsic) via ``hash_mode``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Cavnar–Trenkle-style per-language character n-gram profiles (sizes
#: 1–3, drawn from published frequency tables for each language). All
#: profiles are exactly 20 entries, so plain set-overlap argmax equals
#: cosine argmax (|P| is constant and |D| cancels across languages for
#: one document). Character 1-grams carry the CJK signal (trigrams of
#: han text cannot be enumerated in a 20-entry profile); 2/3-grams carry
#: the Latin-script morphology.
LANG_NGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (
        "the", " th", "he ", "and", " an", "nd ", "ing", "ng ", " of",
        "of ", " to", "to ", "ed ", " in", "ion", "ent", "er ", "hat",
        " is", "is ",
    ),
    "de": (
        "der", "die", "das", "und", "ich", "ein", "sch", "che", "ung",
        "gen", " ge", "cht", "ten", "ver", "den", "ist", "eit", "auf",
        "mit", "zu ",
    ),
    "es": (
        "que", " qu", "ión", "ció", "ado", "de ", " de", "la ", " la",
        "el ", " el", "os ", "ar ", "con", " co", "por", "par", "nte",
        "una", "ien",
    ),
    "fr": (
        "les", "des", "ent", "eur", "que", "ion", "tio", "ait", "ais",
        "oir", "ous", "le ", " le", "du ", " du", "est", "une", "aux",
        "ont", "pas",
    ),
    "zh": (
        "的", "是", "了", "在", "和", "有", "我", "他", "这", "中",
        "大", "上", "个", "国", "们", "来", "不", "为", "人", "到",
    ),
}

#: BPE-ish pre-tokenizer: letter runs | single digits | single
#: non-alphanumeric-non-space marks (GPT-2-style digit splitting).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

#: English high-frequency closed-class words for the stopword-ratio
#: quality signal.
STOPWORDS = ("the", "a", "of", "and", "is")


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish token count via the pre-tokenizer regex — a cheap,
    deterministic proxy for LLM token budgeting."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


def _count_in_list(toks: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(col)
    return (_count_in_list(toks, stopwords) / F.size(toks)).cast("double")


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are neither alphanumeric nor space.

    Empty text is 0.0 by definition — under Spark 4's default ANSI mode
    the unguarded ``/ length(c)`` makes ONE zero-length document throw
    DIVIDE_BY_ZERO and kill the whole job (found by the degenerate-lake
    differential gate).
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    stripped = F.regexp_replace(c, r"[^A-Za-z0-9\s]", "")
    return (
        F.when(F.length(c) == 0, F.lit(0.0))
        .otherwise((F.length(c) - F.length(stripped)) / F.length(c))
        .cast("double")
    )


def quality_score(col: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1].

    0.5·min(1, tokens/64) + 0.3·(1 − punct_ratio) + 0.2·min(1, 10·stop_ratio)
    — longer, low-punctuation, natural-language-looking docs score high.
    The exact weights are a policy choice; the operator is the shape.
    """
    ntok = token_count_ws(col).cast("double")
    return (
        F.lit(0.5) * F.least(F.lit(1.0), ntok / F.lit(64.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(col))
        + F.lit(0.2) * F.least(F.lit(1.0), F.lit(10.0) * stopword_ratio(col))
    ).cast("double")


def char_ngrams(col: Column | str, sizes: tuple[int, ...] = (1, 2, 3)) -> Column:
    """Distinct character n-grams (lowercased) for the given sizes.

    Native sequence/transform — no UDF; per-row only, no shuffle. NULL
    or too-short text yields an empty array (never NULL), so downstream
    intersections stay well-defined in both engines.
    """
    low = F.lower((F.col(col) if isinstance(col, str) else col).cast("string"))
    empty = F.array().cast("array<string>")

    def _window(k: int):
        # single-parameter lambda: Spark's transform() treats a 2-arg
        # lambda as (element, index), so the size must close over k
        return lambda i: low.substr(i, F.lit(k))

    parts = [
        F.when(
            F.length(low) >= k,
            F.transform(
                F.sequence(F.lit(1), F.length(low) - (k - 1)), _window(k)
            ),
        ).otherwise(empty)
        for k in sizes
    ]
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return F.array_distinct(out)


def lang_scores_ngram(col: Column | str) -> dict[str, Column]:
    """Per-language profile overlaps: |ngrams(doc) ∩ profile(lang)|.

    With equal-size profiles this argmax is exactly the cosine argmax
    over presence vectors (see LANG_NGRAM_PROFILES). Integer scores keep
    the differential oracle bit-exact.

    Computed as substring tests, NOT by materializing the document's
    n-gram set: ``g ∈ ngrams(doc) ⟺ contains(doc, g)`` for any gram of
    the profile sizes, so the overlap is |{g ∈ P : contains(doc, g)}| —
    100 JVM substring searches per row instead of building and
    intersecting a ~3·len-element array. The tests are summed as plain
    int casts rather than a higher-order ``filter`` over a literal
    array: lambda functions fall out of whole-stage codegen, and the
    measured difference at sf0.1 is 0.45 s (this shape) vs 4 s (HOF)
    vs 12 s (materialized n-gram arrays). Equivalence to the literal
    set-intersection definition is pinned by
    ``test_lang_scores_contains_equals_ngram_intersection``.
    """
    low = F.coalesce(
        F.lower((F.col(col) if isinstance(col, str) else col).cast("string")),
        F.lit(""),
    )

    def overlap(profile: tuple[str, ...]) -> Column:
        terms = [F.contains(low, F.lit(g)).cast("int") for g in profile]
        total = terms[0]
        for t in terms[1:]:
            total = total + t
        return total

    return {
        lang: overlap(profile)
        for lang, profile in LANG_NGRAM_PROFILES.items()
    }


def _argmax_lang(scores: dict[str, Column], min_hits: int) -> Column:
    # array_max over (score, reverse-rank, lang) structs: lexicographic
    # struct comparison gives argmax-by-score with the
    # alphabetically-FIRST language winning ties (higher reverse rank).
    # Crucially each score expression appears in the plan ONCE — the
    # chained-when formulation embedded every score inside every later
    # when, blowing the generated code past the JIT limit (codegen
    # compile failure → interpreted eval → ~10× slower).
    langs = sorted(scores)
    entries = [
        F.struct(
            # NULL scores (NULL input text) must read as 0, not poison
            # the struct comparison: an un-coalesced NULL makes
            # best.s < min_hits NULL → the when() falls through and
            # returns an arbitrary language instead of 'und'.
            F.coalesce(scores[lang], F.lit(0)).alias("s"),
            F.lit(len(langs) - 1 - i).alias("r"),
            F.lit(lang).alias("l"),
        )
        for i, lang in enumerate(langs)
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] < min_hits, F.lit("und")).otherwise(best["l"])


def lang_id(col: Column | str, min_hits: int = 2) -> Column:
    """Predicted language via character n-gram profile overlap
    (Cavnar & Trenkle, "N-Gram-Based Text Categorization"): argmax
    profile hits, alphabetical tie-break, 'und' when every score is
    below ``min_hits``. Runs at scan speed — the profiles are literal
    arrays folded into whole-stage codegen."""
    return _argmax_lang(lang_scores_ngram(col), min_hits)


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, strip punctuation,
    collapse whitespace runs, trim."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    out = F.lower(c)
    out = F.regexp_replace(out, r"[^a-z0-9\s]", "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 over the normalized text — robust to
    case/punctuation/whitespace noise, the document-level analog of the
    reference's row content ids (/root/reference/data_lake_sync.py:72-82)."""
    return F.md5(normalize_text(col))


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document.

    Output: ``id_col, n_tokens, n_distinct, distinct_ratio,
    top_token_share, mean_word_len`` — the classic corpus-quality
    filters (low distinct ratio / one token dominating ⇒ boilerplate or
    spam; word-length band ⇒ natural prose). Shape: explode tokens,
    count per (doc, token), reduce per doc — two partial-aggregated
    shuffles, both keyed on the doc id family, no joins. Ratios divide
    exact integer counts cast to double once, so differential oracles
    match bit-for-bit.
    """
    toks = F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ).alias("w")
    freq = (
        df.select(F.col(id_col), toks)
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("c"))
    )
    stats = freq.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_count"),
        F.sum(F.col("c") * F.length(F.col("w"))).cast("bigint").alias("n_chars"),
    )
    nt = F.col("n_tokens").cast("double")
    return stats.select(
        F.col(id_col),
        "n_tokens",
        "n_distinct",
        (F.col("n_distinct").cast("double") / nt).alias("distinct_ratio"),
        (F.col("top_count").cast("double") / nt).alias("top_token_share"),
        (F.col("n_chars").cast("double") / nt).alias("mean_word_len"),
    )


def fineweb_line_stats(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """C4/FineWeb line-level quality rules per document — the public
    heuristics between language-ID and dedup in released pipelines
    (C4, Raffel et al. arXiv:1910.10683 §2.2: terminal-punctuation
    lines, "lorem ipsum" and curly-brace drops; FineWeb, Penedo et
    al. arXiv:2406.17557: line-punctuation ratio filter; Gopher, Rae
    et al. arXiv:2112.11446 Table A1: bullet-start ≤ 90%,
    ellipsis-end ≤ 30%; RefinedWeb-family duplicate-line fraction).

    Output per doc: exact integer line counts (``n_lines``,
    ``n_punct_lines``, ``n_bullet_lines``, ``n_ellipsis_lines``,
    ``n_distinct_lines``), the two C4 witnesses (``has_lorem_ipsum``,
    ``has_curly_brace``), the derived ratios (single division of
    exact ints — engine-portable), and ``keep`` combining the
    published defaults: no C4 witness, bullet ≤ 0.9, ellipsis ≤ 0.3,
    duplicate-line fraction ≤ 0.3, terminal-punctuation ratio ≥ 0.12
    (FineWeb's threshold). Pure per-row column algebra over one
    line-split array — zero shuffles, zero UDFs, embarrassingly
    parallel at any scale."""
    # regex trim, not F.trim: trim() strips only 0x20 spaces, so a
    # tab-only line would count as content in one engine and not the
    # other (ASCII \s agrees between Java regex and RE2)
    lines = F.filter(
        F.transform(
            F.split(F.col(text_col), "\n"),
            lambda x: F.regexp_replace(x, r"^\s+|\s+$", ""),
        ),
        lambda x: x != "",
    )
    count = (lambda pred: F.size(F.filter(lines, pred)).cast("bigint"))
    base = df.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        count(lambda x: x.rlike("[.!?\"']$")).alias("n_punct_lines"),
        count(lambda x: x.rlike("^[-*•]")).alias("n_bullet_lines"),
        count(lambda x: x.rlike("\\.\\.\\.$")).alias("n_ellipsis_lines"),
        F.size(F.array_distinct(lines)).cast("bigint")
        .alias("n_distinct_lines"),
        F.lower(F.col(text_col)).contains("lorem ipsum")
        .alias("has_lorem_ipsum"),
        F.col(text_col).contains("{").alias("has_curly_brace"),
    ).filter(F.col("n_lines") > 0)
    nl = F.col("n_lines").cast("double")
    punct_r = F.col("n_punct_lines").cast("double") / nl
    bullet_r = F.col("n_bullet_lines").cast("double") / nl
    ell_r = F.col("n_ellipsis_lines").cast("double") / nl
    dup_r = (F.col("n_lines") - F.col("n_distinct_lines")) \
        .cast("double") / nl
    return base.select(
        "*",
        punct_r.alias("punct_line_ratio"),
        bullet_r.alias("bullet_line_ratio"),
        ell_r.alias("ellipsis_line_ratio"),
        dup_r.alias("dup_line_ratio"),
        (
            ~F.col("has_lorem_ipsum") & ~F.col("has_curly_brace")
            & (bullet_r <= 0.9) & (ell_r <= 0.3) & (dup_r <= 0.3)
            & (punct_r >= 0.12)
        ).alias("keep"),
    )


#: Knuth multiplicative constant + a prime modulus: the deterministic
#: default weight formula for :func:`quality_classifier_logits`.
_QC_MIX = 2654435761
_QC_MOD = 1000003

#: Per-worker gram→weight memo for the inline classifier tier, keyed by
#: bucket count (the only parameter the weight depends on besides the
#: gram). Lives at module level so a reused Python worker
#: (spark.python.worker.reuse, the default) keeps it across tasks
#: (guide §4.5); cardinality is bounded by the corpus' distinct n-gram
#: set, which is tiny next to the 2^18 bucket space for natural text.
_QC_GRAM_MEMO: dict[int, dict[str, float]] = {}


def _qc_logit_udf(n: int, buckets: int, bias: float):
    """Arrow-batched scorer for the inline-formula tier: per already-
    lowercased text, the left-to-right mean of the deterministic
    per-gram weights. Bit-identical to the previous JVM expression
    fold: ``int(md5(g)[:8 hex], 16)`` == conv(substring(md5,1,8),16,10),
    Python int ``%``/``*`` on positives == bigint arithmetic, ``/``
    and running ``+`` are the same IEEE-754 double ops in the same
    order. Marked non-deterministic so the optimizer cannot duplicate
    the evaluation below a pushed filter (guide §4.4)."""
    nn, bb, bias_f = int(n), int(buckets), float(bias)

    @F.pandas_udf("double")
    def _logit(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from hashlib import md5

        memo = _QC_GRAM_MEMO.setdefault(bb, {})
        mget = memo.get
        for s in batches:
            out = []
            for t in s:
                if not isinstance(t, str) or len(t) < nn:
                    out.append(None)
                    continue
                acc = 0.0
                for i in range(len(t) - nn + 1):
                    g = t[i:i + nn]
                    w = mget(g)
                    if w is None:
                        b = int.from_bytes(
                            md5(g.encode("utf-8")).digest()[:4],
                            "big") % bb
                        w = (b * _QC_MIX % _QC_MOD) / float(_QC_MOD) - 0.5
                        memo[g] = w
                    acc += w
                out.append(acc / (len(t) - nn + 1) + bias_f)
            yield pd.Series(out, dtype="float64")

    return _logit.asNondeterministic()


def quality_classifier_logits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    buckets: int = 1 << 18,
    bias: float = 0.0,
    weights: DataFrame | None = None,
) -> DataFrame:
    """fastText-style document-quality classifier scoring (r9): hashed
    character n-grams → weight lookup → mean-pooled LOGIT per doc —
    the standard learned corpus-filtering stage between the Gopher
    heuristics (:func:`repetition_stats`, :func:`quality_score`) and
    dedup (CCNet/LLaMA-pipeline shape: arXiv:1911.00359 §4.3).

    Two tiers, same model:

    * ``weights=None`` (default, the ORACLED tier): the weight of
      bucket ``b`` is the deterministic formula
      ``((b·2654435761) mod 1000003)/1000003 − 0.5`` inlined as column
      algebra — the whole scorer is ONE projection, zero shuffles,
      zero UDFs. The n-gram fold (``F.aggregate``) sums weights in
      array order, so the doubles replay bit-identically in DuckDB's
      ``list_reduce``.
    * ``weights=DataFrame(bucket, weight)`` (the PRETRAINED tier):
      explode grams → hash → broadcast-join the weight vector →
      groupBy doc with a mean. A real fastText weight table is a few
      MB (2^18–2^21 floats) — exactly the broadcast-join sweet spot;
      partial aggregation combines map-side, so the shuffle carries
      one row per doc. Summation order is then partition-dependent
      (documented: scores differ from the inline tier by float ulps).

    The output is the raw logit, not the sigmoid: exp() differs by
    ulps across libms (which would break differential checks) and the
    sigmoid is monotone, so thresholding logits is the same decision.

    The hash is the first 8 hex digits of md5 — cross-engine stable
    (Spark ``conv(substring(md5(g),1,8),16,10)`` ==
    DuckDB ``CAST('0x'||substr(md5(g),1,8) AS UBIGINT)``), unlike
    xxhash64 whose seeds differ between engines. Docs shorter than
    ``n`` chars have no grams and score a null logit (quarantine tier,
    not a silent 0.5)."""
    txt = F.lower(F.col(text_col).cast("string"))

    if weights is None:
        # r14 (guide §4.2): the original inline tier folded
        # md5+conv+mod per gram through an F.aggregate lambda — a
        # CodegenFallback path that interpreted ~6 µs/gram of expression
        # tree per character of corpus. The same left-to-right fold over
        # the same per-gram weights, Arrow-batched with the weight of
        # each DISTINCT gram memoized per worker, is ~20x cheaper per
        # byte and bit-identical: Python's int/float ops replay
        # conv(substring(md5,1,8),16,10) % buckets, the Knuth-mix
        # weight, and IEEE-754 in-order summation exactly (verified by
        # the unchanged DuckDB oracle + the unicode/null differential
        # gates). Lowercasing stays JVM-side so F.lower's case mapping
        # is byte-identical to the previous plan.
        return df.select(
            F.col(id_col),
            _qc_logit_udf(n, buckets, bias)(txt).alias("logit"),
        )

    n_grams = F.greatest(F.length(txt) - F.lit(n - 1), F.lit(0))
    grams = F.when(
        n_grams > 0,
        F.transform(F.sequence(F.lit(1), n_grams),
                    lambda i: txt.substr(i, F.lit(n))),
    ).otherwise(F.array().cast("array<string>"))

    def bucket_of(g):
        return F.conv(F.substring(F.md5(g), 1, 8), 16, 10) \
            .cast("bigint") % F.lit(int(buckets))
    hashed = (
        df.select(F.col(id_col),
                  F.explode(grams).alias("g"))
        .select(id_col, bucket_of(F.col("g")).alias("bucket"))
    )
    # LEFT join + coalesce-to-zero: fastText pools the mean over ALL
    # grams, treating a gram whose bucket is absent from the weight
    # table as weight 0 — an inner join would silently drop missing
    # grams from both numerator and denominator (and null the logit
    # entirely for a doc with zero matched grams), diverging for
    # sparse weight tables.
    pooled = (
        hashed.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg((F.sum(F.coalesce(F.col("weight"), F.lit(0.0)))
              / F.count(F.lit(1)))
             .alias("__mean_w"))
    )
    return df.select(id_col).join(pooled, id_col, "left").select(
        F.col(id_col),
        (F.col("__mean_w") + F.lit(float(bias)))
        .cast("double").alias("logit"),
    )


def normalize_unicode(col: Column | str) -> Column:
    """Deterministic Unicode text normalization (r12 — distinct from
    :func:`normalize_text`, the lossy lowercase/strip-punctuation
    canonical form the fingerprint uses) — the standard
    corpus-prep cleanup stage every published pipeline runs before
    tokenization (C4 strips control chars; CCNet/fastText NFC-fold):

    1. NFC normalization (composed forms — an Arrow-batched pandas
       UDF over ``unicodedata``; Spark has no codegen NFC, and the
       batch shape is the sanctioned slow-path form, like the BPE
       tier). DuckDB's ``nfc_normalize`` replays it exactly.
    2. strip C0/C1 control characters except ``\\n``/``\\t``
       (``[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]``);
    3. drop the invisible-width troublemakers ZWSP/BOM/soft-hyphen
       (``U+200B``, ``U+FEFF``, ``U+00AD``) — ZWJ/ZWNJ are KEPT
       (removing them breaks emoji families and Indic conjuncts);
    4. collapse runs of spaces/tabs to one space (newlines preserved —
       the line-rule quality operators need line structure);
    5. trim leading/trailing spaces/tabs (whole value).

    Pure column algebra after step 1; null text stays null. Scale: a
    per-row map with no shuffle — the Arrow batch transfer is the only
    cost over codegen, and it rides whatever scan feeds it.
    """
    import pandas as pd  # noqa: F401 (typing for the UDF signature)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):  # pragma: no cover - executed on executors
        import unicodedata

        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    c = F.col(col) if isinstance(col, str) else col
    out = _nfc(c)
    out = F.regexp_replace(
        out, r"[\x00-\x08\x0B-\x1F\x7F-\x9F]", "")
    out = F.regexp_replace(out, r"[\x{200B}\x{FEFF}\x{00AD}]", "")
    out = F.regexp_replace(out, r"[ \t]{2,}", " ")
    return F.regexp_replace(out, r"^[ \t]+|[ \t]+$", "")
