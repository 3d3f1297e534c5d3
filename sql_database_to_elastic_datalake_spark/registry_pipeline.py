"""Training-data-pipeline query registrations (dedup / similarity / text /
multimodal) — the scale-out extensions beyond the reference's surface
(BASELINE.json north star; SURVEY.md §7.1 phase 6).

Imported by :mod:`.registry` at the end of module load; registers into
the same QUERIES/ORACLES dicts. Oracle SQL for hash/vector operators is
*generated* here so both engines evaluate byte-identical formulas
(same seeds, same term order, same tie-breaks).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.functions.scalar import finite_or_null
from sql_database_to_elastic_datalake_spark.localrel import local_frame
from sql_database_to_elastic_datalake_spark.operators import dedup, multimodal, similarity, text
from sql_database_to_elastic_datalake_spark.registry import register
from sql_database_to_elastic_datalake_spark.sources.parquet import load_table

# shared SQL fragments -------------------------------------------------------

_TOKENS = "string_split_regex(trim(lower(replace(text, 'İ', 'i̇'))), '\\s+')"
_DS = (
    "SELECT DISTINCT doc_id, regexp_split_to_table(trim(lower(replace(text, 'İ', 'i̇'))), '\\s+') AS w "
    "FROM documents"
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_LIST = ", ".join(f"'{w}'" for w in text.STOPWORDS)

@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           len({_TOKENS}) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))
               AS bpe_tokens,
           -- empty text -> 0.0 (ANSI div-by-zero guard, both engines)
           CAST(CASE WHEN length(text) = 0 THEN 0.0
                ELSE (length(text) -
                 length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                / length(text) END AS DOUBLE) AS punct_ratio,
           CAST(len(list_filter({_TOKENS},
                     x -> list_contains([{_STOP_LIST}], x)))
                / len({_TOKENS}) AS DOUBLE) AS stop_ratio,
           -- constants CAST to DOUBLE: bare 0.5/64.0 literals are DECIMAL
           -- in DuckDB and exact decimal division drifts 1 ulp from
           -- Spark's all-double arithmetic
           CAST(CAST(0.5 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
                    len({_TOKENS}) / CAST(64.0 AS DOUBLE))
              + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) -
                    CASE WHEN length(text) = 0 THEN 0.0
                    ELSE (length(text) -
                    length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                    / length(text) END)
              -- parens matter: Spark computes 10*(cnt/n), not (10*cnt)/n
              + CAST(0.2 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
                    CAST(10.0 AS DOUBLE) * (len(list_filter({_TOKENS},
                        x -> list_contains([{_STOP_LIST}], x)))
                        / len({_TOKENS}))) AS DOUBLE) AS quality
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count_ws("text").alias("ws_tokens"),
        text.token_count_bpe("text").alias("bpe_tokens"),
        text.punct_ratio("text").alias("punct_ratio"),
        text.stopword_ratio("text").alias("stop_ratio"),
        text.quality_score("text").alias("quality"),
    )


#: committed golden for the tokenizer-exact BPE tier (r11, verdict
#: #8) — same content-addressed pattern as multimodal_decode
_BPE_GOLDEN = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "data", "golden", "bpe_token_counts.parquet",
)


@register(
    "token_count_bpe_exact",
    # Golden-join oracle: the expected count of every document was
    # derived by an INDEPENDENT restatement of the GPT-2 byte-level
    # BPE algorithm (scripts/gen_bpe_golden.py — no package import)
    # against the committed data/bpe/merges.txt, keyed by (doc_id,
    # md5(text)). BPE's iterative merge loop is not SQL-expressible;
    # the golden join is the strongest available tier (precedent:
    # multimodal_decode).
    oracle=f"""
    SELECT d.doc_id, g.n_bpe_exact
    FROM documents d
    JOIN read_parquet('{_BPE_GOLDEN}') g
      ON g.doc_id = d.doc_id AND g.text_md5 = md5(coalesce(d.text, ''))
    """,
)
def token_count_bpe_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-EXACT token counts (r11, verdict #8): a real
    merge-table byte-level BPE (public GPT-2 merges.txt format) as an
    Arrow-batched pandas-UDF tier, so pack_by_token_budget can quote
    exact budget numbers. The heuristic column tier (text_stats'
    bpe_tokens) stays the default — this tier is for when the budget
    must match a production tokenizer (operators/bpe.py)."""
    from sql_database_to_elastic_datalake_spark.operators.bpe import (
        default_merges_path,
        token_count_bpe_exact,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_count_bpe_exact(
        docs, "text", default_merges_path(), out_col="n_bpe_exact",
    ).select("doc_id", "n_bpe_exact")


def _lang_scores_sql() -> tuple[str, str]:
    """(score column defs, argmax CASE) for the lang-id v2 oracle — the
    DuckDB twin of :func:`operators.text.lang_id` (Cavnar–Trenkle
    profile overlap over 1/2/3-char grams, min_hits=2, alphabetical
    tie-break). Overlap is computed as substring-presence tests, exactly
    mirroring the Spark side: g ∈ ngrams(doc) ⟺ contains(doc, g)."""
    score_defs = []
    for lang in sorted(text.LANG_NGRAM_PROFILES):
        profile = ", ".join(f"'{g}'" for g in text.LANG_NGRAM_PROFILES[lang])
        score_defs.append(
            f"len(list_filter([{profile}], g -> contains(t, g))) AS s_{lang}"
        )
    langs = sorted(text.LANG_NGRAM_PROFILES)
    greatest = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = f"CASE WHEN {greatest} < 2 THEN 'und' "
    for l in langs:
        case += f"WHEN s_{l} = {greatest} THEN '{l}' "
    case += "END"
    return ", ".join(score_defs), case


_SCORE_DEFS, _ARGMAX = _lang_scores_sql()

@register(
    "text_lang_id",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, lang, coalesce(lower(replace(text, 'İ', 'i̇')), '') AS t
        FROM documents
    ), scored AS (SELECT doc_id, lang, {_SCORE_DEFS} FROM g)
    SELECT doc_id, lang AS labeled_lang, {_ARGMAX} AS predicted_lang
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        text.lang_id("text").alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(
               regexp_replace(lower(replace(text, 'İ', 'i̇')), '[^a-z0-9\\s]', '', 'g'),
               '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(coalesce(text, chr(0))) AS content_id,
           min(doc_id) AS doc_id,
           COUNT(*) AS group_size
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, ["text"], "doc_id")


_JACCARD_CTE = f"""
    tok AS ({_DS}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        FROM tok x JOIN tok y ON x.w = y.w AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT a, b, CAST(i / (sa.n + sb.n - i) AS DOUBLE) AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc_id = a
        JOIN sz sb ON sb.doc_id = b
    )
"""

@register(
    "neardup_jaccard",
    oracle=f"""
    WITH {_JACCARD_CTE}
    SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.9
    """,
)
def neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # distinct=False: doc_id is the table PK, rows already unique (r14)
    sh = dedup.word_shingles(docs, "doc_id", "text", n=1, distinct=False)
    return dedup.jaccard_pairs(sh, "doc_id", threshold=0.9)


# Word-3-gram shingle twin of _JACCARD_CTE. The near-dup SCALE path
# shingles on 3-grams, not unigrams: over a shared small vocabulary the
# unigram-set Jaccard of unrelated docs is high (every doc contains most
# words), which collapses LSH banding into all-pairs — measured 7.7M
# candidate pairs from 5k docs at sf0.1. Sequences, not vocabularies,
# must match for a 3-gram to collide, so cross-doc similarity (and the
# candidate count) drops to ~the true near-dup rate.
#: min-id representative per exact text (the exact-collapse pre-stage —
#: r12 verdict #2: byte-identical duplicates are dedup_exact's finding;
#: they must never reach near-dup banding, where a k-clique of them
#: costs k(k-1)/2 pair emissions)
_REPS_CTE = """
    reps AS (SELECT min(doc_id) AS doc_id
             FROM documents GROUP BY md5(coalesce(text, chr(0))))
"""


_SHINGLE3_JACCARD_CTE = """
    tarr AS (SELECT doc_id,
                    regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '\\s+') AS toks
             FROM documents),
    tok3 AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS w
        FROM tarr,
             LATERAL (SELECT unnest(range(1, greatest(len(toks)-2, 0) + 1))
                      AS i) r
    ),
    sz3 AS (SELECT doc_id, COUNT(*) AS n FROM tok3 GROUP BY doc_id),
    inter3 AS (
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        FROM tok3 x JOIN tok3 y ON x.w = y.w AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ),
    jac3 AS (
        SELECT a, b, CAST(i / (sa.n + sb.n - i) AS DOUBLE) AS jaccard
        FROM inter3
        JOIN sz3 sa ON sa.doc_id = a
        JOIN sz3 sb ON sb.doc_id = b
    )
"""

#: _REPS_CTE + the word-3-gram shingle/exact-jaccard block restricted to
#: the exact-text representatives — the near-dup oracles' input stage
_REPS_SHINGLE3_CTE = f"{_REPS_CTE}, " + _SHINGLE3_JACCARD_CTE.replace(
    "FROM documents)",
    "FROM (SELECT * FROM documents "
    "WHERE doc_id IN (SELECT doc_id FROM reps)))", 1)


def _minhash_oracle(
    seeds: tuple[str, ...], bands: int, threshold: float,
) -> str:
    """Full-pipeline SQL replica of :func:`dedup.minhash_lsh_neardup`,
    including (r13) the exact-collapse pre-stage and the star-emission
    bucket cap: a band bucket holding more than ``dedup.BUCKET_CAP``
    docs contributes hub(min-id)→member pairs only, exactly like the
    Spark path — the oracle implements the documented semantics, not a
    superset (r12 verdict #2)."""
    rows = len(seeds) // bands
    sig_cols = ", ".join(
        f"min(md5(concat_ws('|', '{s}', w))) AS mh_{i}" for i, s in enumerate(seeds)
    )
    band_cols = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + f")) AS band_{b}"
        for b in range(bands)
    )
    cap = dedup.BUCKET_CAP
    band_stats = "".join(
        f", bstat_{b} AS (SELECT band_{b} AS key, COUNT(*) AS bsz, "
        f"min(doc_id) AS hub FROM banded GROUP BY 1)"
        for b in range(bands)
    )
    terms = []
    for b in range(bands):
        terms.append(
            f"SELECT x.doc_id AS a, y.doc_id AS b FROM banded x "
            f"JOIN banded y ON x.band_{b} = y.band_{b} "
            f"AND x.doc_id < y.doc_id "
            f"JOIN bstat_{b} s ON s.key = x.band_{b} "
            f"AND s.bsz <= {cap}"
        )
        terms.append(
            f"SELECT s.hub AS a, x.doc_id AS b FROM banded x "
            f"JOIN bstat_{b} s ON s.key = x.band_{b} "
            f"WHERE s.bsz > {cap} AND x.doc_id <> s.hub"
        )
    band_joins = "\nUNION\n".join(terms)
    return f"""
    WITH {_REPS_SHINGLE3_CTE},
    sig AS (SELECT doc_id, {sig_cols} FROM tok3 GROUP BY doc_id),
    banded AS (SELECT doc_id, {band_cols} FROM sig)
    {band_stats},
    cand AS ({band_joins})
    SELECT j.a, j.b, j.jaccard
    FROM jac3 j
    WHERE j.jaccard >= {threshold}
      AND EXISTS (SELECT 1 FROM cand c WHERE c.a = j.a AND c.b = j.b)
    """


@register(
    "neardup_minhash_lsh",
    # bands=3 × rows=4 puts the banding S-curve's threshold at
    # (1/3)^(1/4) ≈ 0.76 for the 0.9 target (recall ≈ 0.96 at j=0.9),
    # vs the old 4×3 whose ≈0.63 threshold admitted moderately-similar
    # pairs wholesale. With 3-gram shingles + this banding, sf0.1
    # candidates drop from 7.7M to the true near-dup neighborhood and
    # the end-to-end wall from 90 s to seconds.
    # r13: exact-collapse pre-stage + star-emission bucket cap — the
    # oracle replicates BOTH, so the differential checks the documented
    # capped semantics, not an uncapped superset.
    oracle=_minhash_oracle(dedup.DEFAULT_SEEDS, bands=3, threshold=0.9),
)
def neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_neardup(
        docs, "doc_id", "text", threshold=0.9, shingle_n=3, bands=3,
    )


def _simhash_oracle(max_hamming: int, bits: int) -> str:
    """SQL replica of :func:`dedup.simhash` + :func:`dedup.simhash_pairs`
    including (r13) the exact-collapse pre-stage and the star-emission
    chunk-bucket cap (see _minhash_oracle)."""
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (v >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(bits)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    chunks = max_hamming + 1
    width = bits // chunks
    cap = dedup.BUCKET_CAP
    chunk_joins = []
    chunk_stats = []
    for c in range(chunks):
        shift = c * width
        w = width + (bits - chunks * width if c == chunks - 1 else 0)
        mask = (1 << w) - 1
        key = f"((simhash >> {shift}) & {mask})"
        xkey = f"((x.simhash >> {shift}) & {mask})"
        ykey = f"((y.simhash >> {shift}) & {mask})"
        chunk_stats.append(
            f", cstat_{c} AS (SELECT {key} AS key, COUNT(*) AS bsz, "
            f"min(doc_id) AS hub FROM sh GROUP BY 1)"
        )
        chunk_joins.append(
            f"SELECT x.doc_id AS a, x.simhash AS ha, y.doc_id AS b, y.simhash AS hb "
            f"FROM sh x JOIN sh y ON {xkey} = {ykey} AND x.doc_id < y.doc_id "
            f"JOIN cstat_{c} s ON s.key = {xkey} AND s.bsz <= {cap}"
        )
        chunk_joins.append(
            f"SELECT s.hub AS a, hh.simhash AS ha, x.doc_id AS b, x.simhash AS hb "
            f"FROM sh x JOIN cstat_{c} s ON s.key = {xkey} "
            f"JOIN sh hh ON hh.doc_id = s.hub "
            f"WHERE s.bsz > {cap} AND x.doc_id <> s.hub"
        )
    cand = "\nUNION\n".join(chunk_joins)
    return f"""
    WITH {_REPS_SHINGLE3_CTE},
    tv AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(w), 1, {bits // 4})) AS BIGINT) AS v
           FROM tok3),
    sums AS (SELECT doc_id, {bit_sums} FROM tv GROUP BY doc_id),
    sh AS (SELECT doc_id, CAST({sim_expr} AS BIGINT) AS simhash FROM sums)
    {"".join(chunk_stats)},
    cand AS ({cand})
    SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
    """


# 60-bit hashes over 3-gram shingles (r13; was 32, and 16 before
# that): chunk saturation is the sizing constraint — hamming ≤ 3
# pigeonholes the hash into 4 chunks, and a chunk bucket's expected
# membership is n/2^width. At 32 bits (8-bit chunks) sf1's 50k docs
# put ~195 docs in EVERY bucket — banding degenerates to all-pairs
# and the r13 star cap fired on all 1024 buckets (a degenerate
# operating point, even though capped + accounted). 60 bits (15-bit
# chunks, the md5→BIGINT ceiling) gives 32k buckets per chunk: ~1.5
# docs/bucket at sf1, so the cap is inert at real density and fires
# only on adversarial cliques — the same profile as the MinHash tier.
@register("simhash_hamming_pairs",
          oracle=_simhash_oracle(max_hamming=3, bits=60))
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    reps = dedup.exact_representatives(docs, "doc_id", ["text"])
    # distinct_shingles=False: reps ids are unique by construction, so
    # the shingle rows are already distinct (r14 — drops one exchange)
    hashes = dedup.simhash(reps, "doc_id", "text", bits=60, shingle_n=3,
                           distinct_shingles=False)
    return dedup.simhash_pairs(hashes, "doc_id", max_hamming=3, bits=60)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_DIM = 64


def _dot_sql(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, _DIM + 1))


def _cosine_topk_oracle(query_ids: list[int], k: int) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_dot_sql('v', 'v')} AS sq FROM e),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(({_dot_sql('q.v', 'c.v')}) / (sqrt(q.sq) * sqrt(c.sq))
                    AS DOUBLE) AS cosine
        FROM n q JOIN n c ON q.vec_id != c.vec_id
        WHERE q.vec_id IN ({ids})
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rn FROM pairs
    ) WHERE rn <= {k}
    """


_TOPK_QUERY_IDS = [0, 1, 2, 3, 4]

@register(
    "embed_cosine_topk",
    oracle=_cosine_topk_oracle(_TOPK_QUERY_IDS, k=3),
)
def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _TOPK_QUERY_IDS, k=3)


def _hard_negatives_oracle(query_ids: list[int], k: int) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE label IS NOT NULL),
    n AS (SELECT vec_id, label, v, {_dot_sql('v', 'v')} AS sq FROM e),
    pairs AS (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS neighbor_id, c.label AS neighbor_label,
               CAST(({_dot_sql('q.v', 'c.v')}) / (sqrt(q.sq) * sqrt(c.sq))
                    AS DOUBLE) AS cosine
        FROM n q JOIN n c ON q.label != c.label
        WHERE q.vec_id IN ({ids})
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rn FROM pairs
    ) WHERE rn <= {k}
    """


@register(
    "embed_hard_negatives",
    oracle=_hard_negatives_oracle(_TOPK_QUERY_IDS, k=3),
)
def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py:hard_negatives) —
    the contrastive-training counterpart of embed_cosine_topk: top-k
    most-similar DIFFERENT-label candidates per query, label
    inequality pushed before the top-k window, broadcast queries ×
    one corpus pass (the exact tier; the bucketed/IVF tiers compose
    identically at scale)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(emb, _TOPK_QUERY_IDS, k=3)


def _ann_bucketed_oracle(query_ids: list[int], k: int, sign_dims: int) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    bucket = " || ".join(
        f"(CASE WHEN v[{i}] >= 0 THEN '1' ELSE '0' END)" for i in range(1, sign_dims + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_dot_sql('v', 'v')} AS sq, {bucket} AS bucket FROM e),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(({_dot_sql('q.v', 'c.v')}) / (sqrt(q.sq) * sqrt(c.sq))
                    AS DOUBLE) AS cosine
        FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
        WHERE q.vec_id IN ({ids})
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rn FROM pairs
    ) WHERE rn <= {k}
    """


_ANN_QUERY_IDS = list(range(10))

@register(
    "embed_ann_bucketed",
    oracle=_ann_bucketed_oracle(_ANN_QUERY_IDS, k=3, sign_dims=6),
)
def embed_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_bucketed(emb, _ANN_QUERY_IDS, k=3, sign_dims=6)


def _neardup_bucket_sql(sign_dims: int) -> str:
    return " || ".join(
        f"(CASE WHEN v[{i}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(1, sign_dims + 1)
    )


@register(
    "embed_neardup_pairs",
    # r11 (verdict #2): the REGISTERED tier is the sign-bucketed scale
    # path — pairs meet only inside their deterministic sign-LSH
    # bucket (an equi-join, never a cartesian product), the same
    # two-tier pattern as semdedup's matmul/join pair. The oracle
    # replays the bucket membership bit-identically; the exact
    # all-pairs tier stays as the pytest-pinned recall verifier
    # (tests/test_text_dedup_similarity.py::
    # test_neardup_bucketed_vs_exact).
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_dot_sql('v', 'v')} AS sq,
                 {_neardup_bucket_sql(6)} AS bucket FROM e)
    SELECT a.vec_id AS a, b.vec_id AS b,
           CAST(({_dot_sql('a.v', 'b.v')}) / (sqrt(a.sq) * sqrt(b.sq))
                AS DOUBLE) AS cosine
    FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ({_dot_sql('a.v', 'b.v')}) / (sqrt(a.sq) * sqrt(b.sq)) >= 0.4
    """,
)
def embed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(emb, threshold=0.4, sign_dims=6)


# ---------------------------------------------------------------------------
# Multimodal binary columns
# ---------------------------------------------------------------------------

@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS byte_len,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_bin = multimodal.to_binary_column(docs, "text")
    return with_bin.select(
        "doc_id",
        F.col("media_meta.byte_len").alias("byte_len"),
        F.col("media_meta.content_md5").alias("content_md5"),
    )


#: Repo-relative location of the committed decode golden — derived from
#: the package's own path (NOT a hardcoded checkout root) so the oracle
#: works from any clone location, same as gen_multimodal_golden.py.
_DECODE_GOLDEN = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "data", "golden", "multimodal_decode.parquet",
)


@register(
    "multimodal_decode",
    # Golden-join oracle (graduated from rows-only in r4): the expected
    # decode of every document was derived CLOSED-FORM from the payload
    # construction contract — independent re-synthesis + formula
    # metadata + hashlib md5, no codec involved — by
    # scripts/gen_multimodal_golden.py and committed at
    # data/golden/multimodal_decode.parquet keyed by (doc_id,
    # md5(text)). One file covers every sf dir (keys are content-
    # addressed); a synthesizer or parser drift breaks the join or the
    # value hash. DuckDB 1.0 cannot hash BLOBs, so a pure-SQL oracle
    # for content_md5 is impossible — this is the strongest available
    # tier.
    oracle=f"""
    SELECT d.doc_id, g.byte_len, g.content_md5, g.format, g.width,
           g.height, g.channels, g.sample_rate, g.mean_value
    FROM documents d
    JOIN read_parquet('{_DECODE_GOLDEN}') g
      ON g.doc_id = d.doc_id AND g.text_md5 = md5(coalesce(d.text, ''))
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs)
    return multimodal.decode_media_meta(media)


# No SQL oracle: recursive sequential computation (EWMA) — rows-only.
@register(
    "events_ewma",
    # The recurrence runs in pandas (the sanctioned extension point), yet
    # still gets an EXACT oracle: ewm(adjust=False) computes α·x+(1−α)·s
    # with one rounding per op, and a list_reduce left fold replicates it
    # bit-for-bit (IEEE addition is commutative; s₁ = x₁ both sides).
    # The per-prefix fold is O(n²) per key — oracle-scale only.
    # NULL policy: EWMA is defined over OBSERVED values — NULLs are
    # filtered identically on both sides (pandas ewm's NaN handling and
    # a NULL-poisoned SQL fold disagree otherwise).
    oracle="""
    WITH f AS (
        SELECT user_id, event_id, ts, value FROM events
        WHERE user_id < 20 AND value IS NOT NULL AND isfinite(value)
    ), seq AS (
        SELECT user_id,
               list(value ORDER BY ts, event_id) AS xs,
               list(ts ORDER BY ts, event_id) AS tss,
               list(event_id ORDER BY ts, event_id) AS ids
        FROM f GROUP BY user_id
    )
    SELECT user_id, ids[i] AS event_id, tss[i] AS ts, xs[i] AS value,
           list_reduce(xs[1:i],
               (s, x) -> CAST(0.3 AS DOUBLE) * x
                         + CAST(0.7 AS DOUBLE) * s) AS ewma
    FROM seq, LATERAL (SELECT unnest(range(1, len(xs) + 1)) AS i) r
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_database_to_elastic_datalake_spark.operators.grouped_pandas import (
        ewma_per_key,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 20) & finite_or_null("value").isNotNull()
    )
    return ewma_per_key(ev, "user_id", "ts", "value", alpha=0.3, id_col="event_id")


def _ivf_fixed_oracle(
    query_ids: list[int], k: int, nlist: int, nprobe: int
) -> str:
    """Full IVF-Flat reproduction in SQL over the fixed-grid quantizer
    (operators/ivf.py:fixed_grid_centroids): identical centroid
    literals, identical sequential-fold arithmetic for distances and
    dot products, identical (d2, cell) and (cosine, neighbor_id)
    total orders. Graduated embed_ann_ivf from rows-only in r4; the
    trained-KMeans tier stays pytest-verified for recall (training is
    the one stage SQL cannot express)."""
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        fixed_grid_centroids,
    )

    ids = ", ".join(str(i) for i in query_ids)
    cent_rows = ",\n        ".join(
        f"({j}, [{', '.join(repr(x) for x in row)}]::DOUBLE[])"
        for j, row in enumerate(fixed_grid_centroids(nlist, _DIM))
    )
    d2 = " + ".join(
        f"(v[{i}]-c[{i}])*(v[{i}]-c[{i}])" for i in range(1, _DIM + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents(j, c) AS (VALUES
        {cent_rows}),
    cd AS (
        SELECT e.vec_id, e.v, cents.j, {d2} AS d2
        FROM e CROSS JOIN cents
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY d2 ASC, j ASC) AS crn
        FROM cd
    ),
    n AS (SELECT vec_id, v, {_dot_sql('v', 'v')} AS sq FROM e),
    assign AS (SELECT vec_id, j AS cell FROM ranked WHERE crn = 1),
    probes AS (SELECT vec_id AS query_id, j AS cell FROM ranked
               WHERE crn <= {nprobe} AND vec_id IN ({ids})),
    pairs AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               CAST(({_dot_sql('q.v', 'c.v')}) / (sqrt(q.sq) * sqrt(c.sq))
                    AS DOUBLE) AS cosine
        FROM probes p
        JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
        JOIN n q ON q.vec_id = p.query_id
        JOIN n c ON c.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rn FROM pairs
    ) WHERE rn <= {k}
    """


@register(
    "corpus_cluster_profile",
    # the same fixed-grid assignment CTE as the IVF/semdedup oracles,
    # joined to documents; the top-lang pick and the LIMIT boundary
    # are totalized by (n desc, lang) and (doc_count desc, cell)
    oracle=None,  # set below — needs the centroid literals
)
def corpus_cluster_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus cartography (r7): per-semantic-cluster statistics —
    doc count, average length, dominant language and its share — the
    cluster-level profile that guides mixture weighting and curation
    decisions (the reporting half of SemDeDup's clustering).

    Spark shape: pure-map cell assignment (shared with
    operators/ivf.py), ONE join to the documents table on the shared
    id, ONE groupBy(cell, lang), then a per-cell window top-1 with the
    totals riding the same window — no second aggregation pass."""
    from pyspark.sql import Window

    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        _with_fixed_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    assigned = _with_fixed_cells(emb, 16, _DIM, "embedding").select(
        F.col("vec_id").alias("doc_id"), "cell")
    g = (
        assigned.join(docs.select("doc_id", "lang", "n_chars"),
                      "doc_id")
        .groupBy("cell", "lang")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("n_chars").alias("chars"))
    )
    w = Window.partitionBy("cell")
    ranked = (
        g.withColumn("doc_count", F.sum("n").over(w))
        .withColumn("avg_chars",
                    (F.sum("chars").over(w)
                     / F.sum("n").over(w)).cast("double"))
        .withColumn("__rn", F.row_number().over(
            w.orderBy(F.col("n").desc(), F.col("lang").asc())))
        .filter(F.col("__rn") == 1)
    )
    return ranked.select(
        "cell", "doc_count", "avg_chars",
        F.col("lang").alias("top_lang"),
        (F.col("n") / F.col("doc_count")).cast("double")
        .alias("top_lang_share"),
    ).orderBy(F.col("doc_count").desc(), F.col("cell").asc()).limit(16)


def _cluster_profile_oracle() -> str:
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        fixed_grid_centroids,
    )

    cent_rows = ",\n        ".join(
        f"({j}, [{', '.join(repr(x) for x in row)}]::DOUBLE[])"
        for j, row in enumerate(fixed_grid_centroids(16, _DIM))
    )
    d2 = " + ".join(
        f"(v[{i}]-c[{i}])*(v[{i}]-c[{i}])" for i in range(1, _DIM + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cents(j, c) AS (VALUES
        {cent_rows}),
    cd AS (
        SELECT e.vec_id, cents.j, {d2} AS d2 FROM e CROSS JOIN cents
    ),
    assign AS (
        SELECT vec_id AS doc_id, j AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2 ASC, j ASC) AS crn
            FROM cd
        ) WHERE crn = 1
    ),
    g AS (
        SELECT a.cell, d.lang,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(d.n_chars) AS chars
        FROM assign a JOIN documents d USING (doc_id)
        GROUP BY a.cell, d.lang
    ),
    ranked AS (
        SELECT cell, lang, n,
               CAST(SUM(n) OVER (PARTITION BY cell) AS BIGINT)
                   AS doc_count,
               CAST(SUM(chars) OVER (PARTITION BY cell) AS DOUBLE)
                   / SUM(n) OVER (PARTITION BY cell) AS avg_chars,
               ROW_NUMBER() OVER (PARTITION BY cell
                   ORDER BY n DESC, lang ASC) AS rn
        FROM g
    )
    SELECT cell, doc_count, avg_chars, lang AS top_lang,
           CAST(n AS DOUBLE) / doc_count AS top_lang_share
    FROM ranked WHERE rn = 1
    ORDER BY doc_count DESC, cell LIMIT 16
    """


# the oracle needs the centroid literals, built after the function
from sql_database_to_elastic_datalake_spark.registry import ORACLES  # noqa: E402

ORACLES["corpus_cluster_profile"] = _cluster_profile_oracle()


def _knn_oracle(k: int) -> str:
    """ES knn replayed in SQL: same fixed query vector (grid centroid
    0 — the shared closed form), same fold arithmetic, same
    (1+cos)/2 score and (score desc, vec_id) total order."""
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        fixed_grid_centroids,
    )

    q = fixed_grid_centroids(1, _DIM)[0]
    qn = sum(x * x for x in q) ** 0.5
    qlit = f"[{', '.join(repr(x) for x in q)}]::DOUBLE[]"
    return f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    n AS (SELECT vec_id, label, v, {_dot_sql('v', 'v')} AS sq FROM e),
    s AS (
        SELECT vec_id, label,
               (1.0 + ({_dot_sql('v', f"({qlit})")})
                      / (sqrt(sq) * {qn!r})) / 2.0 AS score
        FROM n
    )
    SELECT vec_id, label, CAST(score AS DOUBLE) AS _score FROM s
    ORDER BY score DESC, vec_id LIMIT {k}
    """


@register(
    "search_knn_vector",
    oracle=_knn_oracle(k=10),
)
def search_knn_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.x ``knn`` body key (r7 — modern vector search): exact
    cosine top-k over a literal query vector, scored (1+cos)/2 like
    ES's cosine index (operators/similarity.py:knn_search). Exact
    where ES runs HNSW — num_candidates accepted-and-ignored
    (documented strictly-better-recall divergence); the ANN tiers stay
    the scale path."""
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        fixed_grid_centroids,
    )
    from sql_database_to_elastic_datalake_spark.operators.similarity import (
        knn_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = fixed_grid_centroids(1, _DIM)[0]
    return knn_search(emb, "embedding", q, k=10).select(
        "vec_id", "label", "_score")


def _semdedup_oracle(threshold: float, nlist: int) -> str:
    """SemDeDup replayed in SQL: the fixed-grid assignment CTE (same
    centroid literals and fold arithmetic as _ivf_fixed_oracle), the
    cell-equality pair join, and the keep-minimum-id rule."""
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        fixed_grid_centroids,
    )

    cent_rows = ",\n        ".join(
        f"({j}, [{', '.join(repr(x) for x in row)}]::DOUBLE[])"
        for j, row in enumerate(fixed_grid_centroids(nlist, _DIM))
    )
    d2 = " + ".join(
        f"(v[{i}]-c[{i}])*(v[{i}]-c[{i}])" for i in range(1, _DIM + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cents(j, c) AS (VALUES
        {cent_rows}),
    cd AS (
        SELECT e.vec_id, e.v, cents.j, {d2} AS d2
        FROM e CROSS JOIN cents
    ),
    assign AS (
        SELECT vec_id, j AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2 ASC, j ASC) AS crn
            FROM cd
        ) WHERE crn = 1
    ),
    n AS (SELECT vec_id, v, {_dot_sql('v', 'v')} AS sq FROM e),
    dropped AS (
        SELECT DISTINCT y.vec_id AS vid
        FROM assign x JOIN assign y
          ON x.cell = y.cell AND x.vec_id < y.vec_id
        JOIN n a ON a.vec_id = x.vec_id
        JOIN n b ON b.vec_id = y.vec_id
        WHERE ({_dot_sql('a.v', 'b.v')}) / (sqrt(a.sq) * sqrt(b.sq))
              >= {threshold!r}
    )
    SELECT vec_id, label FROM e
    WHERE vec_id NOT IN (SELECT vid FROM dropped)
    """


@register(
    "semdedup_embeddings",
    oracle=_semdedup_oracle(threshold=0.4, nlist=64),
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) — semantic near-dup removal by
    within-cluster cosine comparison (operators/ivf.py:semdedup): a
    pure-map cell assignment, ONE cell-equality self-join for
    candidate pairs, deterministic keep-minimum-id. The standard
    embedding-level dedup pass for LLM training corpora."""
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        semdedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # 64 cells: the paper's cost knob — pair volume is Σ cell², and
    # the sf1 rehearsal measured 16 cells leaving ~15M pairs vs ~3M
    # at 64 (skewed real embeddings concentrate; see SCALE.md)
    return semdedup(emb, threshold=0.4, nlist=64).select(
        "vec_id", "label")


@register(
    "embed_ann_ivf",
    oracle=_ivf_fixed_oracle(list(range(10)), k=3, nlist=16, nprobe=3),
)
def embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        ivf_search_fixed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_search_fixed(
        emb, query_ids=list(range(10)), k=3, nlist=16, nprobe=3
    )


def _knn_ivf_oracle(k: int, nlist: int, nprobe: int,
                    where: str = "") -> str:
    """The knn PROBED tier replayed in SQL: probe-cell selection (top
    nprobe centroids by the same left-fold distance to the literal
    query, (d2, j) total order), fixed-grid cell assignment, scoring
    over probed cells only, (score desc, vec_id) top-k — every stage
    of operators/ivf.py:ivf_knn_literal with identical arithmetic."""
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        fixed_grid_centroids,
    )

    q = fixed_grid_centroids(97, _DIM)[41]
    qn = sum(x * x for x in q) ** 0.5
    qlit = f"[{', '.join(repr(x) for x in q)}]::DOUBLE[]"
    cent_rows = ",\n        ".join(
        f"({j}, [{', '.join(repr(x) for x in row)}]::DOUBLE[])"
        for j, row in enumerate(fixed_grid_centroids(nlist, _DIM))
    )
    d2 = " + ".join(
        f"(v[{i}]-c[{i}])*(v[{i}]-c[{i}])" for i in range(1, _DIM + 1)
    )
    d2q = " + ".join(
        f"(q[{i}]-c[{i}])*(q[{i}]-c[{i}])" for i in range(1, _DIM + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings {where}),
    cents(j, c) AS (VALUES
        {cent_rows}),
    qv(q) AS (VALUES ({qlit})),
    probes AS (
        SELECT j FROM (SELECT cents.j, {d2q} AS d2 FROM cents, qv)
        ORDER BY d2 ASC, j ASC LIMIT {nprobe}
    ),
    cd AS (
        SELECT e.vec_id, cents.j, {d2} AS d2 FROM e CROSS JOIN cents
    ),
    assign AS (
        SELECT vec_id, j AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2 ASC, j ASC) AS crn
            FROM cd
        ) WHERE crn = 1
    ),
    n AS (SELECT vec_id, label, v, {_dot_sql('v', 'v')} AS sq FROM e),
    s AS (
        SELECT n.vec_id, n.label,
               (1.0 + ({_dot_sql('v', f"({qlit})")})
                      / (sqrt(sq) * {qn!r})) / 2.0 AS score
        FROM n JOIN assign USING (vec_id)
        WHERE assign.cell IN (SELECT j FROM probes)
    )
    SELECT vec_id, label, CAST(score AS DOUBLE) AS _score FROM s
    ORDER BY score DESC, vec_id LIMIT {k}
    """


@register(
    "search_knn_ivf",
    oracle=_knn_ivf_oracle(k=10, nlist=16, nprobe=3),
)
def search_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The knn body key's IVF-probed tier (r13, r12 verdict #3): what
    the API route runs when ``num_candidates`` is set — probe-cell
    selection driver-side against the closed-form grid, then ONE
    corpus pass: pure-map cell assignment → probed-cell filter →
    cosine column algebra → TakeOrdered(k). Zero shuffles, zero joins
    (plan-gated); exact knn (search_knn_vector) stays the verifier —
    recall vs exact is pytest-asserted like embed_ann_ivf's."""
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        fixed_grid_centroids,
        ivf_knn_literal,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = fixed_grid_centroids(97, _DIM)[41]
    return ivf_knn_literal(
        emb, "embedding", q, k=10, nlist=16, nprobe=3
    ).select("vec_id", "label", "_score")


@register(
    "search_knn_ivf_filtered",
    oracle=_knn_ivf_oracle(k=10, nlist=16, nprobe=3,
                           where="WHERE label IN (3, 7)"),
)
def search_knn_ivf_filtered(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """knn with a DSL ``filter`` through the PROBED tier (r14, r13
    verdict stretch #9): the compiled filter applies BEFORE the cell
    assignment and cosine work — rows outside the filter never pay
    the nlist-fold or the norm math, and the comparison pushes to the
    parquet scan (plan-gated). Same zero-shuffle/zero-join plan as
    search_knn_ivf."""
    from sql_database_to_elastic_datalake_spark.operators.ivf import (
        fixed_grid_centroids,
        ivf_knn_literal,
    )
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        compile_dsl,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = fixed_grid_centroids(97, _DIM)[41]
    pred = compile_dsl({"terms": {"label": [3, 7]}},
                       schema_fields=emb.schema)
    return ivf_knn_literal(
        emb, "embedding", q, k=10, nlist=16, nprobe=3, pred=pred
    ).select("vec_id", "label", "_score")


# ---------------------------------------------------------------------------
# End-to-end corpus cleaning — the composed LLM-training-data pipeline:
# quality gate → language gate → exact dedup → near-dup removal
# (keep-minimum-id heuristic over verified ≥0.9 Jaccard pairs).
# ---------------------------------------------------------------------------

@register(
    "corpus_clean",
    oracle=f"""
    WITH {{cte}},
    quality AS (
        SELECT doc_id, lang FROM documents
        WHERE len({_TOKENS}) >= 20 AND lang = 'en'
    ),
    exact_keep AS (
        SELECT min(doc_id) AS doc_id
        FROM documents
        WHERE doc_id IN (SELECT doc_id FROM quality)
        GROUP BY md5(coalesce(text, chr(0)))
    ),
    neardup_drop AS (
        -- pairs over the full corpus, endpoint-filtered: identical to
        -- shingling only the exact_keep subset, without duplicating the
        -- shared 3-gram tokenization definition
        SELECT DISTINCT j.b AS doc_id
        FROM jac3 j
        WHERE j.jaccard >= 0.9
          AND j.a IN (SELECT doc_id FROM exact_keep)
          AND j.b IN (SELECT doc_id FROM exact_keep)
    )
    SELECT doc_id FROM exact_keep
    WHERE doc_id NOT IN (SELECT doc_id FROM neardup_drop)
    """.replace("{cte}", _SHINGLE3_JACCARD_CTE),
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed cleaning pipeline: quality gate -> exact dedup ->
    near-dup drop -> surviving ids. The near-dup stage verifies exact
    Jaccard >= 0.9 over word-3-GRAM shingle sets: sequences, not
    vocabularies, must match for a shingle to collide, so the
    shared-shingle candidate join stays ~linear where the unigram basis
    degenerates toward all-pairs over a shared vocabulary (measured
    17.8 s -> ~2 s at sf0.1; same blow-up class the MinHash banding fix
    documented in ROUND3_NOTES.md)."""
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.filter(
        (text.token_count_ws("text") >= 20) & (F.col("lang") == "en")
    )
    kept_exact = dedup.exact_dedup(quality, ["text"], "doc_id").select("doc_id")
    surviving = quality.join(kept_exact, "doc_id", "left_semi")
    sh = dedup.word_shingles(surviving, "doc_id", "text", n=3, distinct=False)
    pairs = dedup.jaccard_pairs(sh, "doc_id", threshold=0.9)
    drop = pairs.select(F.col("b").alias("doc_id")).distinct()
    return surviving.join(drop, "doc_id", "left_anti").select("doc_id")


# ---------------------------------------------------------------------------
# Composed retrieval pipeline: quality gate → embedding join → exact
# cosine top-k over the QUALIFYING corpus only. The retrieval shape a
# RAG/training-data stack runs: metadata predicates prune the candidate
# set before any vector math, so the scoring cross-product shrinks with
# filter selectivity instead of scanning the whole index.
# ---------------------------------------------------------------------------

_RETRIEVAL_QUERY_IDS = [0, 1, 2]

@register(
    "retrieval_filtered_topk",
    oracle=f"""
    WITH gate AS (
        SELECT doc_id, lang FROM documents
        WHERE len({_TOKENS}) >= 20 AND lang = 'en'
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_dot_sql('v', 'v')} AS sq FROM e),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, g.lang,
               CAST(({_dot_sql('q.v', 'c.v')}) / (sqrt(q.sq) * sqrt(c.sq))
                    AS DOUBLE) AS cosine
        FROM n q
        JOIN n c ON c.vec_id != q.vec_id
        JOIN gate g ON g.doc_id = c.vec_id
        WHERE q.vec_id IN ({", ".join(str(i) for i in _RETRIEVAL_QUERY_IDS)})
    )
    SELECT query_id, neighbor_id, lang, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rn FROM pairs
    ) WHERE rn <= 5
    """,
)
def retrieval_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_database_to_elastic_datalake_spark.operators.dedup_window import (
        top_k_per_group,
    )
    from sql_database_to_elastic_datalake_spark.operators.similarity import (
        dot,
        with_sq_norm,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    gate = docs.filter(
        (text.token_count_ws("text") >= 20) & (F.col("lang") == "en")
    ).select(F.col("doc_id").alias("vec_id"), "lang")

    base = with_sq_norm(emb, "embedding")
    queries = base.filter(
        F.col("vec_id").isin(_RETRIEVAL_QUERY_IDS)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vec_d").alias("q_vec"),
        F.col("sq_norm").alias("q_sq"),
    )
    cands = base.join(F.broadcast(gate), "vec_id", "inner").select(
        F.col("vec_id").alias("neighbor_id"),
        "lang",
        F.col("_vec_d").alias("c_vec"),
        F.col("sq_norm").alias("c_sq"),
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(cands)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.sqrt(F.col("q_sq")) * F.sqrt(F.col("c_sq")))
            ).cast("double"),
        )
    )
    return top_k_per_group(
        scored.select("query_id", "neighbor_id", "lang", "cosine"),
        keys=["query_id"],
        order_by=[F.col("cosine"), (-F.col("neighbor_id"))],
        k=5,
        descending=True,
    )


# ---------------------------------------------------------------------------
# LLM-corpus preparation: chunking, packing, redaction, stratified sampling
# (operators/chunking.py). No reference analog — row-loop ETL has no corpus
# prep; these are the 100 TB training-pipeline extensions.
# ---------------------------------------------------------------------------

@register(
    "doc_chunks",
    oracle="""
    WITH t AS (
        -- NULL text -> zero chunks (mirrors the Spark-side explode of
        -- a NULL sequence)
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), c AS (
        SELECT doc_id, toks, len(toks) AS n,
               GREATEST(CAST(ceil((len(toks) - 32) / CAST(16 AS DOUBLE)) AS BIGINT) + 1, 1)
                   AS n_chunks
        FROM t
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(toks[(i*16 + 1):(i*16 + 32)], ' ') AS chunk,
           CAST(LEAST(32, n - i*16) AS BIGINT) AS n_tokens
    FROM c, LATERAL (SELECT unnest(range(n_chunks)) AS i) r
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_size=32, stride=16)


@register(
    "pack_token_budget",
    oracle="""
    WITH tc AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 512) AS BIGINT) AS batch_id
    FROM tc
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        pack_by_token_budget,
    )
    from sql_database_to_elastic_datalake_spark.operators.text import (
        token_count_ws,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pack_by_token_budget(
        docs, "doc_id", token_count_ws("text"), budget=512
    )


@register(
    "pack_token_budget_exact",
    # r11: packing quoted in EXACT tokenizer counts — the oracle rides
    # the committed BPE golden (content-addressed join, then the same
    # start-offset window as pack_token_budget), so the full
    # count→pack composition is differentially checked even though
    # the BPE loop itself is not SQL-expressible
    oracle=f"""
    WITH tc AS (
        SELECT d.doc_id, g.n_bpe_exact AS n_tokens
        FROM documents d
        JOIN read_parquet('{{_BPE_GOLDEN}}') g
          ON g.doc_id = d.doc_id
         AND g.text_md5 = md5(coalesce(d.text, ''))
    )
    SELECT doc_id, n_tokens,
           CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 512) AS BIGINT) AS batch_id
    FROM tc
    """.replace("{_BPE_GOLDEN}", _BPE_GOLDEN),
)
def pack_token_budget_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing quoted in tokenizer-EXACT counts (r11,
    verdict #8's point): the Arrow-batched BPE tier feeds the same
    window packer, so batch boundaries match what a training loader
    counting with the production tokenizer would see."""
    from sql_database_to_elastic_datalake_spark.operators.bpe import (
        default_merges_path,
        token_count_bpe_exact,
    )
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        pack_by_token_budget,
    )

    docs = load_table(spark, sf_dir, "documents")
    counted = token_count_bpe_exact(
        docs, "text", default_merges_path(), out_col="__bpe")
    return pack_by_token_budget(counted, "doc_id", "__bpe", budget=512)


@register(
    "lm_perplexity_features",
    # r11: CCNet-style LM quality scoring — the oracle pins the EXACT
    # integer cross-moments (n_bigrams, model_hits, context_hits);
    # log_prob/perplexity stay out (libm ln/exp are not bit-portable —
    # the DSIR convention). Same analyzer fold + md5 bucket hash as
    # every hashed model oracle; bigrams are ADJACENT token pairs, so
    # order rides the token array in both engines.
    oracle="""
    WITH tt AS (
        SELECT doc_id, lang IS NOT DISTINCT FROM 'en' AS is_t,
               list_filter(regexp_split_to_array(
                   lower(replace(text, 'İ', 'i̇')), '[^0-9a-z]+'),
                   t -> t <> '') AS toks
        FROM documents
    ), bg AS (
        SELECT doc_id, is_t,
               CAST(CAST(('0x' || substr(md5(toks[i]), 1, 8))
                    AS UBIGINT) % 1024 AS BIGINT) AS b1,
               CAST(CAST(('0x' || substr(md5(toks[i+1]), 1, 8))
                    AS UBIGINT) % 1024 AS BIGINT) AS b2
        FROM tt, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
    ), model AS (
        SELECT b1, b2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM bg WHERE is_t GROUP BY b1, b2
    ), ctx AS (
        SELECT b1, CAST(SUM(c12) AS BIGINT) AS c1 FROM model GROUP BY b1
    ), perdoc AS (
        SELECT doc_id, b1, b2, CAST(COUNT(*) AS BIGINT) AS n
        FROM bg GROUP BY doc_id, b1, b2
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(SUM(n * COALESCE(c12, 0)) AS BIGINT) AS model_hits,
           CAST(SUM(n * COALESCE(c1, 0)) AS BIGINT) AS context_hits
    FROM perdoc
    LEFT JOIN model USING (b1, b2)
    LEFT JOIN ctx USING (b1)
    GROUP BY doc_id
    """,
)
def lm_perplexity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM perplexity scoring (arXiv:1911.00359 §4.3): a
    hashed-bigram model trained on the target pool (lang == 'en')
    scores every document; head/middle/tail terciles are the public
    corpus-quality split. Registered surface = the exact integer
    moments the log score derives from (operators/lm.py — the DSIR
    oracle convention); the log/perplexity tier is pytest-checked
    against a plain-python replica."""
    from sql_database_to_elastic_datalake_spark.operators import lm

    docs = load_table(spark, sf_dir, "documents")
    model = lm.lm_bigram_model(docs, F.col("lang") == "en")
    feats = lm.lm_doc_features(docs, model)
    return feats.select(
        "doc_id", "n_bigrams", "model_hits", "context_hits")


@register(
    "fineweb_quality_filters",
    # C4/FineWeb/Gopher line-level rules: exact integer line counts,
    # witnesses, ratios as one division of exact ints, and the keep
    # flag at the published thresholds — all per-row column algebra
    oracle=r"""
    WITH lined AS (
        SELECT doc_id,
               list_filter(list_transform(
                   string_split(text, chr(10)),
                   l -> regexp_replace(l, '^\s+|\s+$', '', 'g')),
                   l -> l <> '') AS lines,
               lower(text) LIKE '%lorem ipsum%' AS has_lorem_ipsum,
               text LIKE '%{%' AS has_curly_brace
        FROM documents WHERE text IS NOT NULL
    ), counted AS (
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(list_filter(lines,
                   l -> regexp_matches(l, '[.!?"'']$'))) AS BIGINT)
                   AS n_punct_lines,
               CAST(len(list_filter(lines,
                   l -> regexp_matches(l, '^[-*•]'))) AS BIGINT)
                   AS n_bullet_lines,
               CAST(len(list_filter(lines,
                   l -> regexp_matches(l, '\\.\\.\\.$'))) AS BIGINT)
                   AS n_ellipsis_lines,
               CAST(len(list_distinct(lines)) AS BIGINT)
                   AS n_distinct_lines,
               has_lorem_ipsum, has_curly_brace
        FROM lined WHERE len(lines) > 0
    )
    SELECT doc_id, n_lines, n_punct_lines, n_bullet_lines,
           n_ellipsis_lines, n_distinct_lines,
           has_lorem_ipsum, has_curly_brace,
           CAST(n_punct_lines AS DOUBLE) / n_lines
               AS punct_line_ratio,
           CAST(n_bullet_lines AS DOUBLE) / n_lines
               AS bullet_line_ratio,
           CAST(n_ellipsis_lines AS DOUBLE) / n_lines
               AS ellipsis_line_ratio,
           CAST(n_lines - n_distinct_lines AS DOUBLE) / n_lines
               AS dup_line_ratio,
           (NOT has_lorem_ipsum AND NOT has_curly_brace
            AND CAST(n_bullet_lines AS DOUBLE) / n_lines <= 0.9
            AND CAST(n_ellipsis_lines AS DOUBLE) / n_lines <= 0.3
            AND CAST(n_lines - n_distinct_lines AS DOUBLE)
                / n_lines <= 0.3
            AND CAST(n_punct_lines AS DOUBLE) / n_lines >= 0.12)
               AS keep
    FROM counted
    """,
)
def fineweb_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/FineWeb/Gopher line-level rule bundle
    (operators/text.py:fineweb_line_stats): terminal-punctuation
    ratio, bullet/ellipsis line shares, within-doc duplicate-line
    fraction, the two C4 witnesses, and the keep flag at the
    published thresholds. Zero shuffles — pure per-row folds over
    one line-split array."""
    docs = load_table(spark, sf_dir, "documents")
    return text.fineweb_line_stats(docs, "doc_id", "text")


@register(
    "lm_kneser_ney_features",
    # r11 late: interpolated-KN scoring against the same hashed model
    # — the KenLM smoothing next to the Laplace tier. Oracle pins the
    # exact integer cross-moments incl. the forward/backward
    # distinct-type margins the KN terms derive from; the log tier is
    # python-replica-pinned (the DSIR convention).
    oracle="""
    WITH tt AS (
        SELECT doc_id, lang IS NOT DISTINCT FROM 'en' AS is_t,
               list_filter(regexp_split_to_array(
                   lower(replace(text, 'İ', 'i̇')), '[^0-9a-z]+'),
                   t -> t <> '') AS toks
        FROM documents
    ), bg AS (
        SELECT doc_id, is_t,
               CAST(CAST(('0x' || substr(md5(toks[i]), 1, 8))
                    AS UBIGINT) % 1024 AS BIGINT) AS b1,
               CAST(CAST(('0x' || substr(md5(toks[i+1]), 1, 8))
                    AS UBIGINT) % 1024 AS BIGINT) AS b2
        FROM tt, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
    ), model AS (
        SELECT b1, b2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM bg WHERE is_t GROUP BY b1, b2
    ), ctx AS (
        SELECT b1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1f
        FROM model GROUP BY b1
    ), bwm AS (
        SELECT b2, CAST(COUNT(*) AS BIGINT) AS n1b
        FROM model GROUP BY b2
    ), perdoc AS (
        SELECT doc_id, b1, b2, CAST(COUNT(*) AS BIGINT) AS n
        FROM bg GROUP BY doc_id, b1, b2
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(SUM(n * c12), 0) AS BIGINT) AS model_hits,
           CAST(COALESCE(SUM(n * c1), 0) AS BIGINT) AS context_hits,
           CAST(COALESCE(SUM(n * n1f), 0) AS BIGINT) AS fw_types,
           CAST(COALESCE(SUM(n * n1b), 0) AS BIGINT) AS bw_types
    FROM perdoc
    LEFT JOIN model USING (b1, b2)
    LEFT JOIN ctx USING (b1)
    LEFT JOIN bwm USING (b2)
    GROUP BY doc_id
    """,
)
def lm_kneser_ney_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney LM scoring (operators/lm.py:
    lm_kn_doc_features) — the smoothing KenLM/CCNet's reference
    pipeline uses, over the same broadcastable hashed-bigram model as
    lm_perplexity_features; one extra broadcast margin (backward type
    counts) is the whole plan delta. Registered surface = the exact
    integer moments (incl. both distinct-type margins)."""
    from sql_database_to_elastic_datalake_spark.operators import lm

    docs = load_table(spark, sf_dir, "documents")
    model = lm.lm_bigram_model(docs, F.col("lang") == "en")
    feats = lm.lm_kn_doc_features(docs, model)
    return feats.select(
        "doc_id", "n_bigrams", "model_hits", "context_hits",
        "fw_types", "bw_types")


#: DuckDB twin of operators.chunking.luhn_valid, inlined per use of
#: the digit-stripped candidate (RE2/SQL cannot bind a local).
_PII_D = "regexp_replace(cand, '[ -]', '', 'g')"
_PII_LUHN = (
    f"list_sum(list_transform(range(length({_PII_D})), i -> "
    f"CASE WHEN (length({_PII_D}) - 1 - i) % 2 = 1 "
    f"THEN CASE WHEN 2*CAST({_PII_D}[i+1] AS INT) > 9 "
    f"THEN 2*CAST({_PII_D}[i+1] AS INT) - 9 "
    f"ELSE 2*CAST({_PII_D}[i+1] AS INT) END "
    f"ELSE CAST({_PII_D}[i+1] AS INT) END)) % 10 = 0"
)
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
_PII_SSN = "[0-9]{3}[- ][0-9]{2}[- ][0-9]{4}"
_PII_IPV4 = ("(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}"
             "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])")
_PII_IPV6 = "(?:[0-9A-Fa-f]{1,4}:){3,7}[0-9A-Fa-f]{1,4}"
_PII_CC_G = "(?:[0-9]{4}[ -]){3}[0-9]{4}"
_PII_CC_B = "[0-9]{13,19}"


@register(
    "pii_redaction",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               -- || not concat(): DuckDB's concat SKIPS NULL arguments
               -- while Spark's propagates them; || is NULL-propagating
               -- in both engines, so a NULL text stays NULL end-to-end.
               (CASE WHEN doc_id % 5 = 0
                    THEN text || ' contact user' ||
                         CAST(doc_id AS VARCHAR) ||
                         '@example.com or 555-867-530' ||
                         CAST(doc_id % 10 AS VARCHAR)
                    ELSE text END) ||
               (CASE WHEN doc_id % 7 = 0
                    THEN ' ssn 123-45-6789 ip 10.0.' ||
                         CAST(doc_id % 256 AS VARCHAR) ||
                         '.7 ip6 2001:db8:85a3:1:2:8a2e:370:7334' ||
                         ' card 4539 1488 0343 6467' ||
                         ' junk 4539 1488 0343 6468'
                    ELSE '' END) AS text
        FROM documents
    ), c AS (
        SELECT doc_id, text,
               list_filter(
                   regexp_extract_all(text, '{_PII_CC_G}') ||
                   regexp_extract_all(text, '{_PII_CC_B}'),
                   cand -> {_PII_LUHN}) AS cc_valid,
               regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(text,
                   '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g'),
                   '{_PII_SSN}', '<SSN>', 'g'),
                   '{_PII_IPV4}', '<IP>', 'g'),
                   '{_PII_IPV6}', '<IP>', 'g') AS clean0
        FROM d
    )
    SELECT doc_id,
           len(regexp_split_to_array(text, '{_PII_EMAIL}')) - 1
               AS n_emails,
           len(regexp_split_to_array(text, '{_PII_PHONE}')) - 1
               AS n_phones,
           len(regexp_split_to_array(text, '{_PII_SSN}')) - 1 AS n_ssns,
           len(regexp_split_to_array(text, '{_PII_IPV4}')) - 1
               AS n_ipv4s,
           len(regexp_split_to_array(text, '{_PII_IPV6}')) - 1
               AS n_ipv6s,
           CAST(len(cc_valid) AS BIGINT) AS n_credit_cards,
           CASE WHEN len(cc_valid) = 0 THEN clean0
                ELSE list_reduce(list_prepend(clean0, cc_valid),
                     (acc, x) -> replace(acc, x, '<CREDIT_CARD>'))
           END AS clean_text
    FROM c
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic PII is injected deterministically (the corpus has
    none) so redaction counts are nonzero in both engines: every 5th
    doc gets an email+phone (r2), every 7th an SSN, IPv4, IPv6 and a
    Luhn-VALID card next to a Luhn-INVALID control that must survive
    (r11, verdict #6)."""
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        redact_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-867-530"),
                    (F.col("doc_id") % 10).cast("string"),
                ),
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" ssn 123-45-6789 ip 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7 ip6 2001:db8:85a3:1:2:8a2e:370:7334"
                          " card 4539 1488 0343 6467"
                          " junk 4539 1488 0343 6468"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return redact_pii(injected, "text").select(
        "doc_id", "n_emails", "n_phones", "n_ssns", "n_ipv4s",
        "n_ipv6s", "n_credit_cards", "clean_text",
    )


@register(
    "benchmark_decontamination",
    # the same İ-fold lower() parity replace as the shingle oracles;
    # probes are the doc_id % 50 == 0 documents (the benchmark-leaked-
    # into-the-corpus scenario), so positives exist at every SF and
    # include near-duplicates of probes beyond the probes themselves
    oracle="""
    WITH tarr AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))),
                                     '\\s+') AS toks
        FROM documents
    ),
    tok8 AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
               toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
               toks[i+6] || ' ' || toks[i+7] AS w
        FROM tarr,
             LATERAL (SELECT unnest(range(1, greatest(len(toks)-7, 0) + 1))
                      AS i) r
    ),
    probes AS (SELECT DISTINCT w FROM tok8 WHERE doc_id % 50 = 0),
    hits AS (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM tok8 t JOIN probes p USING (w) GROUP BY 1
    )
    SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (r6): flag corpus docs sharing any
    8-gram with a probe set — here the ``doc_id % 50 == 0`` documents
    stand in for a leaked eval set, so the probes themselves and their
    near-duplicates must flag. Probe n-grams broadcast; the corpus is
    touched once (see operators/chunking.py:flag_contamination)."""
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        flag_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    # ids_unique: doc_id is the table's primary key, so the corpus-wide
    # (id, shingle) distinct exchange is skipped (r15, guide §2.4)
    return flag_contamination(docs, "doc_id", "text", probes, "text",
                              n=8, ids_unique=True)


@register(
    "benchmark_decontamination_spans",
    # r11: the SURGICAL counterpart of benchmark_decontamination —
    # full-rebuild oracle (the exact_substring template): probe
    # 8-grams from the doc_id % 50 == 0 docs, case-folded matching on
    # whitespace tokens, covered-position union, gaps-and-islands
    # span count, in-order rebuild from the ORIGINAL tokens
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), g AS (
        SELECT doc_id, i AS s,
               md5(array_to_string(list_transform(
                   toks[(i+1):(i+8)],
                   x -> lower(replace(x, 'İ', 'i̇'))), ' ')) AS h
        FROM t, LATERAL (SELECT unnest(range(len(toks) - 7)) AS i) r
        WHERE len(toks) >= 8
    ), probe AS (
        SELECT DISTINCT h FROM g WHERE doc_id % 50 = 0
    ), dup AS (
        SELECT g.doc_id, g.s FROM g JOIN probe USING (h)
    ), cov AS (
        SELECT DISTINCT doc_id, s + j AS pos
        FROM dup, LATERAL (SELECT unnest(range(8)) AS j) rr
    ), tok AS (
        SELECT doc_id, i AS pos, toks[i+1] AS tok
        FROM t, LATERAL (SELECT unnest(range(len(toks))) AS i) r
    ), flag AS (
        SELECT tok.doc_id, tok.pos, tok.tok,
               cov.pos IS NOT NULL AS covered
        FROM tok LEFT JOIN cov
          ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
    ), spans AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM (
            SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS prev
            FROM cov) q
        WHERE prev IS NULL OR pos - prev > 1 GROUP BY doc_id
    )
    SELECT f.doc_id,
           COALESCE(array_to_string(
               list(tok ORDER BY pos) FILTER (WHERE NOT covered), ' '),
               '') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
               AS tokens_removed,
           CAST(COALESCE(MAX(spans.n_spans), 0) AS BIGINT)
               AS n_spans_removed
    FROM flag f LEFT JOIN spans USING (doc_id)
    GROUP BY f.doc_id
    """,
)
def benchmark_decontamination_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Surgical benchmark decontamination (r11): REMOVE the spans
    shared with the probe set instead of flagging whole docs — a doc
    leaking one benchmark question keeps the rest of its text. Probes
    = the ``doc_id % 50 == 0`` documents (the leaked-eval scenario of
    `benchmark_decontamination`); probe 8-grams broadcast, the corpus
    pays one k-gram explode and the rebuild
    (operators/chunking.py:remove_probe_spans). The probes themselves
    are fully covered by construction (clean_text '')."""
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        remove_probe_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    return remove_probe_spans(docs, "doc_id", "text", probes, "text", k=8)


@register(
    "stratified_sample_langs",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          (CASE WHEN lang = 'en' THEN '2000'
                WHEN lang = 'es' THEN '8000'
                ELSE '0000' END)
    """,
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", rates={"en": 0.125, "es": 0.5}
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Dedup cluster resolution: transitive closure of near-dup pairs.
# The oracle computes the same components with a recursive CTE (min
# reachable id per node) — tractable at oracle scale, while the Spark
# side uses distributed min-label propagation.
# ---------------------------------------------------------------------------

@register(
    "dedup_clusters_jaccard",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE3_JACCARD_CTE},
    edges AS (
        SELECT a, b FROM jac3 WHERE jaccard >= 0.9
        UNION
        SELECT b, a FROM jac3 WHERE jaccard >= 0.9
    ),
    nodes AS (SELECT DISTINCT doc_id AS id FROM documents),
    reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """,
)
def dedup_clusters_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3, distinct=False)
    pairs = dedup.jaccard_pairs(sh, "doc_id", threshold=0.9)
    # cost-attribution metrics (r5 verdict #5): this is the biggest
    # line of the sf1 bench, and its cost driver is LSH/shingle pair
    # density (data-bound), not the plan — the recorded numbers let a
    # bench regression be attributed (test_text_dedup_similarity
    # asserts them at sf0.1)
    metrics: dict = {}
    out = dedup.dedup_clusters(docs, pairs, "doc_id", metrics=metrics)
    out._dedup_metrics = metrics  # test hook; harmless to the driver
    return out


# ---------------------------------------------------------------------------
# Embedding int8 quantization (ANN serving prep) — floor(x+0.5) instead of
# round() so half-case behavior is engine-identical.
# ---------------------------------------------------------------------------

@register(
    "embed_quantize_int8",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               coalesce(
                   CAST(127 AS DOUBLE) /
                       nullif(list_max(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE)))), 0.0),
                   1.0) AS scale
        FROM embeddings
    )
    SELECT vec_id, scale,
           array_to_string(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INTEGER)),
               ',') AS q8
    FROM s
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_database_to_elastic_datalake_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings_int8(emb, "embedding")
    return out.select(
        "vec_id", "scale", F.array_join(F.col("q8"), ",").alias("q8")
    )


# ---------------------------------------------------------------------------
# Incremental sync by high-water mark (the CDC shape of the reference's
# scheduled re-sync, /root/reference/data_lake_sync.py polling loop): fetch
# the checkpoint scalar once, then filter with a LITERAL bound so the
# predicate reaches the parquet scan as a PushedFilter — the difference
# between reading one day and re-reading the whole lake each cycle.
# ---------------------------------------------------------------------------

@register(
    "incremental_sync_events",
    oracle="""
    SELECT event_id, user_id, event_type, ts
    FROM events
    WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
    """,
)
def incremental_sync_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hwm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("hwm")
    ).collect()[0]["hwm"]
    return ev.filter(F.col("ts") > F.lit(hwm)).select(
        "event_id", "user_id", "event_type", "ts"
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split: assignment by near-dup CLUSTER id, so
# two near-identical documents can never straddle train and test. Thresholds
# 0.9/0.95 → hex cutoffs e666/f333 (58982/62259 of 65536).
# ---------------------------------------------------------------------------

@register(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE3_JACCARD_CTE},
    edges AS (
        SELECT a, b FROM jac3 WHERE jaccard >= 0.9
        UNION
        SELECT b, a FROM jac3 WHERE jaccard >= 0.9
    ),
    nodes AS (SELECT DISTINCT doc_id AS id FROM documents),
    reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id, c.cluster_id,
           CASE WHEN substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 4) < 'e666'
                THEN 'train'
                WHEN substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 4) < 'f333'
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    """,
)
def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        leakage_safe_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3, distinct=False)
    pairs = dedup.jaccard_pairs(sh, "doc_id", threshold=0.9)
    clusters = dedup.dedup_clusters(docs, pairs, "doc_id")
    return leakage_safe_split(docs, clusters, "doc_id")


# ---------------------------------------------------------------------------
# Gopher-style repetition quality signals + composite gate.
# ---------------------------------------------------------------------------

@register(
    "text_repetition",
    oracle="""
    WITH tokf AS (
        SELECT doc_id, regexp_split_to_table(trim(lower(replace(text, 'İ', 'i̇'))), '\\s+') AS w
        FROM documents
    ), freq AS (
        SELECT doc_id, w, COUNT(*) AS c FROM tokf GROUP BY doc_id, w
    ), stats AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS top_count,
               CAST(SUM(c * length(w)) AS BIGINT) AS n_chars
        FROM freq GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               AS distinct_ratio,
           CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               AS top_token_share,
           CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               AS mean_word_len,
           (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.4
            AND CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.12)
               AS gopher_pass
    FROM stats
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = text.repetition_stats(docs, "doc_id", "text")
    return stats.withColumn(
        "gopher_pass",
        (F.col("distinct_ratio") >= 0.4) & (F.col("top_token_share") <= 0.12),
    )


# ---------------------------------------------------------------------------
# Higher-order array function family (transform/filter/slice/sort/distinct)
# — §2.7 completion next to the string/map/date families. All lambdas are
# codegen'd JVM expressions; ints (not doubles) are stringified so the
# text rendering is engine-identical.
# ---------------------------------------------------------------------------

@register(
    "array_functions_docs",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '\\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           array_to_string(toks[1:3], ' ') AS first3,
           len(list_filter(toks, x -> length(x) > 4)) AS n_long,
           array_to_string(list_transform(toks[1:5],
               x -> concat(x, ':', CAST(length(x) AS VARCHAR))), ' ')
               AS tagged5,
           array_to_string(list_sort(list_distinct(toks))[1:3], ' ')
               AS sorted3
    FROM t
    """,
)
def array_functions_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select(F.col("doc_id"), toks.alias("toks"))
    return base.select(
        "doc_id",
        F.array_join(F.slice("toks", 1, 3), " ").alias("first3"),
        F.size(F.filter("toks", lambda x: F.length(x) > 4))
        .cast("bigint")
        .alias("n_long"),
        F.array_join(
            F.transform(
                F.slice("toks", 1, 5),
                lambda x: F.concat(
                    x, F.lit(":"), F.length(x).cast("string")
                ),
            ),
            " ",
        ).alias("tagged5"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct("toks")), 1, 3), " "
        ).alias("sorted3"),
    )


# ---------------------------------------------------------------------------
# Corpus governance: composition report + right-to-be-forgotten sync.
# ---------------------------------------------------------------------------

@register(
    "corpus_composition",
    oracle="""
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                AS BIGINT) AS total_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY 1, 2
    """,
)
def corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus composition — the governance dashboard
    feeding sampling-rate decisions (what stratified_sample consumes).
    One partial-aggregated shuffle; counts/token-sums are exact ints."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("total_tokens"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


@register(
    "gdpr_delete_sync",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e
    WHERE e.user_id NOT IN (
        SELECT user_id FROM events
        WHERE event_type = 'error' AND user_id % 100 = 0
    )
    """,
)
def gdpr_delete_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten projection: drop every event of users on a
    deletion list via LEFT ANTI join — one shuffle keyed on the user id
    (broadcastable when the list is small), the read-side form of a
    tombstone delete. The deletion list here is derived in-query so the
    oracle is self-contained; production passes an explicit list table.
    """
    ev = load_table(spark, sf_dir, "events")
    deletion_list = (
        ev.filter((F.col("event_type") == "error") & (F.col("user_id") % 100 == 0))
        .select("user_id")
        .distinct()
    )
    return ev.join(deletion_list, "user_id", "left_anti").select(
        "event_id", "user_id", "event_type"
    )


# ---------------------------------------------------------------------------
# Pipeline capstone: per-stage survivor counts of the full corpus-prep
# funnel — raw → quality gate → exact dedup → near-dup prune → splits —
# in ONE declarative plan (each stage a CTE both engines share).
# ---------------------------------------------------------------------------

@register(
    "corpus_prep_stats",
    # Unlike the other jaccard-family oracles (which share
    # _SHINGLE3_JACCARD_CTE over ALL documents), this one shingles only
    # the exact-dedup SURVIVORS — the same restriction the engine plan
    # applies. The result is identical (the original filtered jac3 to
    # exact_keep endpoints anyway), but the pair stage no longer wades
    # through duplicate-text cliques, which is what made the sf1 oracle
    # out-spill 80 GB while the engine side completed (r4 verdict #3).
    oracle=f"""
    WITH quality AS (
        SELECT doc_id, text FROM documents
        WHERE len({_TOKENS}) >= 20 AND lang = 'en'
    ),
    exact_keep AS (
        SELECT min(doc_id) AS doc_id FROM quality
        GROUP BY md5(coalesce(text, chr(0)))
    ),
    tarr AS (
        SELECT q.doc_id,
               regexp_split_to_array(trim(lower(replace(q.text, 'İ', 'i̇'))),
                                     '\\s+') AS toks
        FROM quality q JOIN exact_keep k ON q.doc_id = k.doc_id
    ),
    tok3 AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS w
        FROM tarr,
             LATERAL (SELECT unnest(range(1, greatest(len(toks)-2, 0) + 1))
                      AS i) r
    ),
    sz3 AS (SELECT doc_id, COUNT(*) AS n FROM tok3 GROUP BY doc_id),
    inter3 AS (
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        FROM tok3 x JOIN tok3 y ON x.w = y.w AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ),
    jac3 AS (
        SELECT a, b, CAST(i / (sa.n + sb.n - i) AS DOUBLE) AS jaccard
        FROM inter3
        JOIN sz3 sa ON sa.doc_id = a
        JOIN sz3 sb ON sb.doc_id = b
    ),
    neardup_drop AS (
        SELECT DISTINCT j.b AS doc_id FROM jac3 j
        WHERE j.jaccard >= 0.9
    ),
    clean AS (
        SELECT doc_id FROM exact_keep
        WHERE doc_id NOT IN (SELECT doc_id FROM neardup_drop)
    ),
    split AS (
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333'
                    THEN 'val' ELSE 'test' END AS s
        FROM clean
    )
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_raw,
           CAST((SELECT COUNT(*) FROM quality) AS BIGINT) AS n_quality,
           CAST((SELECT COUNT(*) FROM exact_keep) AS BIGINT) AS n_exact_unique,
           CAST((SELECT COUNT(*) FROM clean) AS BIGINT) AS n_clean,
           CAST((SELECT COUNT(*) FROM split WHERE s = 'train') AS BIGINT)
               AS n_train,
           CAST((SELECT COUNT(*) FROM split WHERE s = 'val') AS BIGINT)
               AS n_val,
           CAST((SELECT COUNT(*) FROM split WHERE s = 'test') AS BIGINT)
               AS n_test
    """,
)
def corpus_prep_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-prep funnel as one plan, reporting survivors per
    stage. Each stage becomes a FLAG on the document (the near-dup drop
    set left-joins back; the exact-dedup keep flag rides a WINDOW over
    the content hash), and every count is a conditional sum in a single
    final aggregation — a crossJoin of per-stage count scalars would
    make Catalyst re-execute the shared pipeline subtree once per branch
    (observed: 64 shuffles vs ~10 for this shape). The window replaces
    the r4–r11 ``exact_dedup``-groupBy-rejoined-into-two-branches shape:
    that groupBy subtree (and the quality scan under it) re-executed
    once per consuming branch, which is where the sf1 run-to-run
    bimodality came from (SELFCHECK_r11: 4.4–19.8 s for unchanged code);
    the flag shape shares ONE shuffle between the shingle branch and the
    final count. (Splits hash the doc id directly — the cluster-keyed
    variant is leakage_safe_split; post-dedup every cluster has exactly
    one surviving doc, so the id IS the cluster key.)"""
    from pyspark.sql.window import Window

    from sql_database_to_elastic_datalake_spark.functions.scalar import (
        content_hash,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_quality = (text.token_count_ws("text") >= 20) & (F.col("lang") == "en")
    base = docs.select("doc_id", "text", is_quality.alias("is_q"))

    def flag_count(cond, alias):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(alias)

    # Branch A — raw/quality totals: one pushdown-free full scan with
    # map-side partial aggregation, no shuffle beyond the 1-row gather.
    totals = base.agg(
        F.count("*").cast("bigint").alias("n_raw"),
        flag_count(F.col("is_q"), "n_quality"),
    )
    # Branch B — everything past the quality gate. The lang='en'
    # predicate is pushed into every scan under this branch; the
    # exact-dedup keep flag is ONE window over the content hash (same
    # keep rule as dedup.exact_dedup: min id per identical content).
    quality = base.filter(F.col("is_q")).select("doc_id", "text")
    min_doc = F.min("doc_id").over(
        Window.partitionBy(content_hash(["text"]))
    )
    flagged = quality.withColumn("is_keep", F.col("doc_id") == min_doc)
    surviving = flagged.filter(F.col("is_keep")).select("doc_id", "text")
    sh = dedup.word_shingles(surviving, "doc_id", "text", n=3, distinct=False)
    pairs = dedup.jaccard_pairs(sh, "doc_id", threshold=0.9)
    drop = (
        pairs.select(F.col("b").alias("doc_id"))
        .distinct()
        .withColumn("is_drop", F.lit(True))
    )
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    clean = F.col("is_keep") & ~F.coalesce(F.col("is_drop"), F.lit(False))
    split = (
        F.when(bucket < "e666", F.lit("train"))
        .when(bucket < "f333", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    qcounts = (
        flagged.join(drop, "doc_id", "left")
        .select(
            F.col("is_keep"),
            clean.alias("is_clean"),
            split.alias("s"),
        )
        .agg(
            flag_count(F.col("is_keep"), "n_exact_unique"),
            flag_count(F.col("is_clean"), "n_clean"),
            flag_count(F.col("is_clean") & (F.col("s") == "train"), "n_train"),
            flag_count(F.col("is_clean") & (F.col("s") == "val"), "n_val"),
            flag_count(F.col("is_clean") & (F.col("s") == "test"), "n_test"),
        )
    )
    # 1-row + 1-row assembly WITHOUT a join: a constant-key equi-join
    # constant-folds into a nested-loop join, so instead the branches
    # union with complementary NULLs and a final max() collapses them.
    cols = ["n_raw", "n_quality", "n_exact_unique", "n_clean",
            "n_train", "n_val", "n_test"]
    a_row = totals.select(
        *[F.col(c) if c in ("n_raw", "n_quality")
          else F.lit(None).cast("bigint").alias(c) for c in cols]
    )
    b_row = qcounts.select(
        *[F.lit(None).cast("bigint").alias(c) if c in ("n_raw", "n_quality")
          else F.col(c) for c in cols]
    )
    # coalesce to 0: sum(when(...)) over an EMPTY frame is NULL, so a
    # corpus where no doc passes the quality gate would otherwise
    # report NULL for every branch-B counter (the oracle's scalar
    # COUNT subqueries report 0)
    return a_row.unionByName(b_row).agg(
        *[F.coalesce(F.max(c), F.lit(0)).cast("bigint").alias(c)
          for c in cols]
    )


# ---------------------------------------------------------------------------
# Multimodal frame-sampling plan — hash-checked member of the multimodal
# family (decode itself stays rows-only: no codec in the harness).
# n_frames is derived deterministically from doc_id so both engines build
# the same synthetic media catalog.
# ---------------------------------------------------------------------------

@register(
    "multimodal_frame_sample",
    oracle="""
    WITH media AS (
        SELECT doc_id, CAST(doc_id % 24 + 1 AS BIGINT) AS n_frames
        FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx
    FROM media, LATERAL (SELECT unnest(range(0, n_frames, 4)) AS i) r
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id", (F.col("doc_id") % 24 + 1).cast("bigint").alias("n_frames")
    )
    out = multimodal.frame_sample_plan(media, every_n=4)
    return out.select("doc_id", F.col("frame_idx").cast("bigint").alias("frame_idx"))


# ---------------------------------------------------------------------------
# Sparse term-vector cosine similarity — the bag-of-words sibling of the
# embedding similarity family. Hash-exact despite floating cosines: the
# dot product and squared norms are exact integer sums (order-free); the
# only roundings are two correctly-rounded sqrts and one division.
# Joins through shared terms (verifier tier, like neardup_jaccard);
# the scale path for text similarity is MinHash-LSH / embeddings.
# ---------------------------------------------------------------------------

@register(
    "text_cosine_pairs",
    oracle="""
    WITH tf AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                     regexp_split_to_table(trim(lower(replace(text, 'İ', 'i̇'))), '\\s+') AS w
              FROM documents)
        GROUP BY doc_id, w
    ), norms AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
        FROM tf GROUP BY doc_id
    ), dots AS (
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS num
        FROM tf a JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d.a, d.b,
           CAST(CAST(d.num AS DOUBLE)
                / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                AS DOUBLE) AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.a
    JOIN norms nb ON nb.doc_id = d.b
    WHERE CAST(d.num AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
          >= 0.995
    """,
)
def text_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT TF-vector cosine pairs — the verifier tier, same standing
    as `neardup_jaccard`/`embed_neardup_pairs`: docs meet through every
    shared word, so the pair join grows with vocabulary sharing
    (~167 s at sf0.1). The scale paths for this predicate are
    `simhash_hamming_pairs` / `neardup_minhash_lsh` (banded, ~linear)
    and `embed_ann_bucketed` for embedding cosine; this query exists to
    verify them and to serve small candidate sets."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").cast("bigint").alias("tf"))
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("n2")
    )
    a = tf.select(F.col("doc_id").alias("a"), "w", F.col("tf").alias("tfa"))
    b = tf.select(F.col("doc_id").alias("b"), "w", F.col("tf").alias("tfb"))
    dots = (
        a.join(b, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).cast("bigint").alias("num"))
    )
    na = norms.select(F.col("doc_id").alias("a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("b"), F.col("n2").alias("nb2"))
    cosine = (
        F.col("num").cast("double")
        / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
    ).cast("double")
    return (
        dots.join(na, "a")
        .join(nb, "b")
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= 0.995)
        .select("a", "b", "cosine")
    )


# ---------------------------------------------------------------------------
# Data-quality audit (operators/quality.py): uniqueness, required fields,
# referential integrity — one composed plan, one row of violation counts.
# A synthetic orphan order (o_custkey = -1) is injected identically in
# both engines so the detection path is exercised, not just the zeros.
# ---------------------------------------------------------------------------

@register(
    "data_quality_audit",
    oracle="""
    WITH orders_plus AS (
        SELECT o_orderkey, o_custkey FROM orders
        UNION ALL
        SELECT -999, -1
    )
    SELECT
      CAST((SELECT COALESCE(SUM(n - 1), 0) FROM
            (SELECT COUNT(*) AS n FROM customer GROUP BY c_custkey) WHERE n > 1)
           AS BIGINT) AS dup_customer_keys,
      CAST((SELECT COUNT(*) FROM orders
            WHERE o_custkey IS NULL OR o_orderdate IS NULL)
           AS BIGINT) AS null_order_fields,
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
           AS BIGINT) AS orphan_lineitems,
      CAST((SELECT COUNT(*) FROM orders_plus o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
           AS BIGINT) AS orphan_orders
    """,
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_database_to_elastic_datalake_spark.operators import quality

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders_plus = orders.select("o_orderkey", "o_custkey").unionByName(
        local_frame(spark, [(-999, -1)], "o_orderkey bigint, o_custkey bigint")
    )
    dup = quality.duplicate_key_rows(customer, ["c_custkey"]).agg(
        F.coalesce(F.sum(F.col("__n") - 1), F.lit(0))
        .cast("bigint")
        .alias("dup_customer_keys")
    )
    nulls = quality.null_violations(
        orders, ["o_custkey", "o_orderdate"]
    ).select(F.col("n_null_rows").alias("null_order_fields"))
    orphan_li = quality.orphan_rows(
        lineitem, orders, "l_orderkey", "o_orderkey"
    ).agg(F.count("*").cast("bigint").alias("orphan_lineitems"))
    orphan_ord = quality.orphan_rows(
        orders_plus, customer, "o_custkey", "c_custkey"
    ).agg(F.count("*").cast("bigint").alias("orphan_orders"))
    return (
        dup.crossJoin(nulls).crossJoin(orphan_li).crossJoin(orphan_ord)
    )


# ---------------------------------------------------------------------------
# Late-data profile: how far behind the running event-time high-water
# mark events arrive — the measurement that justifies a watermark delay
# (state bound) instead of guessing it. Arrival order is simulated by a
# deterministic hash of the event id (the synthetic table is stored in
# event-time order); production points this at the ingest sequence.
# ---------------------------------------------------------------------------

@register(
    "late_data_profile",
    oracle="""
    WITH arr AS (
        SELECT ts,
               MAX(ts) OVER (ORDER BY md5(CAST(event_id AS VARCHAR))
                             ROWS UNBOUNDED PRECEDING) AS high_wm
        FROM events
    )
    SELECT CAST(LEAST(floor(date_diff('microsecond', ts, high_wm)
                            / 86400000000.0), 6) AS BIGINT)
               AS lateness_bucket_days,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM arr GROUP BY 1
    """,
)
def late_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.orderBy(F.md5(F.col("event_id").cast("string")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    high_wm = F.max("ts").over(w)
    lateness_days = F.floor(
        (F.unix_micros(high_wm) - F.unix_micros(F.col("ts")))
        / F.lit(86400000000.0)
    )
    return (
        ev.select(
            F.least(lateness_days, F.lit(6))
            .cast("bigint")
            .alias("lateness_bucket_days")
        )
        .groupBy("lateness_bucket_days")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Distribution tooling: uniform-bucket histogram + robust (median/MAD)
# outlier counts. MAD-based detection resists the heavy tail that wrecks
# mean/stddev z-scores; both engines interpolate percentiles linearly so
# the medians match bit-for-bit (same contract value_percentiles pins).
# ---------------------------------------------------------------------------

@register(
    "value_histogram",
    oracle="""
    SELECT CASE WHEN isfinite(value)
                THEN CAST(LEAST(floor(value / 25.0), 19) AS BIGINT)
           END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # finite-values policy (functions/scalar.py:finite_or_null): Spark
    # silently clamps floor(inf)/cast where DuckDB errors; nonfinite
    # values land in the NULL "unbucketable" group alongside NULLs
    fin = finite_or_null("value")
    # when() (not least()) carries the NULL through: both engines'
    # least() IGNORES NULL args, which would silently bucket nonfinite
    # rows as 19
    bucket = F.when(
        fin.isNotNull(), F.least(F.floor(fin / F.lit(25.0)), F.lit(19))
    )
    return (
        ev.select(bucket.cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@register(
    "value_outliers_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.5) AS m
        FROM events GROUP BY 1
    ), dev AS (
        SELECT e.event_type, abs((CASE WHEN isfinite(e.value) THEN e.value END) - m.m) AS ad
        FROM events e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(SUM(CASE WHEN d.ad > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM dev d JOIN mad md ON d.event_type = md.event_type
    GROUP BY 1
    """,
)
def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile(finite_or_null("value"), F.lit(0.5)).alias("m")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(finite_or_null("value") - F.col("m")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("ad"), F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("ad") > F.lit(3) * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.count("*").cast("bigint").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Behavioral + BI staples: event-transition matrix (first-order Markov
# counts via lead()) and share-of-total with an exact-decimal window sum.
# ---------------------------------------------------------------------------

@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition counts: lead() over the per-user
    event sequence, then a count per (current, next) pair — one shuffle
    on the user (window) and one on the tiny pair key."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@register(
    "revenue_share_by_segment",
    oracle="""
    WITH seg AS (
        SELECT c.c_mktsegment AS segment,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    )
    SELECT segment,
           CAST(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE)
                AS DOUBLE) AS revenue_share
    FROM seg
    """,
)
def revenue_share_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total: per-segment revenue over an empty-frame window
    sum. Both the group sums and the total stay exact DECIMAL; the only
    float op is the final division, so shares hash-match. The window
    runs over 5 segment rows, not the fact table."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    seg = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    total = F.sum("rev").over(Window.partitionBy())
    return seg.select(
        "segment",
        (F.col("rev").cast("double") / total.cast("double"))
        .cast("double")
        .alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# Ops diagnostics: the numbers behind salting/broadcast decisions.
# ---------------------------------------------------------------------------

@register(
    "key_skew_report",
    oracle="""
    WITH k AS (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_rows_per_key,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(CAST(MAX(n) AS DOUBLE)
                / (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                AS DOUBLE) AS skew_factor
    FROM k
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis: max/avg rows per key — the number
    that decides whether a join needs salting (operators/skew.py) or
    AQE skew-split suffices. One partial-aggregated shuffle on the key,
    one single-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_orderkey").agg(F.count("*").cast("bigint").alias("n"))
    return k.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("n").cast("bigint").alias("max_rows_per_key"),
        F.sum("n").cast("bigint").alias("total_rows"),
        (
            F.max("n").cast("double")
            / (F.sum("n").cast("double") / F.count("*").cast("double"))
        )
        .cast("double")
        .alias("skew_factor"),
    )


@register(
    "join_explosion_estimate",
    oracle="""
    WITH a AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS na
        FROM events GROUP BY 1
    ), b AS (
        SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS nb
        FROM orders GROUP BY 1
    )
    SELECT CAST(SUM(a.na * b.nb) AS BIGINT) AS est_join_rows,
           CAST(MAX(a.na * b.nb) AS BIGINT) AS max_single_key_rows
    FROM a JOIN b ON a.user_id = b.user_id
    """,
)
def join_explosion_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-output cardinality BEFORE running the join: per-key
    multiplicity product summed over the key intersection. Costs two
    key-count aggregations plus a key-cardinality join — orders of
    magnitude cheaper than materializing a blown-up join to find out it
    was a mistake."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    a = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("na"))
    b = orders.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.count("*").cast("bigint").alias("nb")
    )
    prod = F.col("na") * F.col("nb")
    return a.join(b, "user_id").agg(
        F.sum(prod).cast("bigint").alias("est_join_rows"),
        F.max(prod).cast("bigint").alias("max_single_key_rows"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff + week-over-week growth — the sync-monitoring pair: what
# changed between two table versions, and how volumes trend.
# ---------------------------------------------------------------------------

@register(
    "snapshot_diff",
    oracle="""
    WITH old AS (SELECT s_suppkey AS id, s_name AS payload FROM supplier),
    new AS (
        SELECT s_suppkey AS id,
               CASE WHEN s_suppkey % 10 = 0 THEN s_name || '-v2'
                    ELSE s_name END AS payload
        FROM supplier WHERE s_suppkey % 25 != 0
        UNION ALL SELECT -1, 'added'
    )
    SELECT CASE WHEN o.id IS NULL THEN 'added'
                WHEN n.id IS NULL THEN 'removed'
                WHEN o.payload != n.payload THEN 'changed'
                ELSE 'unchanged' END AS change,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM old o FULL OUTER JOIN new n ON o.id = n.id
    GROUP BY 1
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify rows between two snapshot versions (added / removed /
    changed / unchanged) with one full outer join on the key — the audit
    a destructive-refresh sync (S9) should publish. The new version is
    synthesized deterministically so both engines diff identical inputs;
    production diffs two history versions (history_asof_read)."""
    sup = load_table(spark, sf_dir, "supplier")
    old = sup.select(F.col("s_suppkey").alias("id"), F.col("s_name").alias("payload"))
    new = (
        sup.filter(F.col("s_suppkey") % 25 != 0)
        .select(
            F.col("s_suppkey").alias("id"),
            F.when(
                F.col("s_suppkey") % 10 == 0, F.concat(F.col("s_name"), F.lit("-v2"))
            )
            .otherwise(F.col("s_name"))
            .alias("payload"),
        )
        .unionByName(
            local_frame(spark, [(-1, "added")], "id bigint, payload string")
        )
    )
    o = old.select(F.col("id").alias("o_id"), F.col("payload").alias("o_p"))
    n = new.select(F.col("id").alias("n_id"), F.col("payload").alias("n_p"))
    change = (
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_p") != F.col("n_p"), "changed")
        .otherwise("unchanged")
    )
    return (
        o.join(n, F.col("o_id") == F.col("n_id"), "full_outer")
        .select(change.alias("change"))
        .groupBy("change")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@register(
    "wow_growth",
    oracle="""
    WITH wk AS (
        SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT week, n,
           CAST(CAST(n AS DOUBLE) / CAST(lag(n) OVER (ORDER BY week) AS DOUBLE)
                - 1.0 AS DOUBLE) AS wow_growth
    FROM wk
    """,
)
def wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week volume growth: lag ratio over the weekly rollup —
    the window runs on ~weeks rows, not the fact table. Exact integer
    counts; one float division."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).agg(F.count("*").cast("bigint").alias("n"))
    prev = F.lag("n").over(Window.orderBy("week"))
    return wk.select(
        "week",
        "n",
        (F.col("n").cast("double") / prev.cast("double") - F.lit(1.0))
        .cast("double")
        .alias("wow_growth"),
    )


# ---------------------------------------------------------------------------
# Importance-weighted sampling + RAG context assembly — the curation draw
# whose keep-probability follows a per-row quality weight, and the
# retrieval-to-prompt composition joining top-k neighbors back to text.
# ---------------------------------------------------------------------------

@register(
    "weighted_sample_docs",
    oracle="""
    WITH w AS (
        SELECT doc_id, lang,
               LEAST(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                          AS DOUBLE) / 100.0, 0.9) AS rate,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS INTEGER) AS bucket
        FROM documents
    )
    SELECT doc_id, lang FROM w
    WHERE CAST(bucket AS DOUBLE) < rate * 65536.0
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling: keep-probability proportional to a per-row
    quality weight (token count here), decided by the same
    layout-independent md5-bucket draw as stratified_sample — longer
    documents survive at higher rates, short boilerplate is thinned,
    and membership is reproducible across engines and reruns."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.least(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
        / F.lit(100.0),
        F.lit(0.9),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    return (
        docs.withColumn("rate", rate)
        .filter(bucket.cast("double") < F.col("rate") * F.lit(65536.0))
        .select("doc_id", "lang")
    )


@register(
    "rag_context_assembly",
    oracle=f"""
    WITH topk AS ({_cosine_topk_oracle([0, 1, 2], k=2)}),
    ranked AS (
        SELECT t.query_id, t.neighbor_id, t.cosine,
               ROW_NUMBER() OVER (PARTITION BY t.query_id
                                  ORDER BY t.cosine DESC, t.neighbor_id)
                   AS rank
        FROM topk t
    )
    SELECT r.query_id,
           string_agg(substr(d.text, 1, 80), ' | ' ORDER BY r.rank)
               AS context
    FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
    GROUP BY r.query_id
    """,
)
def rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-to-prompt: top-2 cosine neighbors per query vector,
    joined back to their source text and concatenated in rank order —
    the context block a RAG caller feeds the model. Rank order is made
    explicit in the aggregation (sorted structs), so the assembled
    string is deterministic."""
    from sql_database_to_elastic_datalake_spark.operators.dedup_window import (
        top_k_per_group,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    topk = similarity.cosine_topk(emb, [0, 1, 2], k=2)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    ranked = topk.withColumn("rank", F.row_number().over(w))
    joined = ranked.join(
        F.broadcast(docs.select(F.col("doc_id").alias("neighbor_id"), "text")),
        "neighbor_id",
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("rank"),
                                F.substring(F.col("text"), 1, 80).alias("snip"),
                            )
                        )
                    ),
                    lambda s: s["snip"],
                ),
                " | ",
            ).alias("context")
        )
    )


# ---------------------------------------------------------------------------
# Canonical-corpus materialization + 7-day moving average — the dedup
# shrink made concrete, and the time-series smoothing staple.
# ---------------------------------------------------------------------------

@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE3_JACCARD_CTE},
    edges AS (
        SELECT a, b FROM jac3 WHERE jaccard >= 0.9
        UNION
        SELECT b, a FROM jac3 WHERE jaccard >= 0.9
    ),
    nodes AS (SELECT DISTINCT doc_id AS id FROM documents),
    reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster_id
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus AFTER near-dup cluster resolution: keep exactly the
    canonical (minimum-id) document of every cluster — singletons keep
    themselves. This is the materialized shrink the pair/cluster queries
    only describe; filter(id == cluster_id) ∘ dedup_clusters."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3, distinct=False)
    pairs = dedup.jaccard_pairs(sh, "doc_id", threshold=0.9)
    clusters = dedup.dedup_clusters(docs, pairs, "doc_id")
    canonical = clusters.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id")
    return docs.join(canonical, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


@register(
    "orders_revenue_7d_ma",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT day, CAST(rev AS DOUBLE) AS revenue,
           CAST(CAST(SUM(rev) OVER (ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                / CAST(COUNT(*) OVER (ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                AS DOUBLE) AS ma7
    FROM daily
    """,
)
def orders_revenue_7d_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average over daily revenue: exact-decimal daily sums
    and window totals, one float division per output row. The window
    runs over days, not orders."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        F.col("rev").cast("double").alias("revenue"),
        (
            F.sum("rev").over(w).cast("double")
            / F.count("*").over(w).cast("double")
        )
        .cast("double")
        .alias("ma7"),
    )


# ---------------------------------------------------------------------------
# Training-mixture tooling: curriculum deciles and per-language
# rebalancing rates (the "data mixing" math before a training run).
# ---------------------------------------------------------------------------

@register(
    "curriculum_deciles",
    oracle="""
    SELECT doc_id,
           CAST(ntile(10) OVER (
               ORDER BY CASE WHEN text IS NULL THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                        END, doc_id
           ) AS BIGINT) AS decile
    FROM documents
    """,
)
def curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: decile assignment by document length (the
    easy→hard proxy), unique-keyed tie-break so the buckets are
    deterministic. ntile distributes remainders to the leading buckets
    identically in both engines. NULL text counts as length 0 in BOTH
    engines — without the explicit rule, Spark's size() returns -1 for
    NULL (legacy sizeOfNull) while DuckDB's len() returns NULL and sorts
    last: opposite ends of the ordering."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(
        F.col("text").isNull(), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    w = Window.orderBy(n_tokens, F.col("doc_id"))
    return docs.select(
        "doc_id", F.ntile(10).over(w).cast("bigint").alias("decile")
    )


@register(
    "mixture_rebalance_rates",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1
    )
    SELECT lang, n,
           CAST(CAST(MIN(n) OVER () AS DOUBLE) / CAST(n AS DOUBLE) AS DOUBLE)
               AS keep_rate
    FROM counts
    """,
)
def mixture_rebalance_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep rates that rebalance the corpus to a uniform
    mixture (rate = min cell count / cell count) — the computed input
    stratified_sample consumes. Window over ~languages rows; exact
    integer counts, one float division."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n"))
    min_n = F.min("n").over(Window.partitionBy())
    return counts.select(
        "lang",
        "n",
        (min_n.cast("double") / F.col("n").cast("double"))
        .cast("double")
        .alias("keep_rate"),
    )


@register(
    "incremental_dedup_sync",
    # the nightly-batch form of exact dedup: dedup WITHIN the incoming
    # batch (min doc_id per content hash), then anti-join the existing
    # corpus's hash set — only genuinely new content lands
    oracle="""
    WITH corpus AS (
        SELECT DISTINCT md5(coalesce(text, chr(0))) AS h
        FROM documents WHERE doc_id % 10 != 7
    ),
    incoming AS (
        SELECT doc_id, md5(coalesce(text, chr(0))) AS h
        FROM documents WHERE doc_id % 10 = 7
    ),
    batch_keep AS (
        SELECT h AS content_id, MIN(doc_id) AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS batch_dupes
        FROM incoming GROUP BY h
    )
    SELECT b.doc_id, b.content_id, b.batch_dupes
    FROM batch_keep b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.content_id)
    """,
)
def incremental_dedup_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the form a RUNNING pipeline needs
    (dedup_exact is the full-corpus backfill): the incoming batch
    dedups within itself (one groupBy on the content hash, min-id
    keep + dupe accounting), then a LEFT ANTI join against the
    existing corpus's hash set drops content already ingested. The
    batch split here is synthetic (doc_id mod) so the oracle is
    self-contained. Scale shape: the anti-join keys on the hash —
    broadcast when the DAILY batch is small, shuffle otherwise; at
    100 TB the corpus hash set is a bucketed table so the nightly
    anti-join is co-located and shuffle-free (write_bucketed_table)."""
    from sql_database_to_elastic_datalake_spark.functions.scalar import (
        content_hash,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = content_hash(["text"]).alias("content_id")
    corpus = (docs.filter(F.col("doc_id") % 10 != 7)
              .select(h).distinct())
    incoming = docs.filter(F.col("doc_id") % 10 == 7).select(
        "doc_id", h)
    batch_keep = incoming.groupBy("content_id").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").cast("bigint").alias("batch_dupes"),
    )
    return (
        batch_keep.join(corpus, "content_id", "left_anti")
        .select("doc_id", "content_id", "batch_dupes")
    )


@register(
    "mixture_domain_resample",
    # DoReMi/Pile-style mixture materialization: each weighted domain
    # resamples to round(w/Σw · N_total) rows; copies spread evenly in
    # md5-of-id order (first target-mod-n docs get the extra copy) —
    # all-integer arithmetic, so the replay is engine-exact
    oracle="""
    WITH w(source, wt) AS (
        VALUES ('src0', 4.0), ('src1', 2.0), ('src2', 1.0), ('src3', 1.0)
    ),
    counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1
    ),
    targets AS (
        SELECT c.source, c.n,
               CAST(ROUND(w.wt / (SELECT SUM(wt) FROM w)
                          * (SELECT SUM(n) FROM counts)) AS BIGINT)
                   AS target
        FROM counts c JOIN w ON c.source = w.source
    ),
    ranked AS (
        SELECT d.doc_id, d.source, t.n, t.target,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS rn
        FROM documents d JOIN targets t ON d.source = t.source
    ),
    copies AS (
        SELECT doc_id, source,
               (target // n)
               + CASE WHEN rn <= (target % n) THEN 1 ELSE 0 END AS nc
        FROM ranked
    )
    SELECT doc_id, source, CAST(i AS BIGINT) AS copy
    FROM copies, LATERAL (SELECT unnest(range(0, nc)) AS i) r
    """,
)
def mixture_domain_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture materialization
    (operators/chunking.py:resample_to_mixture): the missing step
    between ``mixture_rebalance_rates`` (which computes rates) and a
    training run — rows actually repeat/drop to hit each domain's
    target share, Pile-style fractional epochs as integer copy counts.
    Plan: tiny count aggregate + weight lookup broadcast back, ONE
    per-domain rank window (parallel across domains), generator
    explode for the copies. Unlisted domains drop (weight 0)."""
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        resample_to_mixture,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    out = resample_to_mixture(
        docs, "doc_id", "source",
        {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0},
    )
    return out.select("doc_id", "source", "copy")


# ---------------------------------------------------------------------------
# RFM segmentation — the classic customer-scoring analytic.
# ---------------------------------------------------------------------------

@register(
    "rfm_segmentation",
    oracle="""
    WITH cust AS (
        SELECT o_custkey AS custkey,
               MAX(o_orderdate) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders GROUP BY 1
    )
    SELECT custkey,
           CAST(ntile(4) OVER (ORDER BY last_order DESC, custkey) AS BIGINT)
               AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, custkey) AS BIGINT)
               AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS BIGINT)
               AS m_quartile
    FROM cust
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/frequency/monetary quartiles per customer: one groupBy
    over orders, then three ntile windows over the (small) per-customer
    aggregate — each with a unique tie-break so quartile membership is
    deterministic. Monetary stays exact decimal through the ordering."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )

    def quart(col):
        return (
            F.ntile(4)
            .over(Window.orderBy(F.col(col).desc(), F.col("custkey")))
            .cast("bigint")
        )

    return cust.select(
        "custkey",
        quart("last_order").alias("r_quartile"),
        quart("frequency").alias("f_quartile"),
        quart("monetary").alias("m_quartile"),
    )


# ---------------------------------------------------------------------------
# Keyword extraction: top-3 distinctive terms per document by
# tf · rational-idf (the BM25 idf without ln — house style for
# engine-identical doubles). Exact-integer tf/df/N; one mirrored float
# expression; unique (score, word) ordering.
# ---------------------------------------------------------------------------

@register(
    "doc_keywords",
    oracle="""
    WITH tf AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                     regexp_split_to_table(trim(lower(replace(text, 'İ', 'i̇'))), '\\s+') AS w
              FROM documents)
        GROUP BY 1, 2
    ), df AS (
        SELECT w AS dw, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT doc_id, w AS keyword,
           CAST(CAST(tf.tf AS DOUBLE)
                * ((CAST(nd.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                   / (CAST(df.df AS DOUBLE) + 0.5)) AS DOUBLE) AS score
    FROM tf JOIN df ON tf.w = df.dw CROSS JOIN nd
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, w) <= 3
    """,
)
def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    tf = toks.groupBy("doc_id", "w").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    df_tbl = tf.groupBy(F.col("w").alias("dw")).agg(
        F.count("*").cast("bigint").alias("df")
    )
    nd = docs.agg(F.count("*").cast("bigint").alias("n"))
    score = (
        F.col("tf").cast("double")
        * (
            (F.col("n").cast("double") - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
    ).cast("double")
    scored = (
        tf.join(df_tbl, tf["w"] == df_tbl["dw"])
        .crossJoin(F.broadcast(nd))
        .select("doc_id", F.col("w").alias("keyword"), score.alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("keyword")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "keyword", "score")
    )


# ---------------------------------------------------------------------------
# Activity heatmap: day-of-week × hour-of-day counts. Spark's dayofweek
# is 1-based Sunday=1, DuckDB's 0-based Sunday=0 — normalized explicitly
# (one of the classic cross-engine calendar traps, pinned here).
# ---------------------------------------------------------------------------

@register(
    "events_hourly_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek(F.col("ts")) - 1).cast("bigint").alias("dow"),
        F.hour(F.col("ts")).cast("bigint").alias("hod"),
    ).agg(F.count("*").cast("bigint").alias("n"))


# ---------------------------------------------------------------------------
# Time-series anomaly days: daily volumes > 3 MAD from the median of the
# daily series — the robust alert rule for ingest monitoring (a stuck
# sync or a burst both trip it; mean/stddev would be dragged by the
# outliers being hunted).
# ---------------------------------------------------------------------------

@register(
    "events_anomaly_days",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ), med AS (SELECT quantile_cont(n, 0.5) AS m FROM daily),
    dev AS (
        SELECT day, n, abs(CAST(n AS DOUBLE) - med.m) AS ad FROM daily, med
    ),
    mad AS (SELECT quantile_cont(ad, 0.5) AS mad FROM dev)
    SELECT d.day, d.n,
           CAST(d.ad > 3 * NULLIF(mad.mad, 0) AS BOOLEAN) AS is_anomaly
    FROM dev d, mad
    """,
)
def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    med = daily.agg(F.percentile(F.col("n"), F.lit(0.5)).alias("m"))
    dev = daily.crossJoin(F.broadcast(med)).select(
        "day", "n", F.abs(F.col("n").cast("double") - F.col("m")).alias("ad")
    )
    mad = dev.agg(F.percentile(F.col("ad"), F.lit(0.5)).alias("mad"))
    return dev.crossJoin(F.broadcast(mad)).select(
        "day",
        "n",
        (F.col("ad") > F.lit(3) * F.nullif(F.col("mad"), F.lit(0.0))).alias(
            "is_anomaly"
        ),
    )


# ---------------------------------------------------------------------------
# Feature-store materialization: the per-user ML feature row (behavior
# counts, monetary decimal, recency/tenure/activity) in one grouped
# pass — the events-side analog of corpus prep for model training.
# ---------------------------------------------------------------------------

@register(
    "user_feature_table",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,2)) ELSE 0 END)
                AS DECIMAL(38,2)) AS purchase_value,
           MIN(ts) AS first_seen, MAX(ts) AS last_seen,
           CAST(date_diff('day', MIN(ts), MAX(ts)) AS BIGINT) AS tenure_days,
           CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
               AS active_days
    FROM events GROUP BY user_id
    """,
)
def user_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    return ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(is_p, 1).otherwise(0)).cast("bigint").alias("n_purchases"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
        F.sum(
            F.when(is_p, finite_or_null("value").cast("decimal(18,2)")).otherwise(F.lit(0))
        )
        .cast("decimal(38,2)")
        .alias("purchase_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts")))
        .cast("bigint")
        .alias("tenure_days"),
        F.count_distinct(F.date_trunc("day", F.col("ts")).cast("date"))
        .cast("bigint")
        .alias("active_days"),
    )


# ---------------------------------------------------------------------------
# Model-eval tooling: confusion matrix of the lang-id classifier against
# the labeled language. (On this synthetic corpus all languages draw
# from one shared token pool, so NO classifier can beat the majority
# class — the matrix surfaces exactly that ceiling; the real-text
# differential in tests/test_text_dedup_similarity.py is where the
# trigram-profile v2 demonstrably beats the v1 marker heuristic.)
# ---------------------------------------------------------------------------

@register(
    "lang_id_confusion",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, lang, coalesce(lower(replace(text, 'İ', 'i̇')), '') AS t
        FROM documents
    ), scored AS (SELECT doc_id, lang, {_SCORE_DEFS} FROM g),
    pred AS (
        SELECT doc_id, lang AS labeled, {_ARGMAX} AS predicted FROM scored
    )
    SELECT labeled, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("labeled"),
            text.lang_id("text").alias("predicted"),
        )
        .groupBy("labeled", "predicted")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# Drift + sub-document dedup: weekly class-share drift (label balance
# monitoring for training data) and chunk-level exact dedup (repeated
# boilerplate hides below document granularity).
# ---------------------------------------------------------------------------

@register(
    "type_share_drift",
    oracle="""
    WITH wk AS (
        SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT week, event_type, n,
           CAST(CAST(n AS DOUBLE)
                / CAST(SUM(n) OVER (PARTITION BY week) AS DOUBLE)
                AS DOUBLE) AS share
    FROM wk
    """,
)
def type_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly class-composition shares: the drift monitor that catches a
    label distribution shifting under a training pipeline. Exact integer
    counts; the share window runs over weeks × types, not events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        "event_type",
    ).agg(F.count("*").cast("bigint").alias("n"))
    total = F.sum("n").over(Window.partitionBy("week"))
    return wk.select(
        "week",
        "event_type",
        "n",
        (F.col("n").cast("double") / total.cast("double"))
        .cast("double")
        .alias("share"),
    )


@register(
    "chunk_level_dedup",
    oracle="""
    WITH t AS (
        -- NULL text -> zero chunks (mirrors the Spark-side explode of
        -- a NULL sequence)
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), c AS (
        SELECT doc_id, toks, len(toks) AS n,
               GREATEST(CAST(ceil((len(toks) - 32) / CAST(16 AS DOUBLE))
                             AS BIGINT) + 1, 1) AS n_chunks
        FROM t
    ), chunks AS (
        SELECT doc_id, array_to_string(toks[(i*16 + 1):(i*16 + 32)], ' ')
                   AS chunk
        FROM c, LATERAL (SELECT unnest(range(n_chunks)) AS i) r
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT md5(chunk)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(chunk)) AS BIGINT)
               AS n_dup_chunks
    FROM chunks
    """,
)
def chunk_level_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup below document granularity: chunk the corpus, hash each
    window, count duplicates — repeated boilerplate passages survive
    doc-level dedup and surface here. Composes chunk_documents ∘
    content hashing in one plan."""
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_size=32, stride=16)
    return chunks.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.count_distinct(F.md5(F.col("chunk"))).cast("bigint").alias("n_unique"),
        (F.count("*") - F.count_distinct(F.md5(F.col("chunk"))))
        .cast("bigint")
        .alias("n_dup_chunks"),
    )


@register(
    "boilerplate_chunk_removal",
    # the oracle rebuilds docs from kept chunks with the same
    # non-overlapping windowing; grouping by the chunk TEXT equals the
    # Spark side's md5-key grouping (hash is only an equality key)
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), c AS (
        SELECT doc_id, toks,
               GREATEST(CAST(ceil(len(toks) / 16.0) AS BIGINT), 1)
                   AS n_chunks
        FROM t
    ), chunks AS (
        SELECT doc_id, i AS pos,
               array_to_string(toks[(i*16 + 1):(i*16 + 16)], ' ') AS chunk
        FROM c, LATERAL (SELECT unnest(range(n_chunks)) AS i) r
    ), counts AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY 1
    ), flagged AS (
        SELECT ch.doc_id, ch.pos, ch.chunk, counts.df >= 2 AS boil
        FROM chunks ch JOIN counts USING (chunk)
    )
    SELECT doc_id,
           COALESCE(array_to_string(list(chunk ORDER BY pos)
                           FILTER (WHERE NOT boil), ' '), '')
               AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN boil THEN 1 ELSE 0 END) AS BIGINT)
               AS chunks_removed,
           CAST(SUM(CASE WHEN boil THEN length(chunk) ELSE 0 END)
                AS BIGINT) AS chars_removed
    FROM flagged GROUP BY doc_id
    """,
)
def boilerplate_chunk_removal_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Passage-level boilerplate REMOVAL (r9): the CCNet/RefinedWeb
    corpus-filtering stage — non-overlapping 16-token chunks seen in
    ≥2 distinct documents are dropped and each document is rebuilt
    from its kept chunks in order, with removal accounting. Three
    key-partitioned shuffles, no UDF
    (operators/chunking.py:boilerplate_chunk_removal)."""
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        boilerplate_chunk_removal,
    )

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_chunk_removal(
        docs, "doc_id", "text", chunk_size=16, min_docs=2)


_ESD_K = 25  # Lee et al. 2021 use 50-token spans; the synthetic docs
#              average ~54 tokens, so 25 keeps sub-document runs real

@register(
    "exact_substring_dedup",
    # full-rebuild oracle (the boilerplate template): the k-gram
    # sites, the ≥2-occurrence filter, the covered-position union, the
    # gaps-and-islands span count and the in-order rebuild are all
    # replayed in SQL — grouping by the gram TEXT hash equals the
    # Spark side's md5 equality key. A (doc, position) SITE count (not
    # distinct docs): within-doc repeats are duplicates too (Lee et
    # al.'s "appears more than once in the corpus").
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), g AS (
        SELECT doc_id, i AS s,
               md5(array_to_string(toks[(i+1):(i+{_ESD_K})], ' ')) AS h
        FROM t, LATERAL (SELECT unnest(range(len(toks) - {_ESD_K} + 1))
                         AS i) r
        WHERE len(toks) >= {_ESD_K}
    ), dup AS (
        SELECT g.doc_id, g.s FROM g
        JOIN (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2) o
        USING (h)
    ), cov AS (
        SELECT DISTINCT doc_id, s + j AS pos
        FROM dup, LATERAL (SELECT unnest(range({_ESD_K})) AS j) rr
    ), tok AS (
        SELECT doc_id, i AS pos, toks[i+1] AS tok
        FROM t, LATERAL (SELECT unnest(range(len(toks))) AS i) r
    ), flag AS (
        SELECT tok.doc_id, tok.pos, tok.tok,
               cov.pos IS NOT NULL AS covered
        FROM tok LEFT JOIN cov
          ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
    ), spans AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM (
            SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS prev
            FROM cov) q
        WHERE prev IS NULL OR pos - prev > 1 GROUP BY doc_id
    )
    SELECT f.doc_id,
           COALESCE(array_to_string(
               list(tok ORDER BY pos) FILTER (WHERE NOT covered), ' '),
               '') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
               AS tokens_removed,
           CAST(COALESCE(MAX(spans.n_spans), 0) AS BIGINT)
               AS n_spans_removed
    FROM flag f LEFT JOIN spans USING (doc_id)
    GROUP BY f.doc_id
    """,
)
def exact_substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-span duplicate-run removal (r11, verdict #1): every
    token inside a verbatim duplicated run of ≥ 25 tokens is removed
    and the doc rebuilt with accounting — the Lee et al. 2021
    ExactSubstr standard, via sorted k-gram grouping
    (operators/chunking.py:exact_substring_dedup)."""
    from sql_database_to_elastic_datalake_spark.operators.chunking import (
        exact_substring_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_dedup(
        docs, "doc_id", "text", k=_ESD_K, min_occurrences=2)


# ---------------------------------------------------------------------------
# Character-trigram language profiles + join fan-out histogram.
# Char n-grams are the feature basis real language ID / script detection
# builds on (word markers are the toy tier); the sliding window is a
# native sequence-explode over string offsets, no UDF.
# ---------------------------------------------------------------------------

@register(
    "char_trigram_profile",
    oracle="""
    WITH folded AS (
        -- case-fold FIRST, then measure: İ folds to i+U+0307 (one char
        -- longer), so offsets must range over the folded string
        SELECT lang, lower(replace(text, 'İ', 'i̇')) AS t FROM documents
    ), tri AS (
        SELECT lang, substr(t, i, 3) AS tg
        FROM folded,
             LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) r
        WHERE length(t) >= 3
    ), counts AS (
        SELECT lang, tg, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY 1, 2
    )
    SELECT lang, tg, n FROM counts
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, tg) <= 3
    """,
)
def char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # explode the OFFSETS, then slice in a plain projection: building the
    # trigram array with a transform() lambda keeps the substr calls in
    # interpreted higher-order-function eval (2.2x slower measured);
    # exploding a sequence of ints and substr-ing per row stays entirely
    # inside whole-stage codegen.
    tri = (
        docs.select("lang", F.lower(F.col("text")).alias("t"))
        # filter on the FOLDED length (lower can lengthen: İ → i+̇)
        .filter(F.length("t") >= 3)
        .select(
            "lang",
            "t",
            F.explode(F.sequence(F.lit(1), F.length("t") - 2)).alias("i"),
        )
        .select("lang", F.col("t").substr(F.col("i"), F.lit(3)).alias("tg"))
    )
    counts = tri.groupBy("lang", "tg").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tg"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "tg", "n")
    )


@register(
    "order_fanout_histogram",
    oracle="""
    WITH fan AS (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    )
    SELECT n AS lines_per_order, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM fan GROUP BY 1
    """,
)
def order_fanout_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fan-out profile: the distribution of child rows per parent
    key — with key_skew_report, the pair of numbers that sizes a join
    before running it."""
    li = load_table(spark, sf_dir, "lineitem")
    fan = li.groupBy("l_orderkey").agg(F.count("*").cast("bigint").alias("n"))
    return fan.groupBy(F.col("n").alias("lines_per_order")).agg(
        F.count("*").cast("bigint").alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Corpus-health + seasonality diagnostics.
# ---------------------------------------------------------------------------

@register(
    "zipf_profile",
    oracle="""
    WITH wc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT regexp_split_to_table(trim(lower(replace(text, 'İ', 'i̇'))), '\\s+') AS w
              FROM documents)
        GROUP BY 1
    )
    SELECT CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank,
           w AS word, n
    FROM wc
    QUALIFY row_number() OVER (ORDER BY n DESC, w) <= 20
    """,
)
def zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-of-the-Zipf-curve word ranks: natural corpora follow
    rank × frequency ≈ const; heavy duplication or synthetic generation
    bends the head of the curve — a one-glance corpus-health check."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("w"))
    return (
        wc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select("rank", F.col("w").alias("word"), "n")
    )


@register(
    "value_seasonality_by_hour",
    oracle="""
    SELECT CAST(hour(ts) AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,2))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS mean_value
    FROM events GROUP BY 1
    """,
)
def value_seasonality_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean value by hour of day: exact decimal sum over exact count,
    one float division — the seasonality baseline an anomaly rule
    normalizes against."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.hour("ts").cast("bigint").alias("hod")).agg(
        F.count("*").cast("bigint").alias("n"),
        (
            F.sum(finite_or_null("value").cast("decimal(18,2)")).cast("double")
            / F.count("*").cast("double")
        )
        .cast("double")
        .alias("mean_value"),
    )


# ---------------------------------------------------------------------------
# Unicode text normalization (r12) — the standard pre-tokenization
# cleanup stage (C4 control stripping + CCNet-style NFC folding),
# hash-exact vs DuckDB's nfc_normalize + identical regex passes.
# ---------------------------------------------------------------------------

@register(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(nfc_normalize(text),
                   '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g'),
                 '[\x{200B}\x{FEFF}\x{00AD}]', '', 'g'),
               '[ \t]{2,}', ' ', 'g'),
             '^[ \t]+|[ \t]+$', '', 'g') AS norm_text,
           CAST(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(nfc_normalize(text),
                   '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g'),
                 '[\x{200B}\x{FEFF}\x{00AD}]', '', 'g'),
               '[ \t]{2,}', ' ', 'g'),
             '^[ \t]+|[ \t]+$', '', 'g') <> text AS BOOLEAN)
             AS changed
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization over the corpus
    (operators/text.py:normalize_unicode — NFC via an Arrow-batched
    pandas UDF, then pure-column control/zero-width stripping and
    whitespace collapse). The ``changed`` flag is what a pipeline
    monitors (normalization rate spikes signal encoding regressions
    upstream). One scan, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    norm = text.normalize_unicode("text")
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        (norm != F.col("text")).cast("boolean").alias("changed"),
    )
