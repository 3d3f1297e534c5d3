from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="THE quick brown fox JUMPS over the lazy dog!!"),
            Row(doc_id=3, text="el perro es muy grande y la casa es bonita"),
            Row(doc_id=4, text="zzz qqq xxx"),
            Row(doc_id=5, text="the quick brown fox jumps over the lazy dog"),
        ]
    )


def test_token_counts(spark, docs):
    out = docs.select(
        "doc_id",
        text.token_count_ws("text").alias("ws"),
        text.token_count_bpe("text").alias("bpe"),
    ).collect()
    got = {r["doc_id"]: (r["ws"], r["bpe"]) for r in out}
    assert got[1] == (9, 9)
    assert got[2] == (9, 11)  # two '!' are extra BPE-ish tokens


def test_lang_id_and_quality(spark, docs):
    out = docs.select(
        "doc_id",
        text.lang_id("text").alias("lang"),
        text.quality_score("text").alias("q"),
    ).collect()
    got = {r["doc_id"]: r for r in out}
    assert got[1]["lang"] == "en"
    assert got[3]["lang"] == "es"
    assert got[4]["lang"] == "und"
    assert 0.0 <= got[4]["q"] <= got[1]["q"] <= 1.0


def test_lang_id_trigram_accuracy(spark):
    """Character n-gram profiles classify real-ish text, including
    marker-free snippets — short sentences whose signal is morphology,
    not closed-class words."""
    rows = [
        # contain closed-class marker words
        Row(lang="en", text="the cat is on the roof of the house"),
        Row(lang="de", text="der hund und die katze sind im garten"),
        Row(lang="es", text="el perro es muy grande y la casa es bonita"),
        # marker-free
        Row(lang="de", text="ich gehe schnell nach hause"),
        Row(lang="fr", text="nous avons mangé une pomme rouge"),
        Row(lang="es", text="queremos comprar una bicicleta"),
        Row(lang="zh", text="我们在中国学习和工作"),
        # genuinely undetermined
        Row(lang="und", text="zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows)
    out = df.select("lang", text.lang_id("text").alias("got")).collect()
    assert all(r["got"] == r["lang"] for r in out), \
        [(r["lang"], r["got"]) for r in out]


def test_lang_scores_contains_equals_ngram_intersection(spark, docs):
    """The fast path computes profile overlap as substring tests; this
    pins its equivalence to the literal definition
    |ngrams(doc) ∩ profile| via the explicit char_ngrams set."""
    from sql_database_to_elastic_datalake_spark.operators.text import (
        LANG_NGRAM_PROFILES,
        char_ngrams,
        lang_scores_ngram,
    )

    fast = lang_scores_ngram("text")
    grams = char_ngrams("text")
    slow = {
        lang: F.size(
            F.array_intersect(grams, F.array(*[F.lit(g) for g in profile]))
        )
        for lang, profile in LANG_NGRAM_PROFILES.items()
    }
    out = docs.select(
        *[fast[l].alias(f"f_{l}") for l in sorted(fast)],
        *[slow[l].alias(f"s_{l}") for l in sorted(slow)],
    ).collect()
    for r in out:
        for lang in LANG_NGRAM_PROFILES:
            assert r[f"f_{lang}"] == r[f"s_{lang}"]


def test_lang_id_null_text_is_und(spark):
    """NULL text must be 'und' — an un-coalesced NULL score poisons the
    argmax struct comparison and returned an arbitrary language
    (observed: 'de') before the guard."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="the cat is here")]
    )
    out = {
        r["doc_id"]: r["lang"]
        for r in df.select(
            "doc_id", text.lang_id("text").alias("lang")).collect()
    }
    assert out == {1: "und", 2: "en"}


def test_fingerprint_normalization_invariance(spark, docs):
    out = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", text.fingerprint("text").alias("fp")).collect()}
    # doc 2 differs only in case/punctuation from doc 1
    assert out[1] == out[2] == out[5]
    assert out[1] != out[3]


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs, ["text"], "doc_id").collect()
    groups = {r["doc_id"]: r["group_size"] for r in out}
    assert groups[1] == 2  # docs 1 and 5 identical, min id kept
    assert 5 not in groups


def test_jaccard_and_minhash_agree(spark, docs):
    sh = dedup.word_shingles(docs, "doc_id", "text", n=1)
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(sh, "doc_id", threshold=0.99).collect()
    }
    assert (1, 5) in exact and exact[(1, 5)] == 1.0
    # identical docs collapse to their min-id representative before
    # banding, so the LSH tier reports exactly the exact tier's
    # representative pairs
    reps = dedup.exact_representatives(docs, "doc_id", ["text"])
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 2, 3, 4]
    lsh = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_neardup(
            docs, "doc_id", "text", threshold=0.99
        ).collect()
    }
    assert lsh == {p for p in exact if 5 not in p}


def test_minhash_lsh_verifies_candidates_only(spark, docs):
    """The exact-Jaccard verification must be keyed on LSH candidate
    pairs (doc-id joins against per-doc shingle sets), never a raw
    shingle self-join — that re-introduces the O(n²) cost LSH avoids."""
    out = dedup.minhash_lsh_neardup(docs, "doc_id", "text", threshold=0.5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Join" in line:
            assert "shingle" not in line, line
    # and the verified values still equal the exact computation
    sh = dedup.word_shingles(docs, "doc_id", "text", n=1)
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(sh, "doc_id", threshold=0.5).collect()
    }
    for r in out.collect():
        assert exact[(r["a"], r["b"])] == r["jaccard"]


def test_word_shingles_ngram(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
    out = sorted(
        r["shingle"] for r in dedup.word_shingles(df, "doc_id", "text", n=3).collect()
    )
    assert out == ["a b c", "b c d"]


def test_simhash_identical_and_pairs(spark, docs):
    for bits in (16, 32):
        hashes = dedup.simhash(docs, "doc_id", "text", bits=bits)
        hv = {r["doc_id"]: r["simhash"] for r in hashes.collect()}
        assert hv[1] == hv[5]
        assert 0 <= hv[1] < (1 << bits)
        pairs = dedup.simhash_pairs(
            hashes, "doc_id", max_hamming=0, bits=bits
        ).collect()
        assert {(r["a"], r["b"]) for r in pairs} >= {(1, 5)}
        assert all(
            r["hamming"] == 0 for r in pairs if (r["a"], r["b"]) == (1, 5)
        )


@pytest.mark.parametrize("bits", [0, 30, 64])
def test_simhash_rejects_bad_width(spark, docs, bits):
    """The width check is an exception, not an assert, so it holds
    under ``python -O`` too."""
    with pytest.raises(ValueError, match="bits"):
        dedup.simhash(docs, "doc_id", "text", bits=bits)


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk_exact(spark, emb):
    out = similarity.cosine_topk(emb, [0], k=2).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]
    assert out[0]["cosine"] == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5)


def test_ann_bucketed_excludes_other_buckets(spark, emb):
    out = similarity.ann_bucketed(emb, [0], k=4, sign_dims=1).collect()
    ids = {r["neighbor_id"] for r in out}
    assert 3 not in ids  # negative first component → other bucket
    assert {1, 2} <= ids


def test_cosine_neardup_pairs(spark, emb):
    exact = similarity.cosine_neardup_pairs(emb, threshold=0.9).collect()
    assert {(r["a"], r["b"]) for r in exact} == {(0, 1)}
    bucketed = similarity.cosine_neardup_pairs(
        emb, threshold=0.9, sign_dims=1
    ).collect()
    assert {(r["a"], r["b"]) for r in bucketed} == {(0, 1)}


def test_cosine_neardup_pairs_zero_norm_consistent(spark):
    """r15 (ADVICE): a zero-norm vector has no defined cosine — BOTH
    tiers must drop it identically. Before the fix the exact tier
    raised DIVIDE_BY_ZERO under ANSI while the grouped tier silently
    NaN-dropped (a tier divergence on degenerate input)."""
    from pyspark.sql import Row

    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 0.0]),   # zero norm
    ])
    exact = similarity.cosine_neardup_pairs(emb, threshold=0.9).collect()
    assert {(r["a"], r["b"]) for r in exact} == {(0, 1)}
    bucketed = similarity.cosine_neardup_pairs(
        emb, threshold=0.9, sign_dims=1).collect()
    assert {(r["a"], r["b"]) for r in bucketed} == {(0, 1)}


def test_cosine_neardup_pairs_duplicate_ids_no_self_pair(spark):
    """r15 (ADVICE): two rows sharing an id value must not emit an
    a == b pair from the grouped tier (the exact join's strict a < b
    already drops them)."""
    from pyspark.sql import Row

    emb = spark.createDataFrame([
        Row(vec_id=7, embedding=[1.0, 0.0]),
        Row(vec_id=7, embedding=[1.0, 0.0]),   # duplicate id
        Row(vec_id=9, embedding=[-1.0, 0.0]),
    ])
    bucketed = similarity.cosine_neardup_pairs(
        emb, threshold=0.9, sign_dims=1).collect()
    assert all(r["a"] != r["b"] for r in bucketed)
    exact = similarity.cosine_neardup_pairs(emb, threshold=0.9).collect()
    assert all(r["a"] != r["b"] for r in exact)


def test_neardup_salt_split_identical(spark):
    """r15 (r14 verdict #4): an oversized sign bucket splits into
    deterministic hash-blocks scored one block pair per task; the
    pair set and cosine doubles must be bit-identical to the unsplit
    one-task path (every unordered pair lands in exactly one
    block-pair group; same index-order accumulation)."""
    import random

    from pyspark.sql import Row

    from sql_database_to_elastic_datalake_spark.operators import (
        similarity as sim,
    )

    random.seed(7)
    rows = [Row(vec_id=i,
                embedding=[abs(random.gauss(0, 1)) + 0.01
                           for _ in range(8)])
            for i in range(400)]         # all-positive → ONE bucket
    rows += [Row(vec_id=900, embedding=[0.0] * 8),   # zero norm
             Row(vec_id=901, embedding=None),        # null vector
             Row(vec_id=100, embedding=rows[100].embedding)]  # dup id
    emb = spark.createDataFrame(rows)
    unsplit = sim._bucketed_neardup_pairs(
        emb, 0.9, "vec_id", "embedding", 4, split_threshold=1 << 60)
    split = sim._bucketed_neardup_pairs(
        emb, 0.9, "vec_id", "embedding", 4,
        split_threshold=100, block_rows=50)
    u = sorted((r["a"], r["b"], r["cosine"]) for r in unsplit.collect())
    s = sorted((r["a"], r["b"], r["cosine"]) for r in split.collect())
    assert u == s and len(u) > 1000


def test_dedup_clusters_null_edge_endpoints_dropped(spark):
    """r15 (ADVICE): an edge with a NULL endpoint (e.g. an id that
    failed the cast to the node id type) must not leak a null-keyed
    label row — the pre-r14 per-round inner join dropped those rows
    implicitly, and the fused tagged-min groupBy must match."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i) for i in (1, 2, 3)])
    pairs = spark.createDataFrame([
        Row(a=1, b=2),
        Row(a=None, b=3),   # null endpoint: dropped, 3 stays singleton
    ], schema="a int, b int")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dedup_clusters(docs, pairs, "doc_id").collect()}
    assert got == {1: 1, 2: 1, 3: 3}
    out = dedup.dedup_clusters(docs, pairs, "doc_id").collect()
    assert len(out) == 3  # no extra null-id row


def test_neardup_bucketed_vs_exact(spark):
    """r11 (verdict #2): the REGISTERED embed_neardup_pairs tier is now
    the sign-bucketed equi-join; the exact all-pairs crossJoin stays as
    THIS verifier (the semdedup matmul/join two-tier pattern). At
    sf0.01 the bucketed result must equal the exact result restricted
    to same-sign-bucket pairs — i.e. the bucket join loses exactly the
    cross-bucket pairs and nothing else, with identical cosines."""
    from sql_database_to_elastic_datalake_spark.sources.parquet import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = similarity.cosine_neardup_pairs(emb, threshold=0.4).collect()
    bucketed = similarity.cosine_neardup_pairs(
        emb, threshold=0.4, sign_dims=6).collect()
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def bucket(vid):
        return "".join(
            "1" if float(x) >= 0 else "0" for x in vecs[vid][:6])

    want = {(r["a"], r["b"]): r["cosine"] for r in exact
            if bucket(r["a"]) == bucket(r["b"])}
    got = {(r["a"], r["b"]): r["cosine"] for r in bucketed}
    assert got == want
    assert len(exact) >= len(got)  # bucketing only ever prunes


def test_multimodal_plumbing(spark, docs):
    # Non-media payloads (raw text bytes) degrade to metadata-only rows.
    wb = multimodal.to_binary_column(docs, "text")
    meta = {r["doc_id"]: r for r in multimodal.decode_media_meta(wb).collect()}
    assert meta[1]["byte_len"] == len("the quick brown fox jumps over the lazy dog")
    assert meta[1]["format"] == "unknown" and meta[1]["width"] is None

    frames = multimodal.frame_sample_plan(
        spark.createDataFrame([Row(doc_id=1, n_frames=10)]), every_n=4
    ).collect()
    assert [r["frame_idx"] for r in frames] == [0, 4, 8]


def test_codec_decodes_real_formats(spark):
    """The codec is a real parser: handcrafted P6/P5/WAV payloads decode
    to exact dimensions and pixel/sample statistics; corrupt payloads
    quarantine as 'unknown' instead of failing the task."""
    import struct

    p6 = b"P6\n# a comment\n2 2\n255\n" + bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30]
    )
    p5 = b"P5\n3 1\n255\n" + bytes([0, 100, 200])
    samples = struct.pack("<4h", 1000, -1000, 2000, -2000)
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(samples))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    truncated = b"P6\n100 100\n255\n" + b"\x00" * 10

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=bytearray(p6)),
            Row(doc_id=2, payload=bytearray(p5)),
            Row(doc_id=3, payload=bytearray(wav)),
            Row(doc_id=4, payload=bytearray(truncated)),
        ]
    )
    out = {r["doc_id"]: r for r in multimodal.decode_media_meta(df).collect()}
    img = out[1]
    assert (img["format"], img["width"], img["height"], img["channels"]) == (
        "ppm", 2, 2, 3
    )
    assert img["mean_value"] == pytest.approx((255 * 3 + 10 + 20 + 30) / 12)
    gray = out[2]
    assert (gray["format"], gray["width"], gray["height"], gray["channels"]) == (
        "pgm", 3, 1, 1
    )
    assert gray["mean_value"] == pytest.approx(100.0)
    audio = out[3]
    assert (audio["format"], audio["channels"], audio["sample_rate"]) == (
        "wav", 2, 44100
    )
    assert audio["mean_value"] == pytest.approx(1500.0)
    assert out[4]["format"] == "unknown" and out[4]["width"] is None


def test_synthesize_then_decode_roundtrip(spark):
    """synthesize_media payloads are real media: every round-robin kind
    decodes under its own parser with the dimensions the synthesizer
    chose, deterministically across partitionings."""
    rows = [Row(doc_id=i, text=f"document number {i}") for i in range(9)]
    df = spark.createDataFrame(rows)
    media = multimodal.synthesize_media(df)
    out = {
        r["doc_id"]: r
        for r in multimodal.decode_media_meta(media).collect()
    }
    for i in range(9):
        kind = i % 3
        r = out[i]
        if kind == 2:
            assert r["format"] == "wav" and r["sample_rate"] == 8000
            assert r["channels"] == 1 and r["mean_value"] is not None
        else:
            assert r["format"] == ("ppm" if kind == 1 else "pgm")
            assert r["width"] == 4 + i % 5 and r["height"] == 3 + i % 4
            assert r["channels"] == (3 if kind == 1 else 1)
    # layout-independence: repartitioned input decodes identically
    out2 = {
        r["doc_id"]: r
        for r in multimodal.decode_media_meta(
            multimodal.synthesize_media(df.repartition(5))
        ).collect()
    }
    assert all(out[i] == out2[i] for i in range(9))


def test_dedup_clusters_transitive_closure(spark):
    """a~b and b~c must land a, b, c in one cluster even with no (a,c)
    edge; isolated nodes are their own singleton cluster."""
    from pyspark.sql import Row

    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(7)])
    pairs = spark.createDataFrame(
        [Row(a=1, b=2), Row(a=2, b=3), Row(a=5, b=6)]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(nodes, pairs, "doc_id").collect()
    }
    assert out == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_dedup_clusters_string_ids(spark):
    """Edge endpoints are cast to the NODES' id dtype — string-keyed
    corpora (content hashes, URLs) must cluster, not silently collapse
    to all-singletons through a NULLing long cast."""
    from pyspark.sql import Row

    nodes = spark.createDataFrame(
        [Row(doc_id=s) for s in ["alpha", "beta", "gamma", "delta"]]
    )
    pairs = spark.createDataFrame(
        [Row(a="alpha", b="beta"), Row(a="beta", b="gamma")]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(nodes, pairs, "doc_id").collect()
    }
    assert out == {
        "alpha": "alpha",
        "beta": "alpha",
        "gamma": "alpha",
        "delta": "delta",
    }


def test_minhash_size_ratio_prefilter_sound_and_effective(spark):
    """The size-ratio cut (min/max ≥ t before the intersection) must
    never drop a true pair — and must actually drop an impossible
    candidate that banding let through."""
    from pyspark.sql import Row

    # doc 2 = doc 1 plus a long unique tail: same signature prefix
    # words, Jaccard 3/13 < 0.5 — a classic short-vs-long candidate
    base = "alpha beta gamma"
    tail = " ".join(f"uniq{i}" for i in range(10))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + " " + tail),
        # true near-dup of 1: the same word set, reordered (an exact
        # copy would collapse before banding)
        Row(doc_id=3, text="gamma alpha beta"),
    ])
    out = {(r["a"], r["b"]): r["jaccard"]
           for r in dedup.minhash_lsh_neardup(
               docs, "doc_id", "text", threshold=0.5).collect()}
    assert out == {(1, 3): 1.0}
    # and the cut is in the PLAN before the intersection: the filter
    # mentions only sizes, so Catalyst runs it ahead of array_intersect
    plan = dedup.minhash_lsh_neardup(
        docs, "doc_id", "text", threshold=0.5
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "greatest" in plan


def test_dedup_clusters_jaccard_cost_metrics_sf01(spark):
    """Cost-attribution gate for the sf1 bench's biggest line (r5
    verdict #5): pin candidate-pair count (data-bound — LSH/shingle
    pair density) and propagation rounds (diameter-bound) at sf0.1.
    If bench time moves while BOTH hold, the plan drifted; if the
    metrics moved, the data (or shingling) changed."""
    import os

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        import pytest

        pytest.skip("sf0.1 testdata not present")
    import __spark_entry__ as e

    df = e.queries()["dedup_clusters_jaccard"](spark, sf_dir)
    assert df.count() == 5000
    m = df._dedup_metrics
    assert m["candidate_pairs"] == 249
    assert m["propagation_rounds"] <= 3


def test_quantize_int8_zero_vector(spark):
    """An all-zero embedding quantizes to scale=1.0 / q8 all zeros, not
    Inf scale with NULL elements."""
    from pyspark.sql import Row

    from sql_database_to_elastic_datalake_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.0, 0.0]), Row(vec_id=2, embedding=[1.0, -2.0])]
    )
    out = {
        r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()
    }
    assert out[1]["scale"] == 1.0 and out[1]["q8"] == [0, 0]
    assert out[2]["scale"] == 63.5 and out[2]["q8"] == [64, -127]


def test_dedup_clusters_long_chain_converges(spark):
    """A path graph is the diameter worst case for label propagation."""
    from pyspark.sql import Row

    n = 12
    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(n)])
    pairs = spark.createDataFrame([Row(a=i, b=i + 1) for i in range(n - 1)])
    out = dedup.dedup_clusters(nodes, pairs, "doc_id").collect()
    assert {r["cluster_id"] for r in out} == {0}


def test_dedup_clusters_stopping_round_count(spark):
    """r14: the changed-count that stops the propagation loop rides the
    round's groupBy as a tagged own-label min (no new-vs-old join) —
    pin the STOPPING decision itself: a star graph converges in round 1
    and needs exactly one more round to observe zero changes, so the
    rounds metric must be 2 (a wrong changed-count either stops early,
    fragmenting clusters, or runs to max_iter)."""
    from pyspark.sql import Row

    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(5)])
    pairs = spark.createDataFrame(
        [Row(a=0, b=1), Row(a=0, b=2), Row(a=0, b=3)]
    )
    metrics: dict = {}
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(
            nodes, pairs, "doc_id", metrics=metrics
        ).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4}
    assert metrics["propagation_rounds"] == 2
    assert metrics["candidate_pairs"] == 3


def test_quality_classifier_tiers_agree(spark):
    """r9: the inline-formula tier and the broadcast-weight tier score
    the same model — equal up to summation-order ulps; short docs get
    a null logit (quarantine, not a silent mid-score)."""
    from pyspark.sql import functions as F

    from sql_database_to_elastic_datalake_spark.operators.text import (
        _QC_MIX,
        _QC_MOD,
        quality_classifier_logits,
    )

    df = spark.createDataFrame(
        [(1, "high quality prose with variety and length"),
         (2, "spam spam spam spam spam"),
         (3, "ab"),  # shorter than the 3-gram window
         (4, None)],
        "doc_id long, text string")
    inline = {r["doc_id"]: r["logit"]
              for r in quality_classifier_logits(df).collect()}
    assert inline[3] is None and inline[4] is None
    assert inline[1] is not None and inline[2] is not None
    assert inline[1] != inline[2]  # the model discriminates
    # the pretrained tier with the SAME weights as the formula
    buckets = 1 << 18
    weights = spark.range(buckets).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * F.lit(_QC_MIX) % F.lit(_QC_MOD))
         .cast("double") / F.lit(float(_QC_MOD))
         - F.lit(0.5)).alias("weight"))
    bj = {r["doc_id"]: r["logit"]
          for r in quality_classifier_logits(
              df, weights=weights).collect()}
    assert bj[1] == pytest.approx(inline[1], abs=1e-12)
    assert bj[2] == pytest.approx(inline[2], abs=1e-12)
    assert bj[3] is None and bj[4] is None
    # determinism: the inline tier is bit-stable across runs
    again = {r["doc_id"]: r["logit"]
             for r in quality_classifier_logits(df).collect()}
    assert again == inline


def test_quality_classifier_sparse_weights(spark):
    """r10 ADVICE fix: the pretrained tier pools over ALL grams,
    treating a gram whose bucket is absent from the weight table as
    weight 0 (fastText semantics) — a sparse table must not shrink
    the denominator, and a doc with zero matched grams gets a
    bias-only logit, not null."""
    from pyspark.sql import functions as F

    from sql_database_to_elastic_datalake_spark.operators.text import (
        quality_classifier_logits,
    )

    df = spark.createDataFrame(
        [(1, "abcd")],  # grams: abc, bcd → 2 grams
        "doc_id long, text string")
    # an empty weight table: every bucket missing → mean 0 → logit =
    # bias exactly (inner-join semantics would null it)
    empty_w = spark.createDataFrame([], "bucket long, weight double")
    out = {r["doc_id"]: r["logit"]
           for r in quality_classifier_logits(
               df, weights=empty_w, bias=0.25).collect()}
    assert out[1] == pytest.approx(0.25)
    # one matched gram out of two: mean = w/2, not w/1
    hashed = df.select(
        F.explode(F.expr(
            "transform(sequence(1, length(text) - 2), "
            "i -> substring(text, i, 3))")).alias("g")).select(
        (F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10)
         .cast("bigint") % F.lit(1 << 18)).alias("bucket")).collect()
    one_w = spark.createDataFrame(
        [(hashed[0]["bucket"], 0.8)], "bucket long, weight double")
    out = {r["doc_id"]: r["logit"]
           for r in quality_classifier_logits(
               df, weights=one_w, bias=0.0).collect()}
    assert out[1] == pytest.approx(0.8 / 2)


def test_fineweb_line_stats_rules(spark):
    """C4/FineWeb/Gopher rule bundle: per-rule counts, witnesses, and
    the keep flag at the published thresholds; whitespace-only and
    NULL docs are absent (no lines to judge)."""
    from sql_database_to_elastic_datalake_spark.operators.text import (
        fineweb_line_stats,
    )

    rows = [
        (1, "Good sentence one.\nAnother fine line!\nAnd a third?"),
        (2, "- bullet one\n- bullet two\n- bullet three\nplain."),
        (3, "trailing dots...\nmore dots...\nok."),
        (4, "dup line.\ndup line.\ndup line.\nuniq."),
        (5, "contains lorem ipsum filler."),
        (6, "code { block } here."),
        (7, "   \n  \t "),
        (8, None),
        (9, "no punctuation at all\nstill none"),
    ]
    out = {r["doc_id"]: r for r in fineweb_line_stats(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6, 9}  # 7/8: no lines
    assert out[1]["n_lines"] == 3 and out[1]["n_punct_lines"] == 3
    assert out[1]["keep"] is True
    assert out[2]["n_bullet_lines"] == 3
    assert out[2]["bullet_line_ratio"] == 0.75 and out[2]["keep"] is True
    assert out[3]["n_ellipsis_lines"] == 2
    assert out[3]["keep"] is False          # ellipsis ratio 2/3 > 0.3
    assert out[4]["n_distinct_lines"] == 2
    assert out[4]["dup_line_ratio"] == 0.5 and out[4]["keep"] is False
    assert out[5]["has_lorem_ipsum"] is True and out[5]["keep"] is False
    assert out[6]["has_curly_brace"] is True and out[6]["keep"] is False
    assert out[9]["punct_line_ratio"] == 0.0 and out[9]["keep"] is False


def test_exact_representatives_collapse(spark):
    """r13 (r12 verdict #2): byte-identical duplicates collapse to the
    min-id representative BEFORE near-dup banding — their pairs belong
    to exact_dedup, not the LSH stage."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma delta"),
        Row(doc_id=2, text="alpha beta gamma delta"),  # exact dup of 1
        Row(doc_id=3, text="alpha beta gamma delta"),  # exact dup of 1
        Row(doc_id=4, text="zz yy xx ww"),
    ])
    reps = dedup.exact_representatives(docs, "doc_id", ["text"])
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 4]
    # the near-dup tier collapses first: the identical-pair clique
    # never reaches banding
    out = dedup.minhash_lsh_neardup(docs, "doc_id", "text", threshold=0.9)
    assert out.collect() == []


def test_lsh_grouped_verify_matches_relational_tier(spark):
    """r15 (guide §4, r14 verdict #2): sparse band buckets verify inside
    one grouped map (Python set intersection). Below the cap the output
    must equal the exact all-pairs relational tier (``jaccard_pairs``)
    EXACTLY — same (a, b) pairs AND bit-identical jaccard doubles (the
    same ``i / (na + nb - i)`` IEEE division in both tiers)."""
    from pyspark.sql import Row

    base = " ".join(f"w{i}" for i in range(49))
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"{base} tail{i}") for i in range(1, 7)]
        + [Row(doc_id=10, text="zz yy xx ww vv uu tt ss")]
    )
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3)
    exact = dedup.jaccard_pairs(sh, "doc_id", threshold=0.5)
    grouped = dedup.minhash_lsh_neardup(
        docs, "doc_id", "text", threshold=0.5, shingle_n=3, bands=3)
    ref = sorted((r["a"], r["b"], r["jaccard"]) for r in exact.collect())
    grp = sorted((r["a"], r["b"], r["jaccard"])
                 for r in grouped.collect())
    assert grp == ref and len(ref) == 15
    # no bucket exceeds the cap, so none is reported capped
    m = dict(grouped._dedup_metrics)
    assert m["capped_buckets"] == 0 and m["capped_bucket_docs"] == 0


def test_lsh_bucket_cap_star_emission(spark):
    """r13 (r12 verdict #2): a band bucket denser than BUCKET_CAP
    switches to star emission — hub(min-id)→member pairs only, bounding
    per-bucket emission at k-1 instead of k(k-1)/2 — with the capped
    accounting riding _dedup_metrics, and cluster resolution still
    recovering the FULL clique through the hub."""
    from pyspark.sql import Row

    # a near-dup clique of DISTINCT texts larger than the cap (suffix
    # word keeps them near, not exact; the long shared base makes the
    # per-seed chance that a tail shingle wins the minhash ~1/48, so
    # every doc lands in the clique's bucket of ≥1 band under the fixed
    # seeds)
    n = dedup.BUCKET_CAP + 8
    base = " ".join(f"w{i}" for i in range(49))
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"{base} tail{i}") for i in range(1, n + 1)]
    )
    capped = dedup.minhash_lsh_neardup(
        docs, "doc_id", "text", threshold=0.5, shingle_n=3, bands=3)
    rows = capped.collect()
    # star: only hub (doc 1) pairs survive, not all n(n-1)/2
    assert {(r["a"], r["b"]) for r in rows} == {(1, b) for b in range(2, n + 1)}
    assert len(rows) == n - 1
    m = dict(capped._dedup_metrics)
    # one dense bucket per band; 113 = the three buckets' memberships
    assert m == {"bucket_cap": dedup.BUCKET_CAP, "capped_buckets": 3,
                 "capped_bucket_docs": 113}
    # transitive closure recovers the full clique from star edges
    clusters = dedup.dedup_clusters(docs, capped, "doc_id")
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


def test_simhash_bucket_cap_star_emission(spark):
    """Same star-cap contract on the pigeonhole chunk buckets. The
    clique is built on the hash relation directly: docs 1..n share one
    hash, doc n+1 differs from it in one bit of chunk 0, and doc 99 is
    far from all of them. Every chunk bucket holding the clique is
    denser than the cap, so only hub-anchored pairs come out."""
    from pyspark.sql import Row

    n = dedup.BUCKET_CAP + 8
    h = 0x0F0F0F0F
    hashes = spark.createDataFrame(
        [Row(doc_id=i, simhash=h) for i in range(1, n + 1)]
        + [Row(doc_id=n + 1, simhash=h ^ 1),
           Row(doc_id=99, simhash=h ^ 0xFFFFFFFF)]
    )
    capped_df = dedup.simhash_pairs(hashes, "doc_id", max_hamming=8, bits=32)
    got = {(r["a"], r["b"]): r["hamming"] for r in capped_df.collect()}
    assert got == {**{(1, b): 0 for b in range(2, n + 1)}, (1, n + 1): 1}
    m = dict(capped_df._dedup_metrics)
    # 9 chunks, one dense bucket each: chunk 0 holds docs 1..n, the
    # other eight also hold doc n+1
    assert m == {"bucket_cap": dedup.BUCKET_CAP, "capped_buckets": 9,
                 "capped_bucket_docs": n + 8 * (n + 1)}
