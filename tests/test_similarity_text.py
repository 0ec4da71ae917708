"""Similarity search + text analysis tests (vs numpy/python oracles)."""

import math

import numpy as np
import pandas as pd
import pytest

from rasters_rs_spark.operators import similarity as SIM
from rasters_rs_spark.operators import text as TX


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    return df, df.limit(500).toPandas()


def test_cosine_topk_exact(spark, emb):
    df, pdf = emb
    qs = pdf.head(5)
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": qs["vec_id"].astype(str),
        "q_vec": [list(map(float, v)) for v in qs["embedding"]],
    }))
    corpus = df.selectExpr("cast(vec_id as string) vec_id",
                           "transform(embedding, x -> cast(x as double)) embedding")
    got = SIM.cosine_topk(queries, corpus, k=5).collect()

    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.linalg.norm(mat, axis=1)
    ids = pdf["vec_id"].astype(str).to_numpy()
    for _, q in qs.iterrows():
        qv = np.asarray(q["embedding"], dtype=np.float64)
        cos = mat @ qv / (norms * np.linalg.norm(qv))
        order = np.lexsort((ids, -cos))[:5]
        expect = [ids[i] for i in order]
        rows = sorted([r for r in got if r["q_id"] == str(q["vec_id"])],
                      key=lambda r: r["rank"])
        assert [r["vec_id"] for r in rows] == expect
        assert np.allclose([r["cosine"] for r in rows], cos[order])


def test_det_ann_variants_recall(spark, emb):
    """The SQL-oracled deterministic variants (LCG planes/centroids)
    keep useful recall vs exact top-k and always find the query's own
    vector (identical bucket / same list)."""
    df, pdf = emb
    qs = pdf.head(8)
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": qs["vec_id"].astype(str),
        "q_vec": [list(map(float, v)) for v in qs["embedding"]],
    }))
    corpus = df.selectExpr("cast(vec_id as string) vec_id",
                           "transform(embedding, x -> cast(x as double)) embedding")
    exact = SIM.cosine_topk(queries, corpus, k=5).collect()
    e = {}
    for r in exact:
        e.setdefault(r["q_id"], set()).add(r["vec_id"])
    for out in (SIM.lsh_topk_det(queries, corpus, k=5, dim=64,
                                 n_planes=8, probes=4).collect(),
                SIM.ivf_topk_det(queries, corpus, k=5, dim=64,
                                 n_lists=16, nprobe=4).collect()):
        a = {}
        for r in out:
            a.setdefault(r["q_id"], set()).add(r["vec_id"])
        for q in e:
            assert q in a and q in a[q]
        recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
        assert np.mean(recalls) >= 0.3


def test_quality_and_token_count(spark):
    pdf = pd.DataFrame({
        "doc_id": ["a", "b"],
        "text": ["the quick Fox, and the dog!", "single"],
    })
    out = {r["doc_id"]: r for r in TX.with_quality(
        TX.with_lang_id(spark.createDataFrame(pdf))).collect()}
    a = out["a"]
    assert a["n_tokens"] == 6
    assert a["n_chars_q"] == 27
    # punctuation: ',' and '!' -> 2/27
    assert abs(a["punct_ratio"] - 2 / 27) < 1e-12
    # uppercase: 'F' -> 1/27
    assert abs(a["upper_ratio"] - 1 / 27) < 1e-12
    # stopwords among STOPWORDS: the, and, the -> 3/6
    assert abs(a["stopword_ratio"] - 0.5) < 1e-12
    assert a["lang_id"] == "en"
    assert out["b"]["lang_id"] == "und"


def test_lang_id_tiebreak_deterministic(spark):
    pdf = pd.DataFrame({"doc_id": ["t"], "text": ["de la"]})
    # 'de' is in both es and fr lists; 'la' in both too -> tie; alphabetical
    # earlier language (es) wins deterministically
    out = TX.with_lang_id(spark.createDataFrame(pdf)).collect()[0]
    assert out["lang_id"] == "es"


def test_repetition_stats_flags_repetitive_doc(spark):
    """Gopher-style repetition filter: a doc dominated by one repeated
    bigram scores near 1.0; diverse docs score low."""
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["spam ham " * 20 + "end", "the quick brown fox jumps high"],
    })
    pdf["text"] = pdf["text"].str.strip()
    out = {r["doc_id"]: r for r in
           TX.repetition_stats(spark.createDataFrame(pdf), n=2).collect()}
    # doc 1: 40 bigrams, "spam ham" appears 20 times
    assert out[1]["n_ngrams"] == 40
    assert out[1]["top_count"] == 20
    assert abs(out[1]["rep_ratio"] - 0.5) < 1e-12
    assert out[2]["top_count"] == 1
    assert out[2]["rep_ratio"] < 0.25


def test_ngram_jaccard_refuses_large_input(spark):
    """The exact all-pairs surface is gated: inputs larger than
    max_rows raise instead of silently running an O(N^2) crossJoin."""
    pdf = pd.DataFrame({"doc_id": [str(i) for i in range(30)],
                        "text": ["a b c d e"] * 30})
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="minhash_dedup"):
        TX.ngram_jaccard_pairs(df, k=3, max_rows=10)
    # at or under the gate it runs
    assert TX.ngram_jaccard_pairs(df.limit(5), k=3, max_rows=10).count() == 10


def test_fingerprint_deterministic_and_robust(spark):
    t1 = "the quick brown fox jumps over the lazy dog"
    f1 = TX.fingerprint_minhash(t1)
    assert f1 == TX.fingerprint_minhash(t1)
    assert f1 != TX.fingerprint_minhash("completely different words here")
    pdf = pd.DataFrame({"doc_id": ["x"], "text": [t1]})
    row = TX.with_fingerprint(spark.createDataFrame(pdf)).collect()[0]
    assert row["fingerprint"] == f1


def test_augment_images_ops(spark):
    """Deterministic augmentations over the real decode/encode path:
    each op equals its numpy counterpart; q16 inputs re-quantize; crop
    updates dimensions; unknown op refused."""
    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import multimodal as MM
    rng = np.random.default_rng(12)
    block = rng.normal(size=(16, 12))
    pdf = pd.DataFrame([
        {"image_id": "a0", "bytes": codecs.encode_raw(block),
         "w": 12, "h": 16, "fmt": "raw"},
    ])
    df = spark.createDataFrame(pdf)
    for op, expect in (
        ("fliph", block[:, ::-1]), ("flipv", block[::-1, :]),
        ("rot90", np.rot90(block)), ("rot180", np.rot90(block, 2)),
        ("rot270", np.rot90(block, 3)),
    ):
        r = MM.augment_images(df, op).collect()[0]
        got = codecs.decode_raw(r["bytes"], r["h"], r["w"])
        assert np.array_equal(got, expect), op
    r = MM.augment_images(df, "crop", (2, 3, 5, 7)).collect()[0]
    assert (r["h"], r["w"]) == (5, 7)
    assert np.array_equal(codecs.decode_raw(r["bytes"], 5, 7),
                          block[2:7, 3:10])
    with pytest.raises(ValueError, match="unknown augmentation"):
        MM.augment_images(df, "zoom")
    # q16 path: re-quantized output stays within one quantization step
    q = spark.createDataFrame(pd.DataFrame([
        {"image_id": "q0", "bytes": codecs.encode_q16(block),
         "w": 12, "h": 16, "fmt": "q16"}]))
    r = MM.augment_images(q, "fliph").collect()[0]
    got = codecs.decode_q16(r["bytes"], 16, 12)
    assert codecs.psnr(block[:, ::-1], got) >= 40.0


def test_validate_images_invariant(spark):
    """The input-hint per-row invariant operator: raw round-trip gives
    infinite PSNR; q16 transcode stays >= 40 dB; a corrupted caption is
    flagged; a genuinely degraded payload fails the gate."""
    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import multimodal as MM
    from rasters_rs_spark.sources import synth
    pdf = synth.image_table(6, seed=71, h=32, w=32, fmt_cycle=("raw",))
    a = spark.createDataFrame(pdf)

    # b: q16 transcode of the same pixels + one caption corruption +
    # one heavily quantized (degraded) payload
    b = pdf.copy()
    blocks = [codecs.decode_raw(r["bytes"], 32, 32) for _, r in pdf.iterrows()]
    b["bytes"] = [codecs.encode_q16(blk) for blk in blocks]
    b["fmt"] = "q16"
    b.loc[1, "caption"] = "corrupted caption"
    bad = blocks[2]
    b.loc[2, "bytes"] = codecs.encode_q16(np.round(bad * 2) / 2)  # coarse
    out = {r["image_id"]: r for r in
           MM.validate_images(a, spark.createDataFrame(b)).collect()}
    assert all(r["psnr_ok"] for k, r in out.items()
               if k != pdf.iloc[2]["image_id"])
    assert not out[pdf.iloc[2]["image_id"]]["psnr_ok"]
    assert not out[pdf.iloc[1]["image_id"]]["caption_match"]
    assert sum(not r["caption_match"] for r in out.values()) == 1
    # raw vs raw: bit-equal -> infinite PSNR
    ident = {r["image_id"]: r["psnr"] for r in
             MM.validate_images(a, a).collect()}
    assert all(p == float("inf") for p in ident.values())


def test_patchify_images(spark):
    """ViT patch extraction equals the numpy reshape oracle: every
    (pi, pj) patch is the row-major flatten of block[pi*P:(pi+1)*P,
    pj*P:(pj+1)*P]; trailing remainder rows/cols are cropped; an image
    smaller than one patch emits nothing."""
    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import multimodal as MM
    rng = np.random.default_rng(23)
    block = rng.normal(size=(17, 13))        # 17//4=4, 13//4=3 patches
    tiny = rng.normal(size=(3, 3))           # smaller than patch=4
    pdf = pd.DataFrame([
        {"image_id": "a", "bytes": codecs.encode_raw(block),
         "w": 13, "h": 17, "fmt": "raw"},
        {"image_id": "t", "bytes": codecs.encode_raw(tiny),
         "w": 3, "h": 3, "fmt": "raw"},
    ])
    rows = MM.patchify_images(spark.createDataFrame(pdf), patch=4).collect()
    got = {(r["image_id"], r["pi"], r["pj"]): np.array(r["pixels"])
           for r in rows}
    assert len(got) == 4 * 3                 # tiny image emits nothing
    for pi in range(4):
        for pj in range(3):
            expect = block[pi * 4:(pi + 1) * 4, pj * 4:(pj + 1) * 4].ravel()
            assert np.array_equal(got[("a", pi, pj)], expect), (pi, pj)
    with pytest.raises(ValueError, match="patch must be positive"):
        MM.patchify_images(spark.createDataFrame(pdf), patch=0)


def test_multimodal_plumbing(spark):
    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import multimodal as MM
    rng = np.random.default_rng(8)
    block = rng.normal(size=(32, 32))
    pdf = pd.DataFrame([
        {"image_id": "i0", "bytes": codecs.encode_raw(block), "w": 32, "h": 32,
         "fmt": "raw"},
        {"image_id": "i1", "bytes": b"\x01\x02\x03\x04\x05\x06\x07\x08stub",
         "w": 16, "h": 16, "fmt": "jpeg"},
    ])
    df = spark.createDataFrame(pdf)
    # real decode path: resize 32->8 is exact block-mean
    out = {r["image_id"]: r for r in MM.resize_images(df, 8, 8, allow_fake=True).collect()}
    got = codecs.decode_raw(out["i0"]["bytes"], 8, 8)
    expect = block.reshape(8, 4, 8, 4).mean(axis=(1, 3))
    assert np.allclose(got, expect)
    # stub path: deterministic fake
    out2 = {r["image_id"]: r for r in MM.resize_images(df, 8, 8, allow_fake=True).collect()}
    assert out["i1"]["bytes"] == out2["i1"]["bytes"]
    # without allow_fake the stub raises
    with pytest.raises(Exception):
        MM.resize_images(df, 8, 8, allow_fake=False).collect()
    feats = {r["image_id"]: r for r in MM.image_features(df, allow_fake=True).collect()}
    assert abs(feats["i0"]["px_mean"] - block.mean()) < 1e-12
    assert len(feats["i0"]["thumb"]) == 64


def test_deterministic_split_stable_and_weighted(spark):
    """Split assignment is a pure function of (id, salt): stable across
    recomputation and input growth, roughly honoring the weights."""
    pdf = pd.DataFrame({"doc_id": range(2000), "text": "x"})
    df = spark.createDataFrame(pdf)
    a = {r["doc_id"]: r["split"]
         for r in TX.deterministic_split(df).collect()}
    b = {r["doc_id"]: r["split"]
         for r in TX.deterministic_split(df.limit(500)).collect()}
    # subset rows keep their assignment (incremental-growth property)
    for k, v in b.items():
        assert a[k] == v
    import collections
    c = collections.Counter(a.values())
    assert 0.85 < c["train"] / 2000 < 0.95
    assert 0.03 < c["val"] / 2000 < 0.08
    assert 0.03 < c["test"] / 2000 < 0.08
    # different salt reshuffles
    s2 = {r["doc_id"]: r["split"]
          for r in TX.deterministic_split(df, salt="v2").collect()}
    assert any(a[k] != s2[k] for k in a)


def test_fingerprint_batch_matches_scalar():
    """The cross-document vectorized fingerprint must equal the scalar
    per-doc rolling hash for every doc, including empty and shorter-
    than-k texts (zero-padded on both paths)."""
    import numpy as np
    from rasters_rs_spark.operators import text as TX
    rng = np.random.default_rng(21)
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    texts = [" ".join(rng.choice(words, size=int(n)))
             for n in rng.integers(1, 40, size=50)]
    texts += ["", "ab", "abcdefg", "x" * 8, "exactly8"]  # < k and == k
    got = TX.fingerprint_batch(texts, k=8)
    expect = [TX.fingerprint_minhash(t or "", 8) for t in texts]
    assert got.tolist() == expect
    # non-ascii: both paths hash per-character codepoints (utf-32)
    uni = ["héllo wörld " * 3, "日本語テキスト"]
    assert TX.fingerprint_batch(uni).tolist() == \
        [TX.fingerprint_minhash(t) for t in uni]


def test_with_quality_empty_doc_no_crash(spark):
    """ANSI-mode regression: an empty document (n_chars = 0) must not
    blow up the quality projection with DIVIDE_BY_ZERO; its char ratios
    are NULL."""
    import pandas as pd
    from rasters_rs_spark.operators import text as TX
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": ["hello world", ""]}))
    rows = {r["doc_id"]: r for r in TX.with_quality(df).collect()}
    assert rows[1]["punct_ratio"] is not None
    assert rows[2]["punct_ratio"] is None and rows[2]["upper_ratio"] is None
    assert rows[2]["n_tokens"] == 1          # split('') == ['']


def test_repetition_and_filter_accept_string_ids(spark):
    """String doc ids (the style the dedup family uses) must work in
    repetition_stats and filter_corpus — the old bigint cast threw
    CAST_INVALID_INPUT under ANSI."""
    import pandas as pd
    from rasters_rs_spark.operators import text as TX
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["a1", "b2"],
        "text": ["the cat sat on the mat " * 5,
                 "one two three four five six " * 5]}))
    rep = {r["doc_id"]: r["rep_ratio"]
           for r in TX.repetition_stats(df).collect()}
    assert set(rep) == {"a1", "b2"} and all(v > 0 for v in rep.values())
    kept = TX.filter_corpus(df, min_tokens=5, max_rep=1.0).collect()
    assert {r["doc_id"] for r in kept} <= {"a1", "b2"}


def test_repetition_engines_identical(spark):
    """The zero-shuffle Arrow engine and the Catalyst explode engine
    are bit-identical (exact integer counts), including the empty-text
    and short-doc slice edge cases and n=3."""
    import pandas as pd
    from rasters_rs_spark.operators import text as T
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(6)),
        "text": ["a b a b a b", "x", "", "one two three two three two",
                 "z z z z", "lone pair lone pair"]}))
    for n in (2, 3):
        a = sorted(tuple(r) for r in T.repetition_stats(
            docs, n=n, engine="sql").collect())
        b = sorted(tuple(r) for r in T.repetition_stats(
            docs, n=n, engine="arrow").collect())
        assert a == b, n


def test_repetition_null_text_both_engines(spark):
    """NULL text must not crash the Arrow engine (round-4 ADVICE) and
    must score the SQL engine's (1, 1, 1.0) — the NULL gram groups
    into a single row, same as the empty string's ''-gram (measured
    SQL behavior, not a drop). Covers the tokens_col path too (NULL
    array and empty array)."""
    import pandas as pd
    from rasters_rs_spark.operators import text as T
    docs = spark.createDataFrame(
        [("d1", "a b a b"), ("d2", None), ("d3", "")],
        "doc_id string, text string")
    for engine in ("sql", "arrow"):
        out = {r["doc_id"]: (r["n_ngrams"], r["top_count"], r["rep_ratio"])
               for r in T.repetition_stats(docs, n=2, engine=engine).collect()}
        assert out["d2"] == (1, 1, 1.0), engine
        assert out["d3"] == (1, 1, 1.0), engine
        assert out["d1"] == (3, 2, 2 / 3), engine
    toks = spark.createDataFrame(
        [("t1", ["a", "b", "a", "b"]), ("t2", None), ("t3", [])],
        "doc_id string, toks array<string>")
    for engine in ("sql", "arrow"):
        out = {r["doc_id"]: (r["n_ngrams"], r["top_count"])
               for r in T.repetition_stats(
                   toks, n=2, tokens_col="toks", engine=engine).collect()}
        assert out["t2"] == (1, 1), engine
        assert out["t3"] == (1, 1), engine
        assert out["t1"] == (3, 2), engine


def test_repetition_tokens_batch_matches_counter_semantics():
    """_repetition_batch_tokens (the vectorized caller-tokenized path
    that replaced the per-doc Counter, round-5 VERDICT #6) equals a
    scalar Counter mirror on: space-containing tokens (gram identity
    is the ' '.join string — ['a b','c'] and ['a','b c'] join equal),
    short docs, empties, Nones, unicode tokens, and a fuzz sweep."""
    from collections import Counter

    import numpy as np
    from rasters_rs_spark.operators import text as T

    def mirror(seqs, n):
        out = []
        for v in seqs:
            toks = list(v) if v is not None else []
            toks = toks if toks else [""]
            m = max(len(toks) - (n - 1), 1)
            c = Counter(" ".join(toks[i:i + n]) for i in range(m))
            out.append((m, max(c.values())))
        return out

    cases = [
        ["a b", "c", "a", "b c", "a b", "c"],   # join-equal grams
        ["x"], [], None, [""],
        ["日本", "語", "日本", "語"],
        ["t"] * 7,
    ]
    for n in (1, 2, 3):
        tot, top = T._repetition_batch_tokens(cases, n)
        assert list(zip(tot.tolist(), top.tolist())) == mirror(cases, n), n

    rng = np.random.default_rng(7)
    vocab = ["a", "bb", "c d", "", "éé", "zz z"]
    fuzz = [None if rng.random() < 0.1 else
            list(rng.choice(vocab, size=int(rng.integers(0, 9))))
            for _ in range(200)]
    for n in (2, 4):
        tot, top = T._repetition_batch_tokens(fuzz, n)
        assert list(zip(tot.tolist(), top.tolist())) == mirror(fuzz, n), n


def test_bpe_token_count_matches_scalar_mirror(spark):
    """Real merges-table BPE (rank-ordered greedy folds): the
    Arrow-batched vectorized kernel equals the pure-Python scalar
    tokenizer on edge cases — chained same-char runs (the left-fold
    parity), multi-rank chains (t+h -> th+e), nulls, empties, and
    text outside the [a-z ] vocabulary."""
    from rasters_rs_spark.operators import text as T
    texts = [None, "", "   ", "aaaa", "the theme of the thesis",
             "row row row your boat", "Standing AND rounding!! 123",
             "ththththe", "x", "and and anand"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["n_tokens"]
           for r in T.bpe_token_count(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(T.bpe_tokenize_scalar(t or "")), (i, t)
    # the merges table satisfies the learned-order property
    T._bpe_resolve_ids(T.BPE_MERGES)


def test_distributed_kmeans_equals_driver_lloyd(spark, emb):
    """train_ivf_centroids_distributed == driver-side Lloyd with the
    same deterministic init (smallest-xxhash64 rows), to partial-sum
    association order (1e-9) — and nothing corpus-sized hits the
    driver (the pass emits n_lists rows per partition)."""
    import pyspark.sql.functions as F
    df, pdf = emb
    corpus = df.selectExpr(
        "cast(vec_id as string) vec_id",
        "transform(embedding, x -> cast(x as double)) embedding")
    dim, k, iters = 64, 8, 4
    got = SIM.train_ivf_centroids_distributed(corpus, dim, k, iters=iters)

    rows = corpus.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    mat = np.stack([np.asarray(r["embedding"], np.float64) for r in rows])
    h = {r["vec_id"]: r["h"] for r in corpus.select(
        "vec_id", F.xxhash64("vec_id").alias("h")).collect()}
    init_order = sorted(range(len(ids)), key=lambda i: (h[ids[i]], ids[i]))
    cents = mat[init_order[:k]].copy()
    for _ in range(iters):
        d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(k):
            m = a == c
            if m.any():
                cents[c] = mat[m].mean(axis=0)
    assert np.allclose(got, cents, atol=1e-9)


def test_ivf_topk_distributed_train_recall(spark, emb):
    """ivf_topk's full-corpus distributed quantizer keeps useful recall
    vs exact top-k and always finds the query's own vector."""
    df, pdf = emb
    qs = pdf.head(8)
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": qs["vec_id"].astype(str),
        "q_vec": [list(map(float, v)) for v in qs["embedding"]],
    }))
    corpus = df.selectExpr(
        "cast(vec_id as string) vec_id",
        "transform(embedding, x -> cast(x as double)) embedding")
    exact = SIM.cosine_topk(queries, corpus, k=5).collect()
    e = {}
    for r in exact:
        e.setdefault(r["q_id"], set()).add(r["vec_id"])
    out = SIM.ivf_topk(queries, corpus, k=5, dim=64, n_lists=8,
                       nprobe=4).collect()
    a = {}
    for r in out:
        a.setdefault(r["q_id"], set()).add(r["vec_id"])
    for q in e:
        assert q in a and q in a[q]
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    assert np.mean(recalls) >= 0.3


def test_pack_sequences_concat_and_chunk(spark):
    """Sequence packing: exclusive global cumsum over doc_id order
    (two-pass, no single-partition window); docs span budget
    boundaries; zero-token docs occupy no sequence."""
    from rasters_rs_spark.operators import text as T
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, None), (4, "f g h i j k")],
        "doc_id long, text string")
    # token counts: 3, 2, 1 (null -> '' -> ['']), 6
    out = {r["doc_id"]: r for r in
           T.pack_sequences(docs, budget=4, partitions=3).collect()}
    assert [out[i]["global_start"] for i in (1, 2, 3, 4)] == [0, 3, 5, 6]
    assert out[1].asDict() | {} == {
        "doc_id": 1, "n_tokens": 3, "global_start": 0, "seq_id": 0,
        "seq_offset": 0, "n_seqs": 1}
    assert (out[2]["seq_id"], out[2]["seq_offset"]) == (0, 3)
    assert out[2]["n_seqs"] == 2          # tokens at 3, 4 -> seqs 0 and 1
    assert out[4]["n_seqs"] == 2          # tokens 6..11 -> seqs 1, 2
    assert (out[4]["seq_id"], out[4]["seq_offset"]) == (1, 2)
    assert out[3]["n_tokens"] == 1        # null text -> one ''-token


def test_pack_sequences_partition_invariant(spark):
    """The packing is a pure function of (id -> n_tokens): identical
    output at different partition counts."""
    from rasters_rs_spark.operators import text as T
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(tuple(r) for r in T.pack_sequences(docs, 512,
                                                  partitions=2).collect())
    b = sorted(tuple(r) for r in T.pack_sequences(docs, 512,
                                                  partitions=32).collect())
    assert a == b and len(a) > 0


def test_stratified_sample_monotone_and_deterministic(spark):
    """Raising a stratum's fraction only ADDS rows (hash-threshold
    monotonicity); fractions 0/1 drop/keep whole strata; re-runs are
    identical."""
    from rasters_rs_spark.operators import text as T
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    low = {r["doc_id"] for r in T.stratified_sample(
        docs, {"en": 0.3}, default=0.0).collect()}
    high = {r["doc_id"] for r in T.stratified_sample(
        docs, {"en": 0.7}, default=0.0).collect()}
    assert low <= high and len(low) < len(high)
    allen = {r["doc_id"] for r in docs.where("lang = 'en'").collect()}
    kept = {r["doc_id"] for r in T.stratified_sample(
        docs, {"en": 1.0}, default=0.0).collect()}
    assert kept == allen
    again = {r["doc_id"] for r in T.stratified_sample(
        docs, {"en": 0.3}, default=0.0).collect()}
    assert again == low


def test_bpe_tokenize_stream_matches_scalar(spark):
    """bpe_tokenize's delimited stream equals the scalar fold,
    including spaces as stream elements."""
    import re
    from rasters_rs_spark.operators import text as T
    texts = ["the theme", "", None, "row row", "a  b"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["tokens"] for r in T.bpe_tokenize(docs).collect()}

    def scalar_stream(txt):
        clean = re.sub("[^a-z ]", "", (txt or "").lower())
        toks = list(clean)
        for a, b in T.BPE_MERGES:
            out = []
            for t in toks:
                if out and out[-1] == a and t == b:
                    out[-1] = a + b
                else:
                    out.append(t)
            toks = out
        return "|".join(toks)

    for i, t in enumerate(texts):
        assert got[i] == scalar_stream(t), (i, t, got[i])


def test_ann_pq_recall_and_compression(spark, emb):
    """PQ/ADC ANN: the pure-ADC surface finds each query's own vector
    (own codes give the minimal table sum), exact-rerank lifts recall,
    and trained codebooks beat the deterministic LCG ones. Codes are
    m_sub small ints — the 64x-compressed scan representation."""
    df, pdf = emb
    qs = pdf.head(8)
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": qs["vec_id"].astype(str),
        "q_vec": [list(map(float, v)) for v in qs["embedding"]]}))
    corpus = df.selectExpr(
        "cast(vec_id as string) vec_id",
        "transform(embedding, x -> cast(x as double)) embedding")
    exact = SIM.cosine_topk(queries, corpus, k=5).collect()
    e = {}
    for r in exact:
        e.setdefault(r["q_id"], set()).add(r["vec_id"])

    codes = SIM.pq_encode(corpus, dim=64, m_sub=8, k_codes=16)
    row = codes.first()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 16 for c in row["codes"])

    adc = SIM.ann_pq(queries, corpus, k=5, dim=64, rerank=False).collect()
    a = {}
    for r in adc:
        a.setdefault(r["q_id"], set()).add(r["vec_id"])
    for q in e:
        assert q in a and q in a[q]

    cb = SIM.train_pq_codebooks_distributed(corpus, dim=64, m_sub=8,
                                            k_codes=16, iters=3)
    rr = SIM.ann_pq(queries, corpus, k=5, dim=64, rerank=True,
                    rerank_factor=8, codebooks=cb).collect()
    b = {}
    for r in rr:
        b.setdefault(r["q_id"], set()).add(r["vec_id"])
    recalls = [len(e[q] & b.get(q, set())) / len(e[q]) for q in e]
    assert np.mean(recalls) >= 0.4
    for q in e:
        assert q in b and q in b[q]


def test_ann_pq_query_cap_refuses(spark, emb):
    """ann_pq broadcasts per-query distance tables: an oversized query
    table refuses with guidance instead of blowing the task closure."""
    df, _ = emb
    corpus = df.selectExpr(
        "cast(vec_id as string) vec_id",
        "transform(embedding, x -> cast(x as double)) embedding")
    queries = corpus.selectExpr("vec_id as q_id", "embedding as q_vec")
    with pytest.raises(ValueError, match="max_queries"):
        SIM.ann_pq(queries, corpus, k=5, dim=64, max_queries=10)


def test_ann_ivfpq_trained_recall(spark, emb):
    """IVF-PQ (residual codes inside coarse lists — the production
    10^12-vector composition): trained centroids + codebooks with
    exact rerank keep the recall bar and find each query's own
    vector; the deterministic config is covered end to end by the
    ann_ivfpq_embeddings SQL oracle."""
    df, pdf = emb
    qs = pdf.head(8)
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": qs["vec_id"].astype(str),
        "q_vec": [list(map(float, v)) for v in qs["embedding"]]}))
    corpus = df.selectExpr(
        "cast(vec_id as string) vec_id",
        "transform(embedding, x -> cast(x as double)) embedding")
    exact = SIM.cosine_topk(queries, corpus, k=5).collect()
    e = {}
    for r in exact:
        e.setdefault(r["q_id"], set()).add(r["vec_id"])
    cents = SIM.train_ivf_centroids_distributed(corpus, 64, 8, iters=3)
    cb = SIM.train_pq_codebooks_distributed(corpus, dim=64, m_sub=8,
                                            k_codes=16, iters=3)
    out = SIM.ann_ivfpq(queries, corpus, k=5, dim=64, n_lists=8,
                        nprobe=4, rerank=True, rerank_factor=8,
                        centroids=cents, codebooks=cb).collect()
    a = {}
    for r in out:
        a.setdefault(r["q_id"], set()).add(r["vec_id"])
    for q in e:
        assert q in a and q in a[q]
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    assert np.mean(recalls) >= 0.35


def test_train_bpe_merges_distributed_equals_scalar(spark):
    """Distributed BPE training (per-partition packed pair counts +
    driver argmax with string tie-breaks) equals the scalar trainer
    EXACTLY, and the learned table satisfies the learned-order
    property by construction (resolver accepts it), so it plugs into
    bpe_token_count/bpe_tokenize unchanged."""
    from rasters_rs_spark.operators import text as T
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r["text"] for r in docs.collect()]
    dist = T.train_bpe_merges(docs, n_merges=10)
    scal = T.train_bpe_merges_scalar(texts, n_merges=10)
    assert dist == scal and len(dist) == 10
    T._bpe_resolve_ids(dist)          # learned-order property holds
    n = T.bpe_token_count(docs, merges=dist).count()
    assert n == docs.count()


def test_pack_sequences_duplicate_ids_non_overlapping(spark):
    """ROWS window frame (review r5): duplicate doc_ids must not get
    overlapping global_start (the default RANGE frame sums tied peers
    into each other)."""
    from rasters_rs_spark.operators import text as T
    docs = spark.createDataFrame(
        [(1, "a b"), (1, "c d"), (2, "e")], "doc_id long, text string")
    rows = T.pack_sequences(docs, budget=4, partitions=2).collect()
    starts = sorted((r["global_start"], r["n_tokens"]) for r in rows)
    # the three spans tile [0, 5) without overlap
    assert starts == [(0, 2), (2, 2), (4, 1)]


def test_ann_pq_empty_queries_raises(spark, emb):
    import pytest as _pt
    df, _ = emb
    corpus = df.selectExpr(
        "cast(vec_id as string) vec_id",
        "transform(embedding, x -> cast(x as double)) embedding")
    empty = corpus.where("vec_id = '-1'").selectExpr(
        "vec_id as q_id", "embedding as q_vec")
    with _pt.raises(ValueError, match="empty"):
        SIM.ann_pq(empty, corpus, k=5, dim=64)


def test_duplicated_span_stats_planted(spark):
    """Duplicated-span signal: a 16-byte span shared across two docs
    marks exactly its windows in both; unique text scores 0; two empty
    docs are mutual full duplicates (zero-pad window)."""
    from rasters_rs_spark.operators import text as T
    boiler = "SHARED BOILERPLATE SEGMENT HERE!"     # 32 bytes
    docs = spark.createDataFrame([
        (1, "aaaa " + boiler + " bbbb"),
        (2, "cccc " + boiler + " dddd"),
        (3, "totally unique text with no repeats at all x"),
        (4, ""), (5, ""),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           T.duplicated_span_stats(docs, k=16).collect()}
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_fraction"] == 0.0
    # the shared substring includes the flanking spaces: 34 bytes ->
    # 34-16+1 = 19 windows fully inside it in both docs
    assert out[1]["n_dup_windows"] == 19 == out[2]["n_dup_windows"]
    assert 0 < out[1]["dup_fraction"] < 1
    assert out[4]["n_windows"] == 1 and out[4]["dup_fraction"] == 1.0
    assert out[5]["dup_fraction"] == 1.0


def test_dup_spans_and_fingerprint_non_ascii_match_duckdb():
    """Round-5 ADVICE: the engine hashed utf-8 BYTES while the DuckDB
    oracle hashes per-character codepoints (ascii()) — divergent on any
    non-ASCII text. Both window-hash kernels now run on codepoints
    (utf-32 decode), so engine == oracle on accented/CJK text too."""
    import duckdb
    import pandas as pd
    from rasters_rs_spark.operators import text as T
    import __spark_entry__ as E

    boiler = "日本語の定型文テキストがここに入ります"  # CJK boilerplate
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["héllo wörld " + boiler + " à suivre",
                 "prefix différent " + boiler + " autre suite",
                 "texte unique sans répétition aucune ici même",
                 "日本語テキスト"]})
    con = duckdb.connect()
    con.register("documents", pdf)

    k = E._DUPSPAN_K
    di, h = T._window_hash_rows(list(pdf["text"]), k)
    got = {}
    for d, hh in zip(pdf["doc_id"].to_numpy()[di], h):
        got.setdefault(int(d), []).append(int(hh))
    oracle = con.execute(E._dup_spans_sql()).fetchdf()
    n_dup = {}
    docs_per_hash = {}
    for d, hs in got.items():
        for hh in set(hs):
            docs_per_hash.setdefault(hh, set()).add(d)
    for d, hs in got.items():
        n_dup[d] = sum(1 for hh in hs if len(docs_per_hash[hh]) >= 2)
    for r in oracle.itertuples(index=False):
        assert len(got[int(r.doc_id)]) == int(r.n_windows), r
        assert n_dup[int(r.doc_id)] == int(r.n_dup_windows), r

    fp_oracle = dict(con.execute(E._fingerprint_sql(8)).fetchall())
    for d, t in zip(pdf["doc_id"], pdf["text"]):
        assert T.fingerprint_minhash(t, 8) == int(fp_oracle[int(d)]), d


def test_char_bigram_lm_end_to_end(spark):
    """CCNet-style perplexity gate (round 6): distributed bigram
    counts match a scalar mirror; scoring under the trained model
    separates in-domain text from garbage; dyadic-grid log-probs make
    sum_logp exactly n * per-transition values (order-free); empty /
    single-char / null docs score (0, 0.0, ppl 1.0); perplexity_filter
    keeps exactly the low-NLL docs."""
    from collections import Counter

    import numpy as np
    from rasters_rs_spark.operators import text as T

    corpus = ["the quick brown fox jumps over the lazy dog",
              "the lazy dog sleeps while the quick fox runs",
              "quick brown foxes jump over lazy sleeping dogs"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string")

    counts = {(r["a"], r["b"]): r["cnt"]
              for r in T.char_bigram_counts(docs).collect()}
    mirror = Counter()
    for t in corpus:
        for x, y in zip(t, t[1:]):
            mirror[(ord(x), ord(y))] += 1
    assert counts == dict(mirror)

    model = T.char_bigram_model(
        __import__("pandas").DataFrame(
            {"a": [k[0] for k in mirror], "b": [k[1] for k in mirror],
             "cnt": list(mirror.values())}))
    # every logp sits on the dyadic grid
    for arr in (model["pairs"]["logp"], model["ctx"]["logp"]):
        v = np.asarray(arr) * T._LM_QUANT
        assert np.array_equal(v, np.round(v))

    probe = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "zzqx qzxj jxqz zqxz"),
         (3, ""), (4, None), (5, "a")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.lm_score(probe, model).collect()}
    assert got[1]["avg_logp"] > got[2]["avg_logp"]   # in-domain scores higher
    assert got[1]["ppl"] < got[2]["ppl"]
    for d in (3, 4, 5):
        assert got[d]["n_transitions"] == 0
        assert got[d]["sum_logp"] == 0.0 and got[d]["ppl"] == 1.0
    assert got[1]["n_transitions"] == len("the quick brown fox") - 1
    # scalar mirror of the score: same lookup semantics
    pk = {(a, b): lp for a, b, lp in zip(model["pairs"]["a"],
                                         model["pairs"]["b"],
                                         model["pairs"]["logp"])}
    ck = dict(zip(model["ctx"]["a"], model["ctx"]["logp"]))
    t = "the quick brown fox"
    exp = sum(pk.get((ord(x), ord(y)),
                     ck.get(ord(x), model["global"]))
              for x, y in zip(t, t[1:]))
    assert got[1]["sum_logp"] == exp                  # exact: dyadic grid

    kept = {r["doc_id"] for r in
            T.perplexity_filter(probe, model,
                                max_avg_nll=-got[1]["avg_logp"] + 0.1)
            .collect()}
    assert 1 in kept and 2 not in kept and 3 not in kept


def _brute_span_marks(rows, k):
    """Exact-substring mirror of the span-removal rule: occurrences
    keyed by the literal k-char window (no hashing), canonical = min
    (doc_id, pos), everything else marked; marks merged into maximal
    half-open intervals (touching intervals merge)."""
    wins = {}
    for did, t in rows:
        t = t or ""
        for p in range(len(t) - k + 1):
            wins.setdefault(t[p:p + k], []).append((did, p))
    marks = {}
    for occ in wins.values():
        if len({d for d, _ in occ}) >= 2:
            canon = min(occ)
            for o in occ:
                if o != canon:
                    marks.setdefault(o[0], set()).add(o[1])
    out = {}
    for did, poss in marks.items():
        ivs = []
        for p in sorted(poss):
            if ivs and p <= ivs[-1][1]:
                ivs[-1][1] = max(ivs[-1][1], p + k)
            else:
                ivs.append([p, p + k])
        out[did] = [tuple(iv) for iv in ivs]
    return out


def test_duplicated_span_intervals_and_removal_planted(spark):
    """Exact substring-dedup (Lee et al. 2022 shape): the canonical
    (smallest doc_id, pos) occurrence of a cross-document duplicated
    span survives, every other occurrence is cut; within-document
    repeats alone are NOT cut (cross-document rule); overlapping marks
    merge into one interval. Verified against the literal-substring
    brute force and by reassembling the cleaned text."""
    from rasters_rs_spark.operators import text as T
    boiler = "SHARED BOILERPLATE SEGMENT HERE!"      # 32 chars
    selfrep = "xyzw" * 10                            # self-repeat only
    rows = [
        (1, "aaaa " + boiler + " bbbb"),
        (2, "cccc " + boiler + " dddd"),
        (3, "eeee " + boiler + " ffff " + boiler + " gggg"),
        (4, "totally unique text with no repeats at all q"),
        (5, selfrep),
        (6, "short"),
        (7, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _brute_span_marks(rows, 16)

    got = {}
    for r in T.duplicated_span_intervals(docs, k=16).collect():
        got.setdefault(r["doc_id"], []).append((r["start"], r["end"]))
    got = {d: sorted(v) for d, v in got.items()}
    assert got == want
    assert 1 not in got            # canonical occurrence stays
    assert 4 not in got and 5 not in got and 6 not in got and 7 not in got
    assert 2 in got and 3 in got

    out = {r["doc_id"]: r for r in
           T.remove_duplicated_spans(docs, k=16).collect()}
    for did, t in rows:
        t = t or ""
        ivs = want.get(did, [])
        pieces, cur = [], 0
        for s, e in ivs:
            pieces.append(t[cur:s]); cur = e
        pieces.append(t[cur:])
        r = out[did]
        assert r["text_clean"] == "".join(pieces), did
        assert r["n_spans_removed"] == len(ivs), did
        assert r["n_chars_removed"] == sum(e - s for s, e in ivs), did
    # doc 1 keeps the boilerplate verbatim, doc 2 loses exactly it
    assert boiler in out[1]["text_clean"]
    assert boiler not in out[2]["text_clean"]


def _brute_span_marks_any(rows, k):
    """within_doc=True mirror: duplicated = >= 2 occurrences anywhere
    (same doc counts); canonical/merge rules unchanged."""
    wins = {}
    for did, t in rows:
        t = t or ""
        for p in range(len(t) - k + 1):
            wins.setdefault(t[p:p + k], []).append((did, p))
    marks = {}
    for occ in wins.values():
        if len(occ) >= 2:
            canon = min(occ)
            for o in occ:
                if o != canon:
                    marks.setdefault(o[0], set()).add(o[1])
    out = {}
    for did, poss in marks.items():
        ivs = []
        for p in sorted(poss):
            if ivs and p <= ivs[-1][1]:
                ivs[-1][1] = max(ivs[-1][1], p + k)
            else:
                ivs.append([p, p + k])
        out[did] = [tuple(iv) for iv in ivs]
    return out


def test_duplicated_span_removal_within_doc(spark):
    """within_doc=True (the full Lee et al. rule): a doc that is one
    long periodic run collapses to its period prefix; cross-doc
    behavior is unchanged; default mode leaves intra-doc repeats."""
    from rasters_rs_spark.operators import text as T
    rows = [
        (1, "xyzw" * 10),                               # period-4 run
        (2, "totally unique text with no repeats at all q"),
        (3, "lead DUPLICATE SEGMENT 16+ mid DUPLICATE SEGMENT 16+ end"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # default (cross-doc only): nothing duplicated across docs
    assert T.duplicated_span_intervals(docs, k=16).count() == 0

    want = _brute_span_marks_any(rows, 16)
    got = {}
    for r in T.duplicated_span_intervals(docs, k=16,
                                         within_doc=True).collect():
        got.setdefault(r["doc_id"], []).append((r["start"], r["end"]))
    assert {d: sorted(v) for d, v in got.items()} == want

    out = {r["doc_id"]: r for r in
           T.remove_duplicated_spans(docs, k=16,
                                     within_doc=True).collect()}
    assert out[1]["text_clean"] == "xyzw"               # run collapses
    assert out[2]["text_clean"] == rows[1][1]
    assert out[3]["text_clean"].count("DUPLICATE SEGMENT 16+") == 1


def test_bm25_topk_matches_reference_scoring(spark):
    """bm25_topk vs an independent scalar BM25 (math.log, dicts, no
    Spark/hashing): same top-k sets, ranks, and scores to the dyadic
    grid; ties break by doc_id; docs sharing no term never appear;
    query-term multiplicity is ignored (distinct-term semantics)."""
    import math
    import re

    from rasters_rs_spark.operators import similarity as SIM

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a lazy dog sleeps all day in the warm sun"),
        (3, "Quick, quick! QUICK foxes everywhere... quickly now"),
        (4, "unrelated astronomy telescope galaxy nebula survey"),
        (5, None),
        (6, "dog dog dog dog dog dog dog dog dog dog"),
    ]
    qrows = [(10, "quick fox"), (11, "lazy dog dog dog"), (12, "zzz")]
    k1, b, k = 1.2, 0.75, 4

    def tok(t):
        return [w for w in re.split(r"[^a-z0-9]+", (t or "").lower()) if w]

    docs_t = {d: tok(t) for d, t in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in docs_t.values()) / n
    want = {}
    for qid, qt in qrows:
        scores = {}
        for term in set(tok(qt)):
            df = sum(1 for v in docs_t.values() if term in v)
            if df == 0:
                continue
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for d, v in docs_t.items():
                tf = v.count(term)
                if tf:
                    c = idf * (tf * (k1 + 1.0)) / (
                        tf + k1 * (1.0 - b + b * len(v) / avgdl))
                    scores[d] = scores.get(d, 0.0) + \
                        math.floor(c * (1 << 20)) / (1 << 20)
        top = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        want[qid] = [(d, s, r + 1) for r, (d, s) in enumerate(top)]

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = spark.createDataFrame(qrows, "q_id long, q_text string")
    got = {}
    for r in SIM.bm25_topk(qs, docs, k=k, k1=k1, b=b).collect():
        got.setdefault(r["q_id"], []).append(
            (r["doc_id"], r["score"], r["rank"]))
    got = {q: sorted(v, key=lambda x: x[2]) for q, v in got.items()}
    for qid, _ in qrows:
        exp = want.get(qid, [])
        assert [(d, r) for d, _, r in got.get(qid, [])] == \
               [(d, r) for d, _, r in exp], qid
        for (dg, sg, _), (de, se, _) in zip(got.get(qid, []), exp):
            assert abs(sg - se) < 1e-12, (qid, dg, sg, se)
    assert 12 not in got                       # no-match query: no rows
    assert all(d != 5 for d, _, _ in got.get(10, []))

    # plan: query vocabulary broadcasts into the posting-list prune
    plan = SIM.bm25_topk(qs, docs, k=k)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_window_overlap_and_rrf_fusion(spark):
    """Overlap retrieval counts DISTINCT shared k-windows (brute-force
    substring mirror); RRF fusion matches the scalar formula with
    dyadic-grid contributions, handles 3 lists, and rejects 1."""
    import math

    import pytest as _pt

    from rasters_rs_spark.operators import similarity as SIM

    boiler = "SHARED BOILERPLATE SEGMENT HERE!"
    rows = [(1, "aaaa " + boiler + " bbbb"),
            (2, "cccc " + boiler[:20] + " unrelated tail words"),
            (3, "no overlap at all in this document body")]
    qrows = [(10, "zz " + boiler + " yy")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = spark.createDataFrame(qrows, "q_id long, q_text string")

    def wins(t, k=8):
        return {t[p:p + k] for p in range(len(t) - k + 1)}

    got = {r["doc_id"]: r["n_shared"] for r in
           SIM.window_overlap_topk(qs, docs, k=5, win_k=8).collect()}
    qw = wins(qrows[0][1])
    for did, t in rows:
        exp = len(qw & wins(t))
        assert got.get(did, 0) == exp, (did, exp)
    assert got[1] > got[2] > 0 and 3 not in got

    # RRF vs scalar mirror, 3 lists
    mk = lambda rows_: spark.createDataFrame(
        rows_, "q_id long, doc_id long, rank int")
    a = mk([(10, 1, 1), (10, 2, 2)])
    b = mk([(10, 2, 1), (10, 3, 2)])
    c = mk([(10, 1, 1), (10, 3, 2), (10, 2, 3)])
    out = {r["doc_id"]: r for r in SIM.rrf_fuse(a, b, c, k=3).collect()}
    g = float(1 << 40)
    q = lambda r: math.floor(1.0 / (60.0 + r) * g) / g
    assert abs(out[2]["rrf_score"] - (q(2) + q(1) + q(3))) < 1e-15
    assert out[2]["n_lists"] == 3
    assert abs(out[1]["rrf_score"] - (q(1) + q(1))) < 1e-15
    assert out[2]["rank"] == 1 and out[1]["rank"] == 2   # 3 hits beat 2
    with _pt.raises(ValueError, match="two"):
        SIM.rrf_fuse(a)


def test_retrieval_rank_eval_matches_window_rank(spark, emb):
    """Aggregation-form rank (count of corpus rows beating the true
    pair) == the window-sort rank from cosine_topk with k=n, under the
    shared (cosine desc, id asc) total order; hit flags consistent."""
    df, pdf = emb
    # a NaN element in rows 5 (a query's true vector, so query 5's
    # cosines are all NaN and rank by id) and 300 (its cosine is NaN
    # for every query, so it beats every number): Spark orders NaN
    # above all doubles and equal to NaN
    corpus = df.selectExpr(
        "cast(vec_id as bigint) vec_id",
        "transform(embedding, (x, i) -> CASE WHEN vec_id IN (5, 300) "
        "AND i = 10 THEN double('NaN') ELSE cast(x as double) END) "
        "embedding")
    n = corpus.count()
    # caption-side double: dims 0..39 rotated by 7 + dyadic (k%16)/64
    # noise — the contract fixture's derivation, ranks spread over
    # the corpus with some true pairs still in the top K
    from pyspark.sql import functions as F
    qs = corpus.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda d: F.when(
                d < 40,
                F.element_at(F.col("embedding"),
                             ((d + F.lit(7)) % 64 + 1).cast("int")))
            .otherwise(F.element_at(F.col("embedding"),
                                    (d + 1).cast("int")))
            + ((F.col("vec_id") * 64 + d) % 16).cast("double")
            / F.lit(64.0)).alias("q_vec"))
    got = {r["q_id"]: r for r in
           SIM.retrieval_rank_eval(qs, corpus, hits_at=(1, 5, 10))
           .collect()}
    assert len(got) == 16
    full = SIM.cosine_topk(qs, corpus, k=n)
    expect = {r["q_id"]: r for r in
              full.where(F.col("vec_id") == F.col("q_id")).collect()}
    assert set(got) == set(expect)
    for q, e in expect.items():
        g = got[q]
        assert g["true_rank"] == e["rank"], q
        assert g["true_cosine"] == e["cosine"] or (
            math.isnan(g["true_cosine"]) and math.isnan(e["cosine"])), q
        for k in (1, 5, 10):
            assert g[f"hit_at_{k}"] == int(g["true_rank"] <= k)
    # non-vacuous: the perturbed queries must not all sit at rank 1
    ranks = sorted(r["true_rank"] for r in got.values())
    assert ranks[-1] > 1
    # the NaN rows take part: row 300 beats every finite true cosine,
    # and query 5 ties on NaN with rows 0..4
    assert math.isnan(got[5]["true_cosine"]) and got[5]["true_rank"] == 6
    assert ranks[0] > 1


def test_rerank_kernel_keeps_nan_cosine(spark):
    """A NaN element gives a NaN cosine, not a NULL, as cosine_expr
    does; Spark's window ranks it above every number, and the
    zero-norm NULL last."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [float("nan"), 1.0]), (2, [0.0, 0.0]),
         (3, [0.5, 0.5])], "vec_id bigint, embedding array<double>")
    qs = spark.createDataFrame([(0, [1.0, 0.2])],
                               "q_id bigint, q_vec array<double>")
    rows = sorted(SIM.cosine_topk(qs, corpus, k=4).collect(),
                  key=lambda r: r["rank"])
    assert [r["vec_id"] for r in rows] == [1, 0, 3, 2]
    assert math.isnan(rows[0]["cosine"]) and rows[3]["cosine"] is None


def test_retrieval_rank_eval_edges(spark):
    """Unrankable queries drop (zero-norm true vector, id absent from
    the corpus); the brute-force surface refuses oversized eval sets."""
    from pyspark.sql import functions as F  # noqa: F401
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id bigint, embedding array<double>")
    qs = spark.createDataFrame(
        [(0, [1.0, 0.1]),   # rankable
         (1, [1.0, 1.0]),   # true vector zero-norm -> dropped
         (9, [1.0, 1.0])],  # no corpus row 9 -> dropped
        "q_id bigint, q_vec array<double>")
    rows = SIM.retrieval_rank_eval(qs, corpus, hits_at=(1,)).collect()
    assert [r["q_id"] for r in rows] == [0]
    assert rows[0]["true_rank"] == 1 and rows[0]["hit_at_1"] == 1
    with pytest.raises(ValueError, match="max_queries"):
        SIM.retrieval_rank_eval(qs, corpus, max_queries=2)


def test_window_hash_rows2_matches_two_pass():
    """Round-8 fused two-lane window-hash kernel: bit-identical to the
    two single-lane _window_hash_rows passes it replaced (unicode,
    empty, short-doc and exact-k inputs)."""
    import numpy as np
    from rasters_rs_spark.operators import text as T

    cases = [
        [],
        ["", "short", "exactly sixteen!", "héllo wörld " * 5,
         "日本語の定型文テキストがここに入ります", None,
         "a" * 15, "b" * 16, "mixed ascii と 日本語 ﬁ ligature"],
        ["x" * 1000, "boilerplate " * 40],
    ]
    for texts in cases:
        di1, h1, p1 = (np.empty(0),) * 3
        di1, h1 = T._window_hash_rows(texts, 16, pad=False)
        _, h2, p2 = T._window_hash_rows(texts, 16, base=T.FP2_BASE,
                                        mod=T.FP2_MOD, with_pos=True,
                                        pad=False)
        di, h, pos = T._window_hash_rows2(texts, 16)
        assert np.array_equal(di, di1)
        assert np.array_equal(pos, p2)
        assert np.array_equal(h, h1 * T.FP2_MOD + h2)


def test_rerank_kernel_matches_expr(spark):
    """Round-8 _rerank_topk Arrow kernel: identical (q_id, vec_id,
    cosine, rank) rows to the cosine_expr + window shape it replaced,
    including zero-norm (NULL cosine, ranked last) and ragged-length
    pairs."""
    import numpy as np
    from pyspark.sql import Window, functions as F
    rng = np.random.default_rng(47)
    nq, nc, dim = 5, 40, 16
    cvecs = [rng.normal(size=dim).tolist() for _ in range(nc)]
    cvecs[3] = [0.0] * dim
    cvecs[11] = rng.normal(size=dim - 4).tolist()
    corpus = spark.createDataFrame(
        [(i, cvecs[i]) for i in range(nc)],
        "vec_id bigint, embedding array<double>")
    qs = spark.createDataFrame(
        [(i, rng.normal(size=dim).tolist()) for i in range(nq)],
        "q_id bigint, q_vec array<double>")
    cand = corpus.crossJoin(F.broadcast(qs))
    got = {(r["q_id"], r["rank"]): (r["vec_id"], r["cosine"]) for r in
           SIM._rerank_topk(cand, 7, "q_id", "vec_id",
                            "q_vec", "embedding").collect()}
    scored = cand.dropDuplicates(["q_id", "vec_id"]) \
        .withColumn("cosine", SIM.cosine_expr("q_vec", "embedding"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"),
                                           F.col("vec_id"))
    want = {(r["q_id"], r["rank"]): (r["vec_id"], r["cosine"]) for r in
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 7)
            .select("q_id", "vec_id", "cosine", "rank").collect()}
    assert got == want
    assert len(want) == nq * 7
