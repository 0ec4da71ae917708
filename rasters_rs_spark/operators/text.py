"""Text analysis over the documents table: token counting, quality
scoring, language ID, document fingerprinting.

Everything except the fingerprint stays in plain Spark SQL expressions
(whole-stage codegen; oracle-checkable in DuckDB with the identical
ANSI-ish SQL). The fingerprint is a rolling-hash min-sketch in a pandas
UDF (numpy over character codes, no per-char Python).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions import scanpar

# tiny deterministic marker lists; on real corpora these would be
# frequency-derived stopword profiles per language
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def with_quality(docs: DataFrame, text_col: str = "text",
                 tokens_col: str | None = None) -> DataFrame:
    """Quality features: token count, char count, mean token length,
    stopword ratio, punctuation ratio, uppercase ratio — all codegen'd
    column expressions (no UDF).

    ``tokens_col``: name of an already-materialized split-token array
    column to reuse (fused pipelines like filter_corpus tokenize once
    and share the array across quality + lang-id + repetition instead
    of re-splitting the text per signal)."""
    t = F.col(text_col)
    toks = F.col(tokens_col) if tokens_col else F.split(t, " ")
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    # non-space chars == sum of split-token lengths (empty tokens from
    # repeated spaces contribute 0) — no regexp pass needed
    n_nospace = F.aggregate(F.transform(toks, F.length),
                            F.lit(0), lambda a, x: a + x)
    n_punct = n_chars - F.length(F.regexp_replace(t, "[.,;:!?]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, "[A-Z]", ""))
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    # n_chars can be 0 (empty document) and Spark 4's default ANSI mode
    # makes x/0 THROW, not NULL — guard the char ratios (n_tokens >= 1
    # always: split('') is [''])
    safe_chars = F.when(n_chars > 0, n_chars.cast("double"))
    return (
        docs.withColumn("n_tokens", n_tokens)
        .withColumn("n_chars_q", n_chars)
        .withColumn("mean_token_len", n_nospace / n_tokens)
        .withColumn("punct_ratio", n_punct / safe_chars)
        .withColumn("upper_ratio", n_upper / safe_chars)
        .withColumn("stopword_ratio", n_stop / n_tokens)
    )


def lang_marker_counts(text_col: str = "text",
                       tokens_col: str | None = None):
    """One count column per language: tokens in that language's marker
    list (pure Catalyst lambda, DuckDB-expressible verbatim)."""
    toks = (F.col(tokens_col) if tokens_col
            else F.split(F.col(text_col), " "))
    return {
        lang: F.size(F.filter(toks, lambda w: w.isin(*words)))
        for lang, words in LANG_MARKERS.items()
    }


def with_lang_id(docs: DataFrame, text_col: str = "text",
                 tokens_col: str | None = None) -> DataFrame:
    """Heuristic language ID: argmax of marker-token counts, 'und' when
    every count is zero; deterministic tie-break by language name."""
    counts = lang_marker_counts(text_col, tokens_col)
    df = docs
    for lang, expr in counts.items():
        df = df.withColumn(f"_c_{lang}", expr)
    langs = sorted(counts)  # deterministic tie-break order
    best = F.greatest(*[F.col(f"_c_{l}") for l in langs])
    pick = F.lit("und")
    for l in reversed(langs):  # earlier names win ties
        pick = F.when(F.col(f"_c_{l}") == best, F.lit(l)).otherwise(pick)
    df = df.withColumn("lang_id", F.when(best > 0, pick).otherwise(F.lit("und")))
    return df.drop(*[f"_c_{l}" for l in langs])


def shingle_expr(text_col: str, k: int, tokens: bool = False):
    """Distinct word k-shingles as an array<string> — pure Catalyst:
    split -> sequence over start positions -> slice+join -> dedupe.

    Pass ``tokens=True`` when ``text_col`` is an already-materialized
    token ARRAY column: a split() inside the transform lambda would be
    re-evaluated per shingle position (O(tokens^2) splits — measured
    ~6x on real corpora), so hot paths should select the split into a
    column first and shingle from that."""
    toks = F.col(text_col) if tokens else F.split(F.col(text_col), " ")
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    sh = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(toks, i, k), " "))
    return F.array_distinct(sh)


def ngram_jaccard_pairs(docs: DataFrame, k: int = 3, id_col: str = "doc_id",
                        text_col: str = "text", threshold: float = 0.0,
                        max_rows: int = 10_000) -> DataFrame:
    """Exact pairwise n-gram Jaccard similarity, fully JVM-side:
    shingle arrays + array_intersect/array_union inside codegen.

    This is the O(N^2) exact small-n verification surface — it REFUSES
    input larger than ``max_rows`` (the crossJoin would be quadratic at
    corpus scale); use ``dedup.minhash_dedup`` as the LSH-pruned scale
    path. Returns (id_a, id_b, jaccard).

    Note: the guard runs one eager Spark job, but CAPPED at
    ``max_rows + 1`` rows (limit + column pruning keep it O(max_rows)
    regardless of corpus size — the refuse-fast check must not itself
    be a full scan), and nothing is left persisted behind the caller's
    back."""
    n = docs.select(F.col(id_col)).limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"ngram_jaccard_pairs is the exact all-pairs (O(N^2)) surface; "
            f"input has > {max_rows} rows. Use dedup.minhash_dedup (LSH) "
            f"for large corpora, or raise max_rows explicitly.")
    sh = docs.select(F.col(id_col).cast("string").alias("id"),
                     F.split(F.col(text_col), " ").alias("_toks")) \
             .select("id", shingle_expr("_toks", k, tokens=True).alias("sh"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = pairs.select("id_a", "id_b", (inter / union).alias("jaccard"))
    return out.where(F.col("jaccard") >= threshold) if threshold > 0 else out


def repetition_stats(docs: DataFrame, n: int = 2, id_col: str = "doc_id",
                     text_col: str = "text",
                     tokens_col: str | None = None,
                     engine: str = "arrow") -> DataFrame:
    """Gopher-style repetition signal: the share of a document's word
    n-grams taken by its single most frequent n-gram (repetitive docs
    score high and get filtered from training corpora). Returns
    (doc_id, n_ngrams, top_count, rep_ratio). SQL-oracled.

    ``engine="arrow"`` (default): the signal is ROW-LOCAL, so one
    Arrow-batched Counter pass computes it with ZERO shuffles —
    A/B-measured 3.2x faster than the explode shape at sf0.1 (0.41s vs
    1.34s) with bit-identical output (exact integer counts), and at
    corpus scale it removes two shuffles of ~n_tokens rows per doc.
    ``engine="sql"`` keeps the pure-Catalyst explode -> two
    partial-aggregated groupBys (the DuckDB oracle's mirror shape)."""
    if engine == "arrow":
        return _repetition_stats_arrow(docs, n, id_col, text_col,
                                       tokens_col)
    toks = (F.col(tokens_col) if tokens_col
            else F.split(F.col(text_col), " "))
    # keep the input id type: force-casting to bigint crashes on string
    # ids under ANSI (and silently null-merges all docs with ANSI off)
    g = docs.select(F.col(id_col).alias("doc_id"),
                    toks.alias("_toks")) \
            .select("doc_id",
                    F.explode(F.transform(
                        F.sequence(F.lit(1),
                                   F.greatest(F.size("_toks") - (n - 1),
                                              F.lit(1))),
                        lambda i: F.array_join(F.slice("_toks", i, n), " ")))
                    .alias("_g"))
    counts = g.groupBy("doc_id", "_g").agg(F.count("*").alias("_c"))
    return counts.groupBy("doc_id").agg(
        F.sum("_c").cast("bigint").alias("n_ngrams"),
        F.max("_c").cast("bigint").alias("top_count"),
    ).withColumn("rep_ratio",
                 F.col("top_count").cast("double") / F.col("n_ngrams"))


def _repetition_stats_arrow(docs: DataFrame, n: int, id_col: str,
                            text_col: str, tokens_col: str | None) -> DataFrame:
    """repetition_stats' zero-shuffle engine, vectorized ACROSS the
    documents of each Arrow batch (the fingerprint kernel's
    concatenated-buffer discipline, text.py fingerprint_batch): all
    texts concatenate into one byte buffer, token boundaries fall out
    of one space-byte scan plus the doc offsets, every full n-gram
    becomes a (start, end) byte span, and per-doc counts of equal
    grams come from one lexsort + reduceat over two independent
    rolling-hash lanes. No per-document Python in EITHER path: the
    caller-tokenized array path rides the same core through
    _repetition_batch_tokens (round-5 VERDICT #6 — the last per-doc
    Counter loop is gone). A/B vs that Counter loop
    (best-of-3, single thread): 1.08s vs 1.12s on the 50k-doc
    real-corpus shape (54-token docs — the per-doc Python overhead
    regime), 0.75s vs 0.57s on 1000x2000-token synthetic docs (the
    Counter's C string-hash loop amortizes); shipped as the engine
    because it wins on the corpus shape and its cost is O(bytes)
    passes rather than per-gram Python objects. Mirrors the SQL slice
    semantics
    exactly: a doc with fewer than n tokens yields ONE truncated gram
    (empty text is one ''-gram), and a NULL text scores (1, 1, 1.0) —
    the SQL engine's NULL gram groups into a single row (measured, not
    assumed). Gram identity and its collision bound: see
    _repetition_batch."""
    from typing import Iterator as _It

    id_type = dict(docs.dtypes)[id_col]
    src = tokens_col if tokens_col else text_col

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            if tokens_col:
                tot, top = _repetition_batch_tokens(list(pdf[src]), n)
            else:
                tot, top = _repetition_batch(list(pdf[src]), n)
            yield pd.DataFrame({
                "doc_id": pdf[id_col].to_numpy(),
                "n_ngrams": tot,
                "top_count": top,
                "rep_ratio": top / tot,
            })

    return docs.select(F.col(id_col), F.col(src)).mapInPandas(
        gen, schema=(f"doc_id {id_type}, n_ngrams bigint, "
                     f"top_count bigint, rep_ratio double"))


# two independent ~30-bit prime lanes for gram identity keys; small
# power tables are static per (base, mod) and cached across batches
_REP_P1, _REP_B1 = 1_000_000_007, 131
_REP_P2, _REP_B2 = 998_244_353, 137
_REP_K = 1 << 14
_rep_pow_cache: dict = {}


def _small_pows(b: int, p: int) -> np.ndarray:
    """Cached b^t mod p for t in [0, K) — the per-(base, mod) static
    block of the two-level power tables below."""
    key = (b, p)
    small = _rep_pow_cache.get(key)
    if small is None:
        small = np.empty(_REP_K, dtype=np.int64)
        small[0] = 1
        for i in range(1, _REP_K):
            small[i] = (small[i - 1] * b) % p
        _rep_pow_cache[key] = small
    return small


def _pow_table(b: int, p: int, hi: int) -> np.ndarray:
    """b^t mod p for t in [0, hi] as one outer product big[a]*small[r]
    over t = a*K + r — Python loop is O(K + hi/K), the O(hi) part is
    one vectorized multiply+mod."""
    small = _small_pows(b, p)
    bK = (int(small[_REP_K - 1]) * b) % p
    nbig = hi // _REP_K + 1
    big = np.empty(nbig, dtype=np.int64)
    big[0] = 1
    for i in range(1, nbig):
        big[i] = (big[i - 1] * bK) % p
    return ((big[:, None] * small[None, :]) % p).ravel()[:hi + 1]


def _modpow_at(b: int, p: int, t: np.ndarray) -> np.ndarray:
    """b^t mod p gathered at the given exponents only (O(len(t)))."""
    small = _small_pows(b, p)
    bK = (int(small[_REP_K - 1]) * b) % p
    nbig = int(t.max()) // _REP_K + 1
    big = np.empty(nbig, dtype=np.int64)
    big[0] = 1
    for i in range(1, nbig):
        big[i] = (big[i - 1] * bK) % p
    return (small[t % _REP_K] * big[t // _REP_K]) % p


def _lane_hashes(buf: np.ndarray, s: np.ndarray, e: np.ndarray,
                 b: int, p: int) -> np.ndarray:
    """Polynomial hash of each byte span [s_i, e_i) of ``buf`` in
    O(L + n_spans) vectorized passes: with ascending weights w_j = b^j
    and prefix sums S, hash = (S[e]-S[s]) * b^-s mod p (equal
    substrings get equal hashes; the b^s scale divides out at the span
    start only, so inverse powers are gathered at n_spans positions,
    never tabulated over L). Every product is < 2^60 and the cumsum of
    residues < p*L stays exact in int64 for buffers up to ~2^33
    bytes."""
    L = int(buf.size)
    if L == 0:
        return np.zeros(s.shape, dtype=np.int64)
    A = (buf * _pow_table(b, p, L - 1)[:L]) % p
    S = np.zeros(L + 1, dtype=np.int64)
    np.cumsum(A, out=S[1:])
    S %= p
    return ((S[e] - S[s]) % p) * _modpow_at(pow(b, p - 2, p), p, s) % p


def _wrap_lane_hashes(buf: np.ndarray, s: np.ndarray, e: np.ndarray,
                      b: int) -> np.ndarray:
    """Second hash lane over Z/2^64: same rolling form as
    _lane_hashes but with native uint64 wraparound — no modular
    reductions anywhere, ~3x cheaper. Structured collisions of mod-2^64
    polynomial hashes need adversarial kilobyte-scale constructions
    (Thue–Morse); combined with the exact byte length and the prime
    lane in the gram key they are irrelevant for corpus text."""
    L = int(buf.size)
    if L == 0:
        return np.zeros(s.shape, dtype=np.uint64)
    powt = np.empty(L, dtype=np.uint64)
    powt[0] = 1
    powt[1:] = b
    np.cumprod(powt, out=powt)                     # b^j mod 2^64
    S = np.zeros(L + 1, dtype=np.uint64)
    np.cumsum(buf * powt, out=S[1:])
    d = S[e] - S[s]
    # inverse powers at span starts via cached block tables (b odd =>
    # invertible mod 2^64; lambda(2^64) = 2^62)
    key = ("wrap", b)
    small = _rep_pow_cache.get(key)
    if small is None:
        small = np.empty(_REP_K, dtype=np.uint64)
        small[0] = 1
        small[1:] = pow(b, (1 << 62) - 1, 1 << 64)
        np.cumprod(small, out=small)
        _rep_pow_cache[key] = small
    ibK = int(small[_REP_K - 1]) * int(small[1]) & ((1 << 64) - 1)
    nbig = int(s.max()) // _REP_K + 1
    big = np.empty(nbig, dtype=np.uint64)
    big[0] = 1
    big[1:] = ibK
    np.cumprod(big, out=big)
    return d * (small[s % _REP_K] * big[s // _REP_K])


def _repetition_batch(texts, n: int):
    """(n_ngrams, top_count) int64 arrays for a batch of texts — the
    cross-document vectorized core of _repetition_stats_arrow.

    ``texts`` may be a pandas Series (zero-copy pyarrow offsets/data
    buffers when possible) or a list. Gram identity within a doc is
    (byte-length, h1, h2) mixed into 42 key bits next to the doc index
    — one int64 np.sort groups everything. Collision bound (round-5
    ADVICE, explicit): two distinct same-doc grams share a mixed key
    with probability 2^-42, so a doc with m grams expects ~m^2/2^43
    merged pairs — 2e-8 at the typical 300-gram shape, and <= 0.002
    even for a maximal 2^17-token doc; docs beyond 2^17 tokens take
    the full-width (len, h1, h2) lexsort path below (>= 125 key bits,
    collision odds ~2^-125 — exact for any physical corpus). A merged
    pair can only inflate top_count (total gram count is
    position-based, not key-based), shifting rep_ratio by <= n/m for
    one doc in ~10^8 — far below the 0.12-threshold resolution of
    filter_corpus, and below the deterministic fixtures the
    bit-identity tests pin."""
    import pyarrow as pa

    N = len(texts)
    tot = np.ones(N, dtype=np.int64)
    top = np.ones(N, dtype=np.int64)
    if N == 0:
        return tot, top
    # NULL text mirrors the SQL engine's single NULL-gram row (1,1,1.0)
    # == the empty string's single ''-gram row
    arr = pa.array(texts, type=pa.large_string()).fill_null("")
    if arr.offset != 0:                     # sliced input: rebase (rare)
        arr = pa.array(arr.to_pylist(), type=pa.large_string())
    _, off_buf, data_buf = arr.buffers()
    doc_off = np.frombuffer(off_buf, dtype=np.int64)[:N + 1].copy()
    doc_off -= doc_off[0]
    buf = np.frombuffer(data_buf, dtype=np.uint8)[
        :doc_off[-1]] if data_buf is not None else np.empty(0, np.uint8)

    # token boundaries: split at every space byte (0x20 — utf-8
    # continuation bytes can never equal it) within each doc
    space = np.nonzero(buf == 0x20)[0]
    sp_hi = np.searchsorted(space, doc_off[1:], side="left")
    T = np.diff(np.concatenate([[0], sp_hi])) + 1      # tokens per doc
    tok_first = np.zeros(N + 1, dtype=np.int64)
    np.cumsum(T, out=tok_first[1:])
    total_t = int(tok_first[-1])
    tok_doc = np.repeat(np.arange(N), T)
    tok_start = np.empty(total_t, dtype=np.int64)
    first = np.zeros(total_t, dtype=bool)
    first[tok_first[:-1]] = True
    tok_start[first] = doc_off[:-1]
    tok_start[~first] = space + 1
    tok_end = np.empty(total_t, dtype=np.int64)
    tok_end[:-1] = tok_start[1:] - 1                   # strip the space
    tok_end[tok_first[1:] - 1] = doc_off[1:]           # doc-final tokens

    return _repetition_core(N, buf, T, tok_first, tok_doc, tok_start,
                            tok_end, n, tot, top)


def _repetition_batch_tokens(seqs, n: int):
    """_repetition_batch for CALLER-TOKENIZED docs (array<string>
    column): token boundaries are given, not re-derived by space
    scanning — a token containing a space stays ONE token, exactly the
    Counter-path semantics this replaces (round-5 VERDICT #6: the last
    per-doc Python loop in text.py). Gram identity remains the
    space-joined byte string: the buffer is each doc's tokens joined
    with 0x20 and spans cover token bytes plus inner joins, so equal
    " ".join(gram) strings hash equal. NULL docs and empty arrays both
    yield the single-empty-token (1, 1) row, same as the Counter and
    SQL engines (tested)."""
    import pyarrow as pa

    N = len(seqs)
    tot = np.ones(N, dtype=np.int64)
    top = np.ones(N, dtype=np.int64)
    if N == 0:
        return tot, top
    arr = pa.array(
        [list(s) if s is not None and len(s) else [""] for s in seqs],
        type=pa.large_list(pa.large_string()))
    T = np.asarray(arr.value_lengths(), dtype=np.int64)  # tokens per doc
    vals = arr.values
    if vals.offset != 0:
        vals = pa.array(vals.to_pylist(), type=pa.large_string())
    _, voff_buf, vdata_buf = vals.buffers()
    total_t = len(vals)
    vo = np.frombuffer(voff_buf, dtype=np.int64)[:total_t + 1].copy()
    vo -= vo[0]
    vbytes = np.frombuffer(vdata_buf, dtype=np.uint8)[
        :vo[-1]] if vdata_buf is not None else np.empty(0, np.uint8)
    tok_len = np.diff(vo)
    tok_first = np.zeros(N + 1, dtype=np.int64)
    np.cumsum(T, out=tok_first[1:])
    tok_doc = np.repeat(np.arange(N), T)
    # joined layout: +1 byte per within-doc join; doc regions abut
    # (gram spans never cross docs, so no inter-doc separator needed)
    stride = tok_len + 1
    ends = np.zeros(total_t + 1, dtype=np.int64)
    np.cumsum(stride, out=ends[1:])
    # each doc drops exactly one trailing join byte, so the global
    # start of token j collapses to ends[j] - doc_index
    tok_start = ends[:-1] - tok_doc
    tok_end = tok_start + tok_len
    buf = np.full(int(ends[-1] - N), 0x20, dtype=np.uint8)
    if vbytes.size:
        out_idx = np.arange(vbytes.size, dtype=np.int64) \
            + np.repeat(tok_start - vo[:-1], tok_len)
        buf[out_idx] = vbytes
    return _repetition_core(N, buf, T, tok_first, tok_doc, tok_start,
                            tok_end, n, tot, top)


def _repetition_core(N, buf, T, tok_first, tok_doc, tok_start, tok_end,
                     n, tot, top):
    # docs with T < n keep the (1, 1) short-doc answer (one truncated
    # gram); docs with T >= n have m = T-n+1 full grams, each the byte
    # span [start of token j, end of token j+n-1]. The gram mask is
    # "every token except each doc's last n-1" — built with n-1
    # doc-sized scatters, no arange over the token table
    total_t = int(tok_first[-1])
    short = T < n
    tot[~short] = T[~short] - (n - 1)
    g_mask = np.ones(total_t, dtype=bool)
    for j in range(1, n):
        last_j = tok_first[1:] - j
        g_mask[last_j[T >= j]] = False
    g_idx = np.nonzero(g_mask)[0]
    if g_idx.size == 0:
        return tot, top
    g_doc = tok_doc[g_idx]
    g_s = tok_start[g_idx]
    g_e = tok_end[g_idx + (n - 1)]
    g_len = g_e - g_s
    h1 = _lane_hashes(buf, g_s, g_e, _REP_B1, _REP_P1)
    h2 = _wrap_lane_hashes(buf, g_s, g_e, _REP_B2).astype(np.int64)

    if N >= (1 << 21) or int(T.max()) >= (1 << 17):
        # packed int64 keys need doc < 2^21, per-doc counts < 2^21,
        # and an acceptable 42-bit collision budget — beyond 2^17
        # tokens per doc (m^2/2^43 > 0.002) group on the full-width
        # (len, h1, h2) key instead (docstring bound)
        order = np.lexsort((h2, h1, g_len, g_doc))
        d, ln, a, b2 = g_doc[order], g_len[order], h1[order], h2[order]
        new = np.ones(order.size, dtype=bool)
        new[1:] = ((d[1:] != d[:-1]) | (ln[1:] != ln[:-1])
                   | (a[1:] != a[:-1]) | (b2[1:] != b2[:-1]))
        gstart = np.nonzero(new)[0]
        counts = np.diff(np.concatenate([gstart, [order.size]]))
        gdoc = d[gstart]
        docnew = np.ones(gstart.size, dtype=bool)
        docnew[1:] = gdoc[1:] != gdoc[:-1]
        dstart = np.nonzero(docnew)[0]
        top[gdoc[dstart]] = np.maximum.reduceat(counts, dstart)
        return tot, top

    # one int64 sort: doc index in the high bits, 42 mixed gram-key
    # bits below (doc < 2^21 per Arrow batch by construction)
    mix = ((h1 * np.int64(0x9E3779B1) + h2) * np.int64(0x85EBCA77)
           + g_len) & np.int64((1 << 42) - 1)
    key = (g_doc << np.int64(42)) | mix
    key.sort()
    new = np.ones(key.size, dtype=bool)
    new[1:] = key[1:] != key[:-1]
    gstart = np.nonzero(new)[0]
    counts = np.diff(np.concatenate([gstart, [key.size]]))
    gdoc = key[gstart] >> np.int64(42)
    # per-doc max group count: (doc, count) packed keys, sorted — the
    # last entry of each doc segment is its top count (counts < 2^21
    # per doc because m < 2^21 per doc per batch)
    k2 = (gdoc << np.int64(21)) | counts
    k2.sort()
    dlast = np.nonzero(np.concatenate([k2[1:] >> np.int64(21)
                                       != k2[:-1] >> np.int64(21),
                                       [True]]))[0]
    top[k2[dlast] >> np.int64(21)] = k2[dlast] & np.int64((1 << 21) - 1)
    return tot, top


def filter_corpus(docs: DataFrame, min_tokens: int = 30,
                  max_rep: float = 0.12, langs: tuple = ("en",),
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Training-corpus quality cascade (the composite a real pipeline
    runs before dedup): token-count floor, repetition ceiling
    (Gopher-style top-bigram share), and language allowlist. Returns
    the kept documents' ids with their filter signals.

    Shape (round-8 fusion): the quality/lang signals are pure
    row-local Catalyst exprs and the repetition signal is a row-local
    Arrow kernel, so ALL of them run in ONE pass — the quality columns
    ride through the repetition kernel as pass-through columns and the
    old doc-id join (plus its two exchanges) is gone entirely; the
    text is tokenized once into a shared array column that every
    signal reuses. fan_out spreads the single-row-group scan (the
    whole pipeline is row-local, so there is no downstream shuffle at
    all). A/B at sf0.1: joined shape 1.01-1.15s -> fused 0.5-0.6s,
    outputs hash-identical (filter_corpus_docs stayed green)."""
    toked = scanpar.fan_out(
        docs.select(F.col(id_col).alias(id_col), F.col(text_col),
                    F.split(F.col(text_col), " ").alias("_toks")),
        key=id_col)
    q = with_lang_id(with_quality(toked, text_col, tokens_col="_toks"),
                     text_col, tokens_col="_toks").select(
        F.col(id_col).alias("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"), "lang_id",
        "_toks")
    id_type = dict(docs.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tot, top = _repetition_batch_tokens(list(pdf["_toks"]), 2)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "n_tokens": pdf["n_tokens"].to_numpy(),
                "lang_id": pdf["lang_id"].to_numpy(),
                "rep_ratio": top / tot,
            })

    out = q.mapInPandas(
        gen, schema=(f"doc_id {id_type}, n_tokens bigint, "
                     f"lang_id string, rep_ratio double")) \
        .where((F.col("n_tokens") >= min_tokens)
               & (F.col("rep_ratio") <= max_rep)
               & F.col("lang_id").isin(*langs))
    return out.select("doc_id", "n_tokens", "lang_id", "rep_ratio")


def deterministic_split(df: DataFrame, id_col: str = "doc_id",
                        weights: tuple = (0.9, 0.05, 0.05),
                        names: tuple = ("train", "val", "test"),
                        salt: str = "v1") -> DataFrame:
    """Reproducible train/val/test assignment: split = f(id, salt)
    only, so re-runs, different partitionings, and incremental
    additions never reshuffle rows between splits (the property random
    splits lack). u = first 60 bits of md5(id || ':' || salt) / 2^60;
    cumulative weight thresholds pick the split. Row-local Catalyst
    exprs; SQL-oracled."""
    if len(weights) != len(names) or abs(sum(weights) - 1.0) >= 1e-9:
        raise ValueError("weights and names must align and weights must "
                         "sum to 1.0")
    u = _md5_uniform(id_col, salt)
    expr = F.lit(names[-1])
    acc = 0.0
    branches = []
    for w, nm in zip(weights[:-1], names[:-1]):
        acc += w
        branches.append((acc, nm))
    for acc, nm in reversed(branches):
        expr = F.when(u < F.lit(acc), F.lit(nm)).otherwise(expr)
    return df.withColumn("split", expr)


BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_count_bpe_expr(text_col: str = "text"):
    """BPE-ish token count: alpha runs, digit runs, and single
    punctuation marks each count as one token (regexp, JVM-side)."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0))


FP_BASE = 1000003
FP_MOD = (1 << 31) - 1  # Mersenne M31: keeps every product/sum exact in int64


def fingerprint_minhash(text: str, k: int = 8) -> int:
    """Document fingerprint: min rolling hash over character k-grams
    (winnowing-style min-sketch reduced to one value). Vectorized numpy
    over the CODEPOINT array (utf-32 decode — one uint32 per character,
    so non-ASCII text hashes per character exactly like the oracle's
    DuckDB ascii(), which returns the Unicode codepoint); true
    polynomial hash mod M31 — codepoint*power products stay < 2^52 and
    the k-term sum < 2^57, so int64 arithmetic is exact and the
    identical value is reproducible in plain ANSI SQL (the
    driver-contract DuckDB oracle) on ANY text, not just ASCII
    (round-5 ADVICE on the byte/codepoint split)."""
    data = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32) \
        .astype(np.int64)
    if data.size < k:
        data = np.pad(data, (0, k - data.size), constant_values=0)
    powers = np.empty(k, dtype=np.int64)
    powers[0] = 1
    for i in range(1, k):
        powers[i] = (powers[i - 1] * FP_BASE) % FP_MOD
    windows = np.lib.stride_tricks.sliding_window_view(data, k).astype(np.int64)
    # h(i) = (sum_d c_{i+d} * base^(k-1-d)) mod p — exact, no wrapping
    acc = (windows * powers[::-1][None, :]).sum(axis=1) % FP_MOD
    return int(acc.min())


def fingerprint_batch(texts, k: int = 8) -> np.ndarray:
    """fingerprint_minhash vectorized ACROSS documents: all docs of an
    Arrow batch concatenate (zero-padded to >= k CODEPOINTS each,
    matching the scalar path; utf-32 decode, one uint32 per character
    — non-ASCII hashes per character exactly like the DuckDB ascii()
    oracle) into one codepoint buffer; the rolling polynomial hash
    runs as k shifted vectorized passes over the whole buffer (no
    (N, k) window materialization, so memory stays O(total chars));
    cross-document windows are masked with a sentinel and per-doc
    minima fall out of one minimum.reduceat. No per-document Python in
    the hash loop — the round-2 constant-factor weakness."""
    n = len(texts)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    bufs = [(t or "").encode("utf-32-le") for t in texts]
    bufs = [b if len(b) >= 4 * k else b + b"\x00" * (4 * k - len(b))
            for b in bufs]
    lens = np.fromiter((len(b) // 4 for b in bufs), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    data = np.frombuffer(b"".join(bufs), dtype=np.uint32).astype(np.int64)
    total = offsets[-1]

    powers = np.empty(k, dtype=np.int64)
    powers[0] = 1
    for i in range(1, k):
        powers[i] = (powers[i - 1] * FP_BASE) % FP_MOD
    # h(s) = (sum_d c_{s+d} * base^(k-1-d)) mod p as k shifted adds;
    # codepoint*power < 2^52 and the running value < 2^31 + 2^52, so
    # int64 arithmetic is exact and the residue equals the scalar path's
    n_win = int(total - k + 1)
    acc = np.zeros(n_win, dtype=np.int64)
    for d in range(k):
        acc = (acc + data[d:d + n_win] * powers[k - 1 - d]) % FP_MOD
    # window start s belongs to doc i iff it does not cross into the
    # next doc: (s - offsets[i]) <= lens[i] - k
    doc_idx = np.repeat(np.arange(n), lens)[:n_win]
    pos = np.arange(n_win, dtype=np.int64) - offsets[doc_idx]
    full = np.full(int(total), FP_MOD, dtype=np.int64)  # sentinel > any hash
    full[:n_win] = np.where(pos <= lens[doc_idx] - k, acc, FP_MOD)
    return np.minimum.reduceat(full, offsets[:-1])


def with_fingerprint(docs: DataFrame, text_col: str = "text", k: int = 8) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            res = pdf.copy()
            res["fingerprint"] = fingerprint_batch(list(pdf[text_col]), k)
            yield res

    schema = ", ".join(f"{n} {t}" for n, t in docs.dtypes) + ", fingerprint long"
    return docs.mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# Real BPE token counting (merges-table byte-pair encoding)
# ---------------------------------------------------------------------------

#: Deterministic merges table: rank-ordered, every component is a base
#: character or the product of an EARLIER merge (the "learned order"
#: property real BPE tables have). Under that property, applying the
#: merges in rank order — each as one greedy left-to-right fold — is
#: EXACTLY the classic lowest-rank-first BPE tokenization: merging
#: rank k can only create pairs whose merge rank is > k, so no earlier
#: rank ever becomes applicable again. Vocabulary is [a-z ]; input is
#: lowercased and stripped to that alphabet first, and space never
#: appears in a merge, so merges cannot cross words.
BPE_MERGES: tuple = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("o", "n"),
    ("e", "r"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("s", "t"), ("e", "s"), ("an", "d"), ("in", "g"), ("t", "o"),
    ("o", "u"), ("i", "t"), ("i", "s"), ("a", "l"), ("l", "e"),
    ("c", "o"), ("d", "e"), ("r", "o"), ("ro", "w"),
)


def _bpe_resolve_ids(merges) -> list:
    """(id_a, id_b, merged_id) per rank; base chars use their byte
    value, merge r produces id 256 + r. Validates the learned-order
    property BPE_MERGES documents."""
    ids: dict = {}
    out = []
    for r, (a, b) in enumerate(merges):
        pair = []
        for comp in (a, b):
            if len(comp) == 1:
                pair.append(ord(comp))
            elif comp in ids:
                pair.append(ids[comp])
            else:
                raise ValueError(
                    f"BPE merge {r} component {comp!r} is neither a "
                    f"single character nor the product of an earlier "
                    f"merge — the table must be rank-ordered")
        if a + b in ids:
            raise ValueError(f"duplicate merge product {a + b!r}")
        ids[a + b] = 256 + r
        out.append((pair[0], pair[1], 256 + r))
    return out


def bpe_tokenize_scalar(text: str, merges=BPE_MERGES) -> list:
    """Pure-Python reference mirror of the BPE count (unit-test
    oracle): clean to [a-z ], then one greedy left fold per merge
    rank; space tokens are separators, not tokens."""
    import re as _re
    clean = _re.sub("[^a-z ]", "", (text or "").lower())
    toks = list(clean)
    for a, b in merges:
        out = []
        for t in toks:
            if out and out[-1] == a and t == b:
                out[-1] = a + b
            else:
                out.append(t)
        toks = out
    return [t for t in toks if t != " "]


def _bpe_count_batch(texts, merges) -> np.ndarray:
    """Vectorized BPE token counts for a batch: all cleaned docs
    concatenate into one symbol array (byte codes; merge r writes
    256 + r), and each merge rank is one vectorized pass — candidate
    positions, an every-other filter inside consecutive-candidate runs
    (the left-fold parity for a==b chains), scatter the merged id,
    compact. No per-document Python."""
    N = len(texts)
    if N == 0:
        return np.zeros(0, dtype=np.int64)
    sym, doc = _bpe_merge_batch(texts, merges)
    return np.bincount(doc[sym != 32], minlength=N).astype(np.int64)


def bpe_token_count(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    merges=BPE_MERGES) -> DataFrame:
    """Token-budget counting with a REAL merges-table BPE tokenizer
    (not the regex proxy token_count_bpe keeps for the cheap signal):
    returns (doc_id, n_tokens). Deterministic, rank-ordered greedy
    merging over the cleaned [a-z ] alphabet — the exact semantics a
    DuckDB oracle reproduces as nested char-split + list_reduce folds
    (one fold per merge rank; merged token text is the concatenation,
    so a fold step is 'drop the delimiter'). NULL/empty text counts 0.
    Arrow-batched vectorized kernel; SQL-oracled end to end."""
    id_type = dict(docs.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            clean = (pdf[text_col].fillna("").str.lower()
                     .str.replace("[^a-z ]", "", regex=True))
            yield pd.DataFrame({
                "doc_id": pdf[id_col].to_numpy(),
                "n_tokens": _bpe_count_batch(list(clean), merges),
            })

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema=f"doc_id {id_type}, n_tokens bigint")


def bpe_tokenize(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 merges=BPE_MERGES) -> DataFrame:
    """Full BPE tokenization (not just counts): returns (doc_id,
    tokens) where ``tokens`` is the '|'-delimited token stream over
    the cleaned [a-z ] alphabet — single-space tokens included, so
    the string is EXACTLY the left-fold state the DuckDB oracle's
    nested list_reduce computes, giving an exact-string oracle of the
    tokenizer itself. Same vectorized kernel as bpe_token_count; the
    id->token-text table is closed over the merges."""
    id_type = dict(docs.dtypes)[id_col]
    tok_table = np.array([chr(i) for i in range(256)]
                         + [a + b for a, b in merges], dtype=object)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            clean = (pdf[text_col].fillna("").str.lower()
                     .str.replace("[^a-z ]", "", regex=True))
            sym, doc = _bpe_merge_batch(list(clean), merges)
            parts = pd.Series(tok_table[sym])
            joined = parts.groupby(doc).agg("|".join)
            out = joined.reindex(range(len(pdf)), fill_value="")
            yield pd.DataFrame({
                "doc_id": pdf[id_col].to_numpy(),
                "tokens": out.to_numpy(),
            })

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema=f"doc_id {id_type}, tokens string")


def _bpe_merge_batch(texts, merges):
    """(symbol ids, doc index) after applying every merge rank — the
    shared core of bpe_token_count/bpe_tokenize (ids: byte value for
    chars, 256 + rank for merge products)."""
    N = len(texts)
    if N == 0:
        return (np.zeros(0, dtype=np.int32), np.zeros(0, dtype=np.int64))
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=N)
    buf = "".join(texts).encode("ascii")
    sym = np.frombuffer(buf, dtype=np.uint8).astype(np.int32)
    doc = np.repeat(np.arange(N, dtype=np.int64), lens)
    for ia, ib, im in _bpe_resolve_ids(merges):
        if sym.size < 2:
            break
        cand = np.nonzero((sym[:-1] == ia) & (sym[1:] == ib)
                          & (doc[:-1] == doc[1:]))[0]
        if cand.size == 0:
            continue
        if cand.size > 1:
            run_break = np.concatenate([[True], np.diff(cand) > 1])
            run_start = np.nonzero(run_break)[0]
            offset = np.arange(cand.size) - run_start[
                np.cumsum(run_break) - 1]
            cand = cand[offset % 2 == 0]
        sym[cand] = im
        mask = np.ones(sym.size, dtype=bool)
        mask[cand + 1] = False
        sym = sym[mask]
        doc = doc[mask]
    return sym, doc


def _md5_uniform(id_col: str, salt: str):
    """u(id, salt) in [0, 1): first 60 bits of md5(id || ':' || salt)
    over 2^60 — the shared deterministic-uniform of
    deterministic_split and stratified_sample (one definition, one
    DuckDB mirror)."""
    return (F.expr(f"cast(conv(substring(md5(concat(cast({id_col} as "
                   f"string), ':{salt}')), 1, 15), 16, 10) as bigint)")
            / F.lit(float(1 << 60)))


def stratified_sample(df: DataFrame, fractions: dict,
                      strata_col: str = "lang", id_col: str = "doc_id",
                      salt: str = "s1", default: float = 0.0) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling for corpus
    curation (downsample boilerplate-heavy sources/languages, keep
    rare strata whole): a row is kept iff u(id, salt) <
    fraction[stratum]. u is the same md5-uniform as
    deterministic_split — a pure function of (id, salt), so samples
    are replayable, partition/cluster-order independent, and MONOTONE
    in the fraction (raising a stratum's rate only adds rows, never
    reshuffles the kept set — the property rand()-sampling lacks).
    Strata absent from ``fractions`` use ``default``. Row-local
    Catalyst exprs, no shuffle; SQL-oracled."""
    for k, v in fractions.items():
        if not 0.0 <= float(v) <= 1.0:
            raise ValueError(f"fraction for stratum {k!r} must be in "
                             f"[0, 1], got {v}")
    u = _md5_uniform(id_col, salt)
    frac = F.lit(float(default))
    for k in sorted(fractions):
        frac = F.when(F.col(strata_col) == k,
                      F.lit(float(fractions[k]))).otherwise(frac)
    return df.where(u < frac)


def pack_sequences(docs: DataFrame, budget: int, id_col: str = "doc_id",
                   text_col: str = "text", tokens_col: str | None = None,
                   count_col: str | None = None,
                   partitions: int = 64) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents ordered
    by id concatenate into one global token stream that is cut at
    fixed ``budget`` boundaries — a document may SPAN sequences, the
    standard LLM-pretraining packing (no first-fit waste). Returns
    (doc_id, n_tokens, global_start, seq_id, seq_offset, n_seqs):
    seq_id/seq_offset locate the doc's first token; n_seqs is how many
    training sequences it touches.

    The global exclusive cumsum is scanpar.range_rank with the token
    count as weight — no single-partition window, so the plan holds at
    corpus scale; the driver sees one sum per partition.
    Deterministic: a pure function of the (id -> n_tokens) mapping
    when ids are unique (the expected shape); duplicate ids still pack
    without overlap (ROWS frame) but their relative order is
    tie-broken arbitrarily. SQL-oracled (DuckDB window cumsum over the
    same order)."""
    if budget <= 0:
        raise ValueError("pack_sequences: budget must be positive")
    if count_col:                      # precomputed per-row size
        n_tok = F.col(count_col).cast("long")
    elif tokens_col:
        n_tok = F.size(F.col(tokens_col)).cast("long")
    else:
        n_tok = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")),
                               " ")).cast("long")
    out, _ = scanpar.range_rank(
        docs.select(F.col(id_col).alias("doc_id"), n_tok.alias("n_tokens")),
        "doc_id", weight="n_tokens", partitions=partitions)
    out = out.withColumnRenamed("_rank", "global_start")
    b = int(budget)
    return out.select(
        "doc_id", "n_tokens", "global_start",
        F.expr(f"global_start div {b}").alias("seq_id"),
        F.pmod("global_start", F.lit(b)).cast("long").alias("seq_offset"),
        F.when(F.col("n_tokens") > 0,
               F.expr(f"(global_start + n_tokens - 1) div {b}")
               - F.expr(f"global_start div {b}") + F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("n_seqs"))


def train_bpe_merges_scalar(texts, n_merges: int = 32,
                            min_count: int = 2):
    """Pure-Python BPE trainer (the unit-test mirror of
    train_bpe_merges): greedy highest-count adjacent pair per round,
    ties broken by the (left, right) token strings ascending; space
    never participates. Returns the rank-ordered merges tuple."""
    import re as _re
    cleans = [_re.sub("[^a-z ]", "", (t or "").lower()) for t in texts]
    merges: list = []
    for _ in range(n_merges):
        counts: dict = {}
        for c in cleans:
            toks = list(c)
            for a, b in merges:
                out = []
                for t in toks:
                    if out and out[-1] == a and t == b:
                        out[-1] = a + b
                    else:
                        out.append(t)
                toks = out
            for x, y in zip(toks, toks[1:]):
                if x != " " and y != " ":
                    counts[(x, y)] = counts.get((x, y), 0) + 1
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < min_count:
            break
        merges.append(best)
    return tuple(merges)


def train_bpe_merges(docs: DataFrame, n_merges: int = 32,
                     min_count: int = 2, id_col: str = "doc_id",
                     text_col: str = "text"):
    """DISTRIBUTED BPE training: learn the merges table from the
    corpus itself. Each round is one mapInPandas pass — partitions
    re-derive the current symbol sequences with the batch merge kernel
    (_bpe_merge_batch over the merges learned so far) and emit packed
    adjacent-pair counts (space never pairs); a groupBy-sum reduces
    them and the driver picks the globally highest-count pair, ties
    broken by the (left, right) token strings ascending. Stops early
    below ``min_count``. O(n_merges) corpus passes — the standard
    trainer shape (incremental pair maintenance is the known
    optimization, out of scope); per-pass output is bounded by the
    vocabulary squared, never corpus-sized.

    The learned table satisfies the learned-order property BY
    CONSTRUCTION (every product is built from chars or earlier
    products), so it plugs straight into bpe_token_count /
    bpe_tokenize — and their DuckDB oracles. Equal to the scalar
    trainer on the same corpus (tested)."""
    tok_str = {i: chr(i) for i in range(256)}
    merges: list = []
    src = docs.select(F.col(text_col).alias("_t"))
    for rank in range(n_merges):
        m = tuple(merges)

        def partial(batches: Iterator[pd.DataFrame],
                    m: tuple = m) -> Iterator[pd.DataFrame]:
            acc: dict = {}
            for pdf in batches:
                clean = (pdf["_t"].fillna("").str.lower()
                         .str.replace("[^a-z ]", "", regex=True))
                sym, doc = _bpe_merge_batch(list(clean), m)
                if sym.size < 2:
                    continue
                ok = ((doc[:-1] == doc[1:])
                      & (sym[:-1] != 32) & (sym[1:] != 32))
                packed = (sym[:-1][ok].astype(np.int64) * 4096
                          + sym[1:][ok])
                u, c = np.unique(packed, return_counts=True)
                for p, n in zip(u, c):
                    acc[int(p)] = acc.get(int(p), 0) + int(n)
            yield pd.DataFrame({"pair": list(acc.keys()),
                                "cnt": list(acc.values())})

        rows = (src.mapInPandas(partial, schema="pair long, cnt long")
                .groupBy("pair").agg(F.sum("cnt").alias("cnt")).collect())
        if not rows:
            break
        best = min(rows, key=lambda r: (
            -r["cnt"], tok_str[r["pair"] // 4096], tok_str[r["pair"] % 4096]))
        if best["cnt"] < min_count:
            break
        a = tok_str[best["pair"] // 4096]
        b = tok_str[best["pair"] % 4096]
        merges.append((a, b))
        tok_str[256 + rank] = a + b
    return tuple(merges)


def _window_hash_rows(texts, k: int, base: int = FP_BASE,
                      mod: int = FP_MOD, with_pos: bool = False,
                      pad: bool = True):
    """(doc_idx, hash[, pos]) for every k-CHARACTER rolling-hash
    window of each text — fingerprint_batch's buffer machinery without
    the min fold: with ``pad`` docs zero-pad to >= k codepoints (so
    every doc has >= 1 window; ``pad=False`` skips short docs
    instead), and cross-document windows are masked out. Exact
    modular arithmetic over codepoints (utf-32 decode) — identical
    values to the DuckDB ascii/power mirror on any text, ASCII or
    not, and consistent with the engine's character-based n_windows
    (round-5 ADVICE). ``base``/``mod`` select the hash lane (any
    prime mod < 2^31 keeps codepoint*power products < 2^52,
    int64-exact)."""
    n = len(texts)
    empty = np.empty(0, dtype=np.int64)
    if n == 0:
        return (empty, empty, empty) if with_pos else (empty, empty)
    bufs = [(t or "").encode("utf-32-le") for t in texts]
    if pad:
        bufs = [b if len(b) >= 4 * k else b + b"\x00" * (4 * k - len(b))
                for b in bufs]
    lens = np.fromiter((len(b) // 4 for b in bufs), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    data = np.frombuffer(b"".join(bufs), dtype=np.uint32).astype(np.int64)
    total = offsets[-1]
    powers = np.empty(k, dtype=np.int64)
    powers[0] = 1
    for i in range(1, k):
        powers[i] = (powers[i - 1] * base) % mod
    n_win = int(total - k + 1)
    if n_win <= 0:
        return (empty, empty, empty) if with_pos else (empty, empty)
    acc = np.zeros(n_win, dtype=np.int64)
    for d in range(k):
        acc = (acc + data[d:d + n_win] * powers[k - 1 - d]) % mod
    doc_idx = np.repeat(np.arange(n), lens)[:n_win]
    pos = np.arange(n_win, dtype=np.int64) - offsets[doc_idx]
    ok = pos <= lens[doc_idx] - k
    if with_pos:
        return doc_idx[ok], acc[ok], pos[ok]
    return doc_idx[ok], acc[ok]


def duplicated_span_stats(docs: DataFrame, k: int = 16,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Cross-document duplicated-substring signal (the Lee-et-al-style
    boilerplate detector a dedup pipeline runs alongside MinHash):
    every k-character window's rolling hash, a window counts as DUPLICATED
    when its hash occurs in >= 2 distinct documents, and each doc
    reports (n_windows, n_dup_windows, dup_fraction) — high fractions
    mark templated/boilerplate text that document-level near-dup
    misses. Returns one row per doc. SQL-oracled end to end (the
    window hash is the fingerprint oracle's exact M31 polynomial).

    Cost is honest substring-level dedup cost: the window table is
    O(corpus bytes) and shuffles once on the hash (the groupBy) and
    once back (the join) — same asymptotics as a suffix-automaton
    pass, fully distributed. The window table is checkpointed (it
    feeds the dup-hash aggregation AND the join). Short docs zero-pad
    to one window (two empty docs are mutual duplicates — correct:
    empty text is the ultimate boilerplate)."""
    id_type = dict(docs.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            di, h = _window_hash_rows(list(pdf[text_col]), k)
            yield pd.DataFrame({
                "doc_id": pdf[id_col].to_numpy()[di],
                "_h": h})

    windows = docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema=f"doc_id {id_type}, _h long") \
        .localCheckpoint(eager=True)
    dup_hashes = (windows.dropDuplicates(["_h", "doc_id"])
                  .groupBy("_h").count().where(F.col("count") > 1)
                  .select("_h"))
    dup_counts = (windows.join(dup_hashes, on="_h")
                  .groupBy("doc_id")
                  .agg(F.count("*").cast("bigint").alias("n_dup_windows"))
                  .withColumnRenamed("doc_id", "_did"))
    n_win = F.greatest(
        F.length(F.coalesce(F.col(text_col), F.lit(""))) - (k - 1),
        F.lit(1)).cast("bigint")
    base = docs.select(F.col(id_col).alias("doc_id"),
                       n_win.alias("n_windows"))
    out = base.join(dup_counts,
                    on=base["doc_id"] == dup_counts["_did"], how="left") \
        .drop("_did") \
        .withColumn("n_dup_windows",
                    F.coalesce(F.col("n_dup_windows"), F.lit(0))) \
        .withColumn("dup_fraction",
                    F.col("n_dup_windows").cast("double")
                    / F.col("n_windows"))
    return out


# ---------------------------------------------------------------------------
# Character-bigram language-model quality scoring (CCNet-style
# perplexity filtering, Wenzek et al. 2020 — the classic web-corpus
# quality gate: score each document under a LM trained on a clean
# reference corpus and drop the high-perplexity tail). A char-BIGRAM
# model keeps training a bounded aggregation (alphabet^2 rows) and
# scoring a broadcast lookup — the Spark-shaped stand-in for the
# KenLM 5-gram the original uses; the dataflow (distributed count ->
# driver-sized model -> broadcast score) is the production shape.
# ---------------------------------------------------------------------------

#: Unicode codepoint space bound used to pack (a, b) bigram keys.
_LM_CP = 0x110000
#: log-probabilities quantize to this dyadic grid so per-document sums
#: are EXACT integers-in-double (order-free: any summation order gives
#: identical bits, which is what lets a plain SQL SUM() mirror the
#: Arrow kernel bit-for-bit). Error per transition <= 2^-21 — noise at
#: quality-filter resolution.
_LM_QUANT = 1 << 20


def _char_pairs_batch(texts):
    """(a, b, cnt) codepoint-bigram partial counts for one Arrow batch:
    utf-32 concatenation, one shifted-pair view, cross-document pairs
    masked, np.unique on packed keys. No per-document Python."""
    bufs = [(t or "").encode("utf-32-le") for t in texts]
    lens = np.fromiter((len(b) // 4 for b in bufs), dtype=np.int64,
                       count=len(bufs))
    data = np.frombuffer(b"".join(bufs), dtype=np.uint32).astype(np.int64)
    n = int(data.size)
    if n < 2:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.int64))
    offsets = np.concatenate([[0], np.cumsum(lens)])
    valid = np.ones(n - 1, dtype=bool)
    last = offsets[1:-1] - 1          # last char of each doc but the final
    last = last[(last >= 0) & (last < n - 1)]
    valid[last] = False
    key = data[:-1][valid] * _LM_CP + data[1:][valid]
    u, c = np.unique(key, return_counts=True)
    return u // _LM_CP, u % _LM_CP, c.astype(np.int64)


def char_bigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed LM training pass: codepoint-bigram counts over the
    corpus — Arrow-batched partial counts (one shifted-pair scan per
    batch, bounded by the batch's distinct bigrams) merged by ONE
    map-side-combined groupBy; output bounded by alphabet^2, never by
    corpus size. SQL-oracled hash-exact (the oracle re-derives pairs
    via ascii(substr) per position — codepoints, matching the utf-32
    kernel on any text). Returns (a, b, cnt)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            a, b, c = _char_pairs_batch(list(pdf[text_col]))
            yield pd.DataFrame({"a": a, "b": b, "cnt": c})

    return docs.select(text_col).mapInPandas(
        gen, schema="a long, b long, cnt long") \
        .groupBy("a", "b").agg(F.sum("cnt").alias("cnt"))


def char_bigram_model(counts: pd.DataFrame, alpha: float = 1.0) -> dict:
    """Driver-side model build from (a, b, cnt) counts (alphabet^2
    rows — driver-sized by construction): add-alpha (Laplace)
    conditional log-probs with an OOV successor bucket per context and
    a uniform fallback for unseen contexts:

        p(b|a)   = (cnt(a,b) + alpha) / (tot(a) + alpha * (V + 1))
        p(oov|a) =          alpha     / (tot(a) + alpha * (V + 1))
        p(.|a unseen) = 1 / (V + 1)

    with V = distinct observed successors. All log-probs quantize to
    the 2^-20 dyadic grid (_LM_QUANT) so document scores sum exactly
    and order-free. Returns {"pairs": (a, b, logp), "ctx": (a, logp),
    "global": float, "V": int}."""
    a = counts["a"].to_numpy(dtype=np.int64)
    b = counts["b"].to_numpy(dtype=np.int64)
    c = counts["cnt"].to_numpy(dtype=np.float64)
    V = int(np.unique(b).size)

    def quant(x):
        return np.round(np.log(x) * _LM_QUANT) / _LM_QUANT

    ctx_ids, inv = np.unique(a, return_inverse=True)
    tot = np.bincount(inv, weights=c)
    denom = tot + alpha * (V + 1)
    pair_logp = quant((c + alpha) / denom[inv])
    ctx_logp = quant(alpha / denom)
    return {
        "pairs": pd.DataFrame({"a": a, "b": b, "logp": pair_logp}),
        "ctx": pd.DataFrame({"a": ctx_ids, "logp": ctx_logp}),
        "global": float(quant(np.asarray(1.0 / (V + 1)))),
        "V": V,
    }


def lm_score(docs: DataFrame, model: dict, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Score every document under a char-bigram model (char_bigram_model):
    sum of transition log-probs, average per transition, and
    perplexity exp(-avg). The model rides the Arrow closure as three
    sorted numpy lookup tables (searchsorted — no Python per char);
    because model log-probs live on the 2^-20 dyadic grid, sum_logp is
    exact and order-free, so the SQL oracle's SUM() matches
    bit-for-bit (avg_logp = one division of exact values; ppl is
    exp() and excluded from the hash surface). Empty/one-char docs
    score (0, 0.0, 1.0). Returns (doc_id, n_transitions, sum_logp,
    avg_logp, ppl)."""
    pairs = model["pairs"]
    pk = (pairs["a"].to_numpy(dtype=np.int64) * _LM_CP
          + pairs["b"].to_numpy(dtype=np.int64))
    order = np.argsort(pk)
    pk = pk[order]
    pv = pairs["logp"].to_numpy(dtype=np.float64)[order]
    ck = model["ctx"]["a"].to_numpy(dtype=np.int64)
    corder = np.argsort(ck)
    ck = ck[corder]
    cv = model["ctx"]["logp"].to_numpy(dtype=np.float64)[corder]
    g = float(model["global"])
    id_type = dict(docs.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = list(pdf[text_col])
            bufs = [(t or "").encode("utf-32-le") for t in texts]
            lens = np.fromiter((len(x) // 4 for x in bufs),
                               dtype=np.int64, count=len(bufs))
            data = np.frombuffer(b"".join(bufs), dtype=np.uint32) \
                .astype(np.int64)
            n = int(data.size)
            trans = np.maximum(lens - 1, 0)
            sums = np.zeros(len(bufs), dtype=np.float64)
            if n >= 2:
                offsets = np.concatenate([[0], np.cumsum(lens)])
                valid = np.ones(n - 1, dtype=bool)
                last = offsets[1:-1] - 1
                last = last[(last >= 0) & (last < n - 1)]
                valid[last] = False
                key = data[:-1] * _LM_CP + data[1:]
                lp = np.full(n - 1, g)
                # context fallback first, pair hit overrides
                if ck.size:
                    ci = np.searchsorted(ck, data[:-1])
                    chit = (ci < ck.size) & (ck[np.minimum(ci, ck.size - 1)]
                                             == data[:-1])
                    lp[chit] = cv[ci[chit]]
                if pk.size:
                    pi = np.searchsorted(pk, key)
                    phit = (pi < pk.size) & (pk[np.minimum(pi, pk.size - 1)]
                                             == key)
                    lp[phit] = pv[pi[phit]]
                lp[~valid] = 0.0
                # dyadic-grid values: np.add.reduceat's in-segment
                # order is irrelevant — the sum is exact
                seg = np.add.reduceat(
                    np.concatenate([lp, [0.0]]),
                    np.minimum(offsets[:-1], n - 1))
                seg[trans == 0] = 0.0
                sums = seg
            avg = np.where(trans > 0, sums / np.maximum(trans, 1), 0.0)
            yield pd.DataFrame({
                "doc_id": pdf[id_col].to_numpy(),
                "n_transitions": trans,
                "sum_logp": sums,
                "avg_logp": avg,
                "ppl": np.exp(-avg),
            })

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema=(f"doc_id {id_type}, n_transitions bigint, "
                     f"sum_logp double, avg_logp double, ppl double"))


def perplexity_filter(docs: DataFrame, model: dict,
                      max_avg_nll: float, min_chars: int = 2,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """CCNet-style quality gate: keep documents whose average negative
    log-likelihood per transition under the reference model is at most
    ``max_avg_nll`` (equivalently ppl <= e^max_avg_nll) and that have
    at least ``min_chars`` characters. Returns the kept docs with the
    score columns attached."""
    scored = lm_score(docs, model, text_col, id_col)
    keep = scored.where((F.col("n_transitions") >= min_chars - 1)
                        & (-F.col("avg_logp") <= max_avg_nll)) \
        .select(F.col("doc_id").alias("_kid"), "n_transitions",
                "avg_logp", "ppl")
    return docs.join(keep, on=F.col(id_col) == F.col("_kid"),
                     how="inner").drop("_kid")


# second rolling-hash lane for span identity (62 combined bits: at
# 10^8 corpus windows, expected cross-window collisions ~1e-3 — the
# single 31-bit lane would see thousands)
FP2_BASE = 1000033
FP2_MOD = 2147483629


def _window_hash_rows2(texts, k: int):
    """(doc_idx, packed_h, pos) for every k-character window: BOTH
    rolling-hash lanes from ONE utf-32 decode of the batch, packed as
    h1 * FP2_MOD + h2 (< 2^62, int64-exact). Bit-identical to calling
    _window_hash_rows once per lane (pinned by
    tests/test_text_ops.py::test_window_hash_rows2_matches_two_pass)
    but half the decode/concat work — the decode was the dominant
    per-batch cost of the span scan (round-8 A/B in
    OPTIMIZATION_r08.md). Short docs (< k codepoints) contribute
    nothing (pad=False semantics)."""
    n = len(texts)
    empty = np.empty(0, dtype=np.int64)
    if n == 0:
        return empty, empty, empty
    bufs = [(t or "").encode("utf-32-le") for t in texts]
    lens = np.fromiter((len(b) // 4 for b in bufs), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    data = np.frombuffer(b"".join(bufs), dtype=np.uint32).astype(np.int64)
    total = offsets[-1]
    n_win = int(total - k + 1)
    if n_win <= 0:
        return empty, empty, empty
    pw1 = np.empty(k, dtype=np.int64)
    pw2 = np.empty(k, dtype=np.int64)
    pw1[0] = pw2[0] = 1
    for i in range(1, k):
        pw1[i] = (pw1[i - 1] * FP_BASE) % FP_MOD
        pw2[i] = (pw2[i - 1] * FP2_BASE) % FP2_MOD
    acc1 = np.zeros(n_win, dtype=np.int64)
    acc2 = np.zeros(n_win, dtype=np.int64)
    for d in range(k):
        seg = data[d:d + n_win]
        acc1 = (acc1 + seg * pw1[k - 1 - d]) % FP_MOD
        acc2 = (acc2 + seg * pw2[k - 1 - d]) % FP2_MOD
    doc_idx = np.repeat(np.arange(n), lens)[:n_win]
    pos = np.arange(n_win, dtype=np.int64) - offsets[doc_idx]
    ok = pos <= lens[doc_idx] - k
    return doc_idx[ok], acc1[ok] * FP2_MOD + acc2[ok], pos[ok]


def duplicated_span_windows(docs: DataFrame, k: int = 16,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """(id_col, pos, h) for every k-character window, h = the packed
    two-lane rolling hash (h1 * FP2_MOD + h2 < 2^62, int64-exact).
    Docs shorter than k contribute nothing (removal never truncates a
    doc that cannot contain a full span). The shared scan of the
    span-removal pipeline."""
    id_type = dict(docs.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            di, h, pos = _window_hash_rows2(list(pdf[text_col]), k)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy()[di],
                "pos": pos,
                "h": h,
            })

    # fan_out: the hash kernel is row-local, so spreading a
    # single-row-group scan across the cluster changes nothing but the
    # task count (no-op on wide scans — see functions/scanpar.py)
    src = scanpar.fan_out(docs.select(F.col(id_col), F.col(text_col)),
                          key=id_col)
    return src.mapInPandas(
        gen, schema=f"{id_col} {id_type}, pos long, h long")


def _duplicated_span_marks(docs: DataFrame, k: int = 16,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           within_doc: bool = False) -> DataFrame:
    """(id_col, pos) of every NON-CANONICAL duplicated window — the
    shared discovery pass of duplicated_span_intervals and
    remove_duplicated_spans (which merges marks kernel-side without
    the intervals' gaps-and-islands windows).

    Round-8 rewrite (plan diff in plans/r08/): the old
    min(struct(id, pos)) + count_distinct(id) aggregation planned as
    a SortAggregate chain with TWO exchanges and full sorts of the
    window table, followed by a join back onto a checkpointed copy of
    it. The dup test is equivalently min(id) != max(id) (>= 2
    distinct docs) or count(*) >= 2 (within_doc), the canonical
    occurrence's pos is min_by(pos, struct(id, pos)) ((id, pos) is
    unique per row, so no tie ambiguity), and computing all four as
    WINDOW aggregates over partitionBy(h) lets every row test itself
    in the SAME pass — ONE exchange of the window table, one
    partition sort, no checkpoint, no join-back, the corpus scanned
    exactly once. Outputs bit-identical (span_intervals/span_removal
    hash-green at both driver scales)."""
    w = duplicated_span_windows(docs, k, id_col, text_col)
    hw = Window.partitionBy("h")
    dup_test = (F.count("*").over(hw) >= 2) if within_doc \
        else (F.min(id_col).over(hw) != F.max(id_col).over(hw))
    canonical = (
        (F.col(id_col) == F.min(id_col).over(hw))
        & (F.col("pos")
           == F.min_by("pos", F.struct(id_col, "pos")).over(hw)))
    # window exprs must be projected before they can be filtered on
    return w.select(id_col, "pos",
                    (dup_test & ~canonical).alias("_mark")) \
        .where(F.col("_mark")).select(id_col, "pos")


def duplicated_span_intervals(docs: DataFrame, k: int = 16,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              within_doc: bool = False) -> DataFrame:
    """Merged removal intervals of the exact substring-dedup pass
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — remove all but one occurrence of duplicated
    substrings): a window is duplicated when its two-lane hash occurs
    in >= 2 distinct docs (default cross-document rule), or >= 2
    times anywhere including inside one doc (``within_doc=True``,
    the paper's full rule — collapses internal boilerplate runs too);
    the occurrence with the smallest (doc_id, pos) is CANONICAL and
    stays; every other occurrence marks [pos, pos+k) for removal;
    per-doc marks merge into maximal intervals (0-based, half-open).
    Hash-exact SQL oracle: dup + canonical are window aggregations,
    the merge is gaps-and-islands — all integers.

    Shape: one window scan (O(corpus chars) rows), one hash shuffle
    for the dup/canonical aggregation, one join back, one per-doc
    merge — the honest substring-dedup cost, fully distributed.
    Returns (doc_id, start, end)."""
    marked = _duplicated_span_marks(docs, k, id_col, text_col,
                                    within_doc)
    # gaps-and-islands entirely in Catalyst: a new island starts when
    # pos exceeds the running max end of earlier marks
    win = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max(F.col("pos") + k).over(
        win.rowsBetween(Window.unboundedPreceding, -1))
    isl = marked.select(id_col, "pos") \
        .withColumn("_new", F.when(
            prev_max.isNull() | (F.col("pos") > prev_max), 1).otherwise(0)) \
        .withColumn("_isl", F.sum("_new").over(
            win.rowsBetween(Window.unboundedPreceding, 0)))
    return isl.groupBy(id_col, "_isl").agg(
        F.min("pos").alias("start"),
        (F.max("pos") + k).alias("end")) \
        .select(id_col, "start", "end")


def remove_duplicated_spans(docs: DataFrame, k: int = 16,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            within_doc: bool = False) -> DataFrame:
    """Apply duplicated_span_intervals: cut every removal interval out
    of the text (the canonical occurrence elsewhere keeps the
    content), returning (id_col, text_clean, n_spans_removed,
    n_chars_removed). Docs with no marks pass through byte-identical.
    The cut itself is SQL-expressible (string_agg of the kept
    complement segments), so the whole operator is hash-exact against
    DuckDB. Character (codepoint) semantics throughout.

    A/B history: the round-6 per-document cogroup cut ran 8.33s at
    sf0.1 (full corpus shuffled by doc_id, one Python group per doc);
    round 7's interval-list broadcast-join + row-local mapInPandas
    cut that to ~4s; round 8 merges the marks INSIDE the cut kernel
    (one sorted position list per doc — the same sweep the intervals'
    gaps-and-islands windows compute, so the cut is bit-identical)
    which drops the two Window passes + island aggregation from the
    plan entirely. The corpus text still never crosses a shuffle:
    the mark-list table is ~marked-docs-sized and AQE broadcasts it."""
    marks = _duplicated_span_marks(docs, k, id_col, text_col,
                                   within_doc=within_doc) \
        .select(F.col(id_col).alias("_iid"), "pos")
    id_type = dict(docs.dtypes)[id_col]
    magg = marks.groupBy("_iid").agg(
        F.sort_array(F.collect_list("pos")).alias("_mpos"))
    # fan_out the docs side (round-8): the cut kernel below is
    # row-local and the mark-list side broadcasts, so a single-row-group
    # scan would otherwise run the whole cut in ONE task
    joined = scanpar.fan_out(docs.select(id_col, text_col), key=id_col) \
        .join(magg, on=F.col(id_col) == F.col("_iid"), how="left") \
        .drop("_iid")
    kk = int(k)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col]
            pos_col = pdf["_mpos"]
            clean = []
            n_sp = np.zeros(len(pdf), dtype=np.int32)
            n_ch = np.zeros(len(pdf), dtype=np.int32)
            for i, (t, ps) in enumerate(zip(texts, pos_col)):
                t = t or ""
                if ps is None or len(ps) == 0:
                    clean.append(t)
                    continue
                # merge sorted mark positions into maximal [s, e)
                # intervals (identical to the gaps-and-islands rule:
                # ascending positions, so the running max end is just
                # the previous position + k) and cut in one sweep
                pieces = []
                cursor = 0
                removed = 0
                nsp = 0
                cur_s = cur_e = None
                for p in ps:
                    p = int(p)
                    if cur_e is None:
                        cur_s, cur_e = p, p + kk
                    elif p > cur_e:
                        pieces.append(t[cursor:cur_s])
                        removed += cur_e - cur_s
                        cursor = cur_e
                        nsp += 1
                        cur_s, cur_e = p, p + kk
                    else:
                        cur_e = p + kk
                pieces.append(t[cursor:cur_s])
                removed += cur_e - cur_s
                cursor = cur_e
                nsp += 1
                pieces.append(t[cursor:])
                clean.append("".join(pieces))
                n_sp[i] = nsp
                n_ch[i] = removed
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "text_clean": clean,
                "n_spans_removed": n_sp,
                "n_chars_removed": n_ch,
            })

    return joined.mapInPandas(
        gen, schema=(f"{id_col} {id_type}, text_clean string, "
                     f"n_spans_removed int, n_chars_removed int"))


# ---------------------------------------------------------------------------
# training-order shuffle + temperature mixture sampling
# ---------------------------------------------------------------------------


def deterministic_shuffle(docs: DataFrame, salt: str = "sh1",
                          id_col: str = "doc_id",
                          partitions: int = 64) -> DataFrame:
    """Global deterministic training-order shuffle: every row gets a
    dense rank 0..N-1 in md5(id || ':' || salt) order — the replayable
    "global shuffle then stream sequentially" step of an LLM data
    pipeline (re-salting re-shuffles; the same salt always reproduces
    the same order, independent of partitioning or cluster size).

    Rank assignment is scanpar.range_rank on the shuffle key — no
    single-partition window anywhere, so the plan is one range
    exchange at any scale (which a global permutation genuinely
    requires; consumers that only need *an* order, not ranks, can
    skip ranks and range-read by shuffle_key directly).
    Returns (id, shuffle_key, shuffle_rank); ties on the 128-bit key
    are broken by id. SQL-oracled."""
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}")))
    ranked, _ = scanpar.range_rank(
        docs.select(F.col(id_col), key.alias("shuffle_key")),
        ["shuffle_key", id_col], partitions=partitions)
    return ranked.select(id_col, "shuffle_key",
                         F.col("_rank").alias("shuffle_rank"))


def temperature_mixture_sample(docs: DataFrame, alpha: float = 0.5,
                               target_frac: float = 0.5,
                               source_col: str = "source",
                               id_col: str = "doc_id",
                               salt: str = "mix1") -> DataFrame:
    """Exponent-smoothed domain mixture sampling (the multilingual
    rebalancing rule of mBERT / XLM-R, Devlin et al. 2019 /
    Conneau et al. 2020): domain d with n_d rows gets target share
    proportional to n_d^alpha, which UP-weights small domains relative
    to their raw frequency (alpha < 1). Each row is kept i.i.d. and
    deterministically — keep iff u(id, salt) < p_d with
    p_d = min(1, target_total * share_d / n_d) — so the sample is
    replayable and monotone in target_frac, like stratified_sample.

    One count aggregate (#domains rows to the driver — domains are
    categorically small; this is the bounded-collect pattern), then a
    row-local Catalyst gate: no shuffle of the corpus itself.

    alpha=0.5 computes via math.sqrt / SQL SQRT — IEEE-correctly
    rounded on both engines, so p_d is bit-identical and the operator
    is hash-hard-oracleable. Other alphas go through pow(), which is
    not guaranteed correctly rounded cross-engine (last-ulp risk on a
    keep decision only when u lands within ~1e-16 of p_d).

    Returns (id, source, p_keep, keep) for every row — downstream
    filters on ``keep``."""
    import math

    counts = {r["s"]: int(r["n"]) for r in
              docs.groupBy(F.col(source_col).alias("s"))
                  .agg(F.count("*").alias("n")).collect()}
    if not counts:
        return docs.select(
            F.col(id_col), F.col(source_col).alias("source"),
            F.lit(0.0).alias("p_keep"), F.lit(False).alias("keep"))

    def smooth(n: int) -> float:
        return math.sqrt(n) if alpha == 0.5 else float(n) ** alpha

    total = sum(counts.values())
    target_total = float(target_frac) * total
    # fold the normalizer in sorted-source order: bit-reproducible in
    # the SQL mirror (list_sum over the same ordered list)
    denom = 0.0
    for s in sorted(counts):
        denom += smooth(counts[s])
    p = {s: min(1.0, target_total * (smooth(n) / denom) / n)
         for s, n in counts.items()}

    u = _md5_uniform(id_col, salt)
    p_col = F.lit(0.0)
    for s in sorted(p):
        p_col = F.when(F.col(source_col) == s, F.lit(p[s])).otherwise(p_col)
    return docs.select(
        F.col(id_col), F.col(source_col).alias("source"),
        p_col.alias("p_keep"), (u < p_col).alias("keep"))


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A1.1)
# ---------------------------------------------------------------------------

# the paper's required-word list: a document must contain >= 2 of these
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and",
                         "that", "have", "with")
GOPHER_BULLETS = ("- ", "* ", "•")


def gopher_quality_filter(docs: DataFrame, min_words: int = 50,
                          max_words: int = 100000,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021 App. A1.1
    — the MassiveWeb filter reused by Chinchilla, RefinedWeb and
    FineWeb): per-rule booleans + the AND gate, one row per document.

    Rules, all integerized so every test is exact integer arithmetic
    (ratio thresholds become cross-multiplications — no float ratio
    ever exists, so the DuckDB oracle is hash-hard by construction):

    - ok_word_count:  min_words <= n_words <= max_words
    - ok_mean_len:    mean word length in [3, 10]
                      == 3*n_words <= n_nospace <= 10*n_words
    - ok_symbol:      (#'#' chars + #'...' occurrences) / n_words <= .1
                      == 10*n_sym <= n_words
    - ok_bullet:      <= 90% of lines start with a bullet
                      == 10*n_bullet <= 9*n_lines
    - ok_ellipsis:    <= 30% of lines end with '...'
                      == 10*n_ell <= 3*n_lines
    - ok_alpha:       >= 80% of words contain an alphabetic char
                      == 10*n_alpha >= 8*n_words
    - ok_stop:        >= 2 of GOPHER_REQUIRED_WORDS present

    Pure Catalyst projection (split/filter/length — whole-stage
    codegen), zero shuffles, zero UDFs. Words are split on
    space-or-newline and empty tokens dropped; lines split on
    newline. '...' occurrences counted via literal replace (both
    engines scan left-to-right non-overlapping, so '.....'
    counts once in each). Returns (id, n_words, n_lines, the seven
    booleans, keep)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(t, "[ \n]"), lambda w: w != "")
    lines = F.split(t, "\n")
    n_words = F.size(words)
    n_lines = F.size(lines)
    n_nospace = F.aggregate(F.transform(words, F.length),
                            F.lit(0), lambda a, x: a + x)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (F.length(t)
             - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
    n_sym = (n_hash + n_ell).cast("int")
    n_bullet = F.size(F.filter(lines, lambda l: _any_prefix(l, GOPHER_BULLETS)))
    n_ell_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_stop = F.size(F.filter(
        F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS]),
        lambda r: F.array_contains(words, r)))
    ok_word_count = (n_words >= min_words) & (n_words <= max_words)
    ok_mean_len = ((3 * n_words <= n_nospace)
                   & (n_nospace <= 10 * n_words))
    ok_symbol = 10 * n_sym <= n_words
    ok_bullet = 10 * n_bullet <= 9 * n_lines
    ok_ellipsis = 10 * n_ell_lines <= 3 * n_lines
    ok_alpha = 10 * n_alpha >= 8 * n_words
    ok_stop = n_stop >= 2
    return docs.select(
        F.col(id_col), n_words.cast("int").alias("n_words"),
        n_lines.cast("int").alias("n_lines"),
        ok_word_count.alias("ok_word_count"),
        ok_mean_len.alias("ok_mean_len"),
        ok_symbol.alias("ok_symbol"), ok_bullet.alias("ok_bullet"),
        ok_ellipsis.alias("ok_ellipsis"), ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_word_count & ok_mean_len & ok_symbol & ok_bullet
         & ok_ellipsis & ok_alpha & ok_stop).alias("keep"))


def _any_prefix(col, prefixes):
    out = F.lit(False)
    for p in prefixes:
        out = out | col.startswith(p)
    return out


# ---------------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al. 2020, section 2.2)
# ---------------------------------------------------------------------------

C4_TERMINAL = (".", "!", "?", '"')


def c4_clean(docs: DataFrame, min_line_words: int = 3,
             min_kept_lines: int = 3,
             id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """C4's line-level cleaning (Raffel et al. 2020 section 2.2): keep
    only lines that (a) end in terminal punctuation ('.', '!', '?',
    '"'), (b) have >= min_line_words whitespace words, (c) don't
    mention 'javascript' (case-insensitive); then gate the page:
    drop it when fewer than min_kept_lines lines survive, when it
    contains 'lorem ipsum' (case-insensitive), or when it contains
    a '{' (the paper's code-page heuristic). The paper's
    three-sentence-span corpus dedup is the separate
    remove_duplicated_spans operator.

    Row-local array ops only (split -> filter lambda -> array_join):
    pure Catalyst, zero shuffles, no UDFs; the cleaned text string is
    byte-identical to the DuckDB mirror (same split/filter/join
    semantics), so the contract row is hash-hard including the
    rebuilt text column. Returns (id, n_lines, n_kept_lines,
    cleaned_text, has_lorem, has_brace, keep)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, "\n")

    def line_ok(l):
        lt = F.rtrim(l)
        end_ok = _any_suffix(lt, C4_TERMINAL)
        n_w = F.size(F.filter(F.split(l, " "), lambda w: w != ""))
        no_js = ~F.lower(l).contains("javascript")
        return end_ok & (n_w >= min_line_words) & no_js

    kept = F.filter(lines, line_ok)
    n_kept = F.size(kept)
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    keep = (n_kept >= min_kept_lines) & ~has_lorem & ~has_brace
    return docs.select(
        F.col(id_col), F.size(lines).cast("int").alias("n_lines"),
        n_kept.cast("int").alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("cleaned_text"),
        has_lorem.alias("has_lorem"), has_brace.alias("has_brace"),
        keep.alias("keep"))


def _any_suffix(col, suffixes):
    out = F.lit(False)
    for s in suffixes:
        out = out | col.endswith(s)
    return out


# ---------------------------------------------------------------------------
# UniMax sampling (Chung et al. 2023)
# ---------------------------------------------------------------------------

def unimax_allocation(docs: DataFrame, budget: int, max_epochs: int = 4,
                      source_col: str = "source") -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): spread a total
    budget of ``budget`` documents as uniformly as possible across
    sources, capping every source at ``max_epochs`` passes over its
    n_docs. The paper's iterative waterfilling has a closed form over
    the capacity-sorted source list: with capacities c_r ascending and
    prefix sums S_r, source r is CAPPED iff c_r*(n_sources - r) + S_r
    <= budget (monotone in r, so the capped set is a prefix); uncapped
    sources share the waterline theta = (budget - S_k)/(n_sources - k)
    where k = #capped. That closed form is one window cumsum — both
    engines fold it over the identical (capacity, source) order, so
    every allocation (exact integer for capped, one exact IEEE
    division for the waterline) is bit-identical and the row is
    hash-hard.

    Scale shape: one groupBy(source) aggregation pass over the corpus;
    the window runs on the per-source table (n_sources rows — the same
    driver-bounded shape as the BPE pair-count table), never on the
    corpus. Returns (source, n_docs, capacity, capped, alloc_docs)."""
    c = docs.groupBy(F.col(source_col).alias("source")) \
            .agg(F.count("*").alias("n_docs")) \
            .withColumn("capacity",
                        (F.lit(int(max_epochs)) * F.col("n_docs"))
                        .cast("long"))
    w = Window.orderBy("capacity", "source")
    t = (c.withColumn("s_prefix", F.sum("capacity").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
         .withColumn("r", F.row_number().over(w))
         .withColumn("nl", F.count("*").over(
             Window.partitionBy(F.lit(1)))))
    t = t.withColumn(
        "capped",
        F.col("capacity") * (F.col("nl") - F.col("r"))
        + F.col("s_prefix") <= F.lit(int(budget)))
    agg = t.agg(
        F.sum(F.when(F.col("capped"), 1).otherwise(0)).alias("k"),
        F.sum(F.when(F.col("capped"), F.col("capacity")).otherwise(0))
        .cast("long").alias("s_k"))
    out = t.crossJoin(F.broadcast(agg)).withColumn(
        "alloc_docs",
        F.when(F.col("capped"), F.col("capacity").cast("double"))
        .otherwise((F.lit(int(budget)) - F.col("s_k")).cast("double")
                   / (F.col("nl") - F.col("k"))))
    return out.select("source", "n_docs", "capacity", "capped",
                      "alloc_docs")


def unimax_sample(docs: DataFrame, budget: int, max_epochs: int = 4,
                  id_col: str = "doc_id", source_col: str = "source",
                  salt: str = "um1") -> DataFrame:
    """Materialize the UniMax allocation per document: each doc of
    source r gets rate = alloc_r / n_r passes — n_full = floor(rate)
    guaranteed copies plus one extra copy with probability
    rate - n_full, decided by the engine's row-local md5-Bernoulli
    (replayable, shuffle-free: the per-source rate table broadcasts).
    Returns (id, source, rate, n_full, extra, copies); a loader
    materializes copies via posexplode(sequence(1, copies)).

    Capped sources get rate == max_epochs exactly (an exact integer
    division); uncapped rates come from one IEEE division of the
    waterline — bit-identical cross-engine, so keep decisions are
    hash-hard like temperature_mixture_sample's."""
    alloc = unimax_allocation(docs, budget, max_epochs, source_col)
    rate = alloc.select(
        "source",
        (F.col("alloc_docs") / F.col("n_docs")).alias("rate"))
    u = _md5_uniform(id_col, salt)
    d = docs.join(F.broadcast(rate),
                  docs[source_col] == rate["source"]) \
            .drop(rate["source"])
    n_full = F.floor(F.col("rate")).cast("int")
    extra = u < (F.col("rate") - n_full)
    return d.select(
        F.col(id_col), F.col(source_col).alias("source"),
        F.col("rate"), n_full.alias("n_full"), extra.alias("extra"),
        (n_full + extra.cast("int")).alias("copies"))


# ---------------------------------------------------------------------------
# Passage splitting (overlapping token windows)
# ---------------------------------------------------------------------------

def split_passages(docs: DataFrame, window: int = 64, stride: int = 48,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Split documents into overlapping token-window passages (the
    standard retrieval / context-chunking rule: starts at 0, stride,
    2*stride, ...; the last window clamps at the document end; a doc
    shorter than one window is a single passage). Returns
    (id, passage_id, start_token, n_tokens, passage).

    Pure Catalyst: split -> sequence explode -> slice -> array_join;
    whole-stage codegen, zero UDFs, zero shuffles — a generator stage
    whose fan-out is n_tokens/stride per document. Passage strings
    rebuild exactly (single-space join of the whitespace token array),
    so the contract row is hash-hard including the text column."""
    if stride < 1 or window < 1:
        raise ValueError("window and stride must be >= 1")
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(t, " "), lambda w: w != "")
    n = F.size(toks)
    extra = F.greatest(F.lit(0), n - F.lit(window))
    n_pass = (F.lit(1)
              + F.floor((extra + F.lit(stride - 1)) / F.lit(stride))
              .cast("int"))
    d = docs.select(F.col(id_col), toks.alias("_toks"), n.alias("_n"),
                    F.explode(F.sequence(F.lit(0), n_pass - 1))
                    .alias("passage_id"))
    start = F.col("passage_id") * F.lit(stride)
    piece = F.slice(F.col("_toks"), start + 1, F.lit(window))
    return d.select(
        F.col(id_col), F.col("passage_id").cast("int").alias("passage_id"),
        start.cast("int").alias("start_token"),
        F.least(F.lit(window), F.col("_n") - start).cast("int")
        .alias("n_tokens"),
        F.array_join(piece, " ").alias("passage"))
