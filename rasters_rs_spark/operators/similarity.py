"""Similarity search over embedding columns (array<float/double>).

- ``cosine_topk``: exact brute-force top-k. The dot product stays
  JVM-side (F.zip_with + F.aggregate inside whole-stage codegen); the
  query side is broadcast, so the scan parallelizes over the corpus and
  the only shuffle is the per-query top-k window.
- ``lsh_topk_det`` / ``ivf_topk_det``: the approximate scale paths
  with deterministic LCG hyperplanes / centroids — probe the query's
  bucket (plus multi-probe flips) or nearest lists, rerank with the
  exact cosine; every intermediate is reproducible in SQL.
- ``ivf_topk``: IVF with a k-means quantizer trained by distributed
  Lloyd over the full corpus (train_ivf_centroids_distributed).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions import vectors
from ..sources.io import local_table


#: Executor-memory budget for a broadcast probe table. The probe table
#: is queries x multi-probe flips and each row CARRIES the full q_vec
#: array, so the row-count threshold must be derived from bytes, not a
#: fixed count — 1e6 64-dim queries x 4 probes is multi-GB.
MAX_BROADCAST_PROBE_BYTES = 64 << 20


def _maybe_broadcast_queries(queries: DataFrame, qprobe: DataFrame,
                             broadcast_queries: bool | None,
                             max_broadcast_queries: int,
                             dim: int = 64, multiplier: int = 1,
                             max_bytes: int = MAX_BROADCAST_PROBE_BYTES) -> DataFrame:
    """Adaptive query-side plan for the bucket/list candidate join
    (knn_join's stats-based fast-path pattern): broadcast the probe
    table when the query side is small — the common ANN shape, no
    shuffle of the corpus — but fall back to a plain equi-join (Catalyst
    picks sort-merge/shuffled-hash) when a caller feeds a LARGE query
    table, where an unconditional broadcast would OOM the executors.

    The auto decision sizes the POST-explode probe table: raw query
    rows x ``multiplier`` (multi-probe flips / nprobe lists), each
    carrying a ``dim``-wide float64 vector, against ``max_bytes``.
    The row probe is a ``limit(cap + 1)`` scan of the RAW query input —
    O(cap) whatever the corpus size (never a full count), column-pruned,
    and it runs before the bucketing UDF so that still executes once."""
    if broadcast_queries is None:
        row_bytes = (dim * 8 + 64) * max(multiplier, 1)
        cap = min(max_broadcast_queries, max(1, max_bytes // row_bytes))
        first_col = queries.columns[0]
        n = queries.select(first_col).limit(cap + 1).count()
        broadcast_queries = n <= cap
    return F.broadcast(qprobe) if broadcast_queries else qprobe


def _norm_expr(col: str):
    sq = F.aggregate(F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    return F.sqrt(sq)


def cosine_expr(a: str, b: str):
    """Cosine similarity, NULL for zero-norm vectors: under Spark 4's
    default ANSI mode a plain division would THROW DIVIDE_BY_ZERO and
    kill the whole job on one all-zeros embedding; NULL rows drop out
    of thresholds/ranks instead (and match the streaming operators,
    which skip zero-norm vectors explicitly)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    denom = _norm_expr(a) * _norm_expr(b)
    return F.when(denom != 0.0, dot / denom)


def _rerank_topk(cand: DataFrame, k: int, q_id: str, c_id: str,
                 q_vec: str, c_vec: str) -> DataFrame:
    """Shared exact-rerank tail of every ANN variant: dedupe candidate
    pairs, score with the exact cosine, keep each query's top k
    (ties to the lower corpus id).

    Round-8: the cosine runs in an Arrow kernel (vectors.cosine, a
    dimension-axis strict fold vectorized ACROSS pairs) instead of the
    interpreted higher-order zip_with/aggregate expression, which
    evaluates its lambdas per ELEMENT (~20us per 64-dim pair —
    measured in the semdedup A/B). Same fold order, so every cosine
    — including NULL for zero-norm or length-mismatched pairs — is
    bit-identical (pinned by test_rerank_kernel_matches_expr; all 5
    ANN contract rows stayed hash-green)."""
    dt = dict(cand.dtypes)
    pairs = cand.dropDuplicates([q_id, c_id]).select(q_id, c_id,
                                                     q_vec, c_vec)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            va = pdf[q_vec].to_numpy()
            vb = pdf[c_vec].to_numpy()
            la, lb = vectors.lengths(va), vectors.lengths(vb)
            cos = np.full(n, np.nan)
            # defined[i]: the fold expr would yield a (possibly NaN)
            # VALUE; undefined -> NULL (zero denom / length mismatch /
            # null vector, all left out of the groups below)
            defined = np.zeros(n, dtype=bool)
            for L in np.unique(la[(la == lb) & (la > 0)]):
                idx = np.flatnonzero((la == L) & (lb == L))
                cos[idx], defined[idx] = vectors.cosine(
                    vectors.matrix(va[idx]), vectors.matrix(vb[idx]))
            # nullable Float64 with an explicit mask, so a COMPUTED NaN
            # survives as NaN while undefined entries become SQL NULLs
            # (pd.array(cos, dtype="Float64") and an object column both
            # turn NaN into null)
            carr = pd.arrays.FloatingArray(cos, ~defined)
            yield pd.DataFrame({
                q_id: pdf[q_id].to_numpy(),
                c_id: pdf[c_id].to_numpy(),
                "cosine": carr,
            })

    scored = pairs.mapInPandas(
        gen, schema=f"{q_id} {dt[q_id]}, {c_id} {dt[c_id]}, cosine double")
    w = Window.partitionBy(q_id).orderBy(F.desc("cosine"), F.col(c_id))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(q_id, c_id, "cosine", "rank"))


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int,
                q_id: str = "q_id", c_id: str = "vec_id",
                q_vec: str = "q_vec", c_vec: str = "embedding",
                max_queries: int = 100_000) -> DataFrame:
    """Exact top-k by cosine: returns (q_id, vec_id, cosine, rank).
    Ties broken by corpus id for determinism.

    This is the exact BRUTE-FORCE surface (corpus x queries scan with
    the query side broadcast): it REFUSES — via a limit-capped probe,
    never a full count — query tables over ``max_queries``, where the
    broadcast would OOM executors and the scan goes quadratic; use
    lsh_topk_det / ivf_topk as the scale path, or raise the cap
    explicitly."""
    queries = _capped_queries(
        queries, max_queries,
        f"cosine_topk is the exact brute-force surface (corpus x "
        f"queries); the query table exceeds max_queries="
        f"{max_queries}. Use similarity.lsh_topk_det / ivf_topk for "
        f"large query sets, or raise max_queries explicitly.")
    cand = corpus.crossJoin(F.broadcast(queries))
    return _rerank_topk(cand, k, q_id, c_id, q_vec, c_vec)


def _capped_queries(queries: DataFrame, max_queries: int,
                    refusal: str) -> DataFrame:
    """The query table of a brute-force surface as a local table, from
    ONE bounded Arrow collect of at most ``max_queries`` + 1 rows:
    raises ``ValueError(refusal)`` past the cap, never counting further.
    The collect is both the refusal probe and the rows the plan then
    broadcasts or joins, so neither a count (two jobs under AQE) nor a
    second scan of the query input runs."""
    rows = queries.limit(max_queries + 1).toArrow()
    if rows.num_rows > max_queries:
        raise ValueError(refusal)
    return local_table(queries.sparkSession, rows, queries.schema)


def lcg_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic LSH hyperplanes from the SQL-expressible LCG:
    plane[j][d] = lcg(j*dim + d) - 0.5. Same closed form on the DuckDB
    oracle side, so bucket bits are reproducible across engines."""
    from ..sources.synth import lcg_values
    import numpy as np
    k = np.arange(n_planes * dim, dtype=np.int64)
    vals = lcg_values(k) - 0.5
    return [vals[j * dim:(j + 1) * dim].tolist() for j in range(n_planes)]


def _lsh_bucket_udf(vec_col: str, planes: list[list[float]]):
    """Bucket id = hyperplane sign bits (bit j set when dot_j > 0),
    computed in an Arrow-batched pandas UDF with fold-order dots. The
    planes are precomputed driver-side and closed over as numpy arrays
    (converted once per executor, not per batch). An A/B at sf0.1
    (60k x 64-dim, local[32], best-of-3) measured it 1.43s against
    2.22s for the same strict fold written as Catalyst zip_with +
    aggregate expressions, which evaluate interpreted lambda closures
    per ELEMENT."""
    pm = vectors.matrix(planes)
    weights = 1 << np.arange(len(pm), dtype=np.int64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = vectors.matrix(pdf[vec_col])
            signs = vectors.dot(mat[:, None], pm[None]) > 0
            bucket = (signs * weights).sum(axis=1, dtype=np.int64)
            res = pdf.copy()
            res["bucket"] = bucket
            yield res
    return gen


def lsh_topk_det(queries: DataFrame, corpus: DataFrame, k: int, dim: int,
                 n_planes: int = 8, probes: int = 3,
                 q_id: str = "q_id", c_id: str = "vec_id",
                 q_vec: str = "q_vec", c_vec: str = "embedding",
                 broadcast_queries: bool | None = None,
                 max_broadcast_queries: int = 1_000_000) -> DataFrame:
    """Approximate top-k by random-hyperplane LSH with deterministic
    LCG hyperplanes: bucket equi-join + multi-probe single-bit flips +
    exact rerank, every intermediate reproducible in ANSI SQL — the
    contract-oracled path. Bucketing uses the Arrow-batched fold-dot
    UDF with driver-precomputed planes. Same output schema as
    cosine_topk."""
    planes = lcg_planes(n_planes, dim)
    # (no fan_out of the corpus here — A/B'd in round 8: the rerank
    # window's shuffle already re-parallelizes after the candidate
    # join, and the extra exchange measured flat-to-negative)
    c_schema = ", ".join(f"{n} {t}" for n, t in corpus.dtypes) \
        + ", bucket long"
    q_schema = ", ".join(f"{n} {t}" for n, t in queries.dtypes) \
        + ", bucket long"
    ck = corpus.mapInPandas(_lsh_bucket_udf(c_vec, planes), schema=c_schema)
    qk = queries.mapInPandas(_lsh_bucket_udf(q_vec, planes), schema=q_schema)
    flips = [0] + [1 << b for b in range(min(probes, n_planes))]
    probe_df = local_table(qk.sparkSession, [(f,) for f in flips], "flip long")
    qprobe = qk.crossJoin(F.broadcast(probe_df)).withColumn(
        "bucket", F.col("bucket").bitwiseXOR(F.col("flip"))).drop("flip")
    qprobe = _maybe_broadcast_queries(queries, qprobe, broadcast_queries,
                                      max_broadcast_queries, dim=dim,
                                      multiplier=len(flips))
    cand = ck.join(qprobe, on="bucket")
    return _rerank_topk(cand, k, q_id, c_id, q_vec, c_vec)


def lcg_centroids(n_lists: int, dim: int) -> list[list[float]]:
    """Deterministic IVF coarse centroids from the LCG (k-offset 5e6 to
    decorrelate from the LSH planes)."""
    from ..sources.synth import lcg_values
    import numpy as np
    k = 5_000_000 + np.arange(n_lists * dim, dtype=np.int64)
    vals = lcg_values(k)
    return [vals[c * dim:(c + 1) * dim].tolist() for c in range(n_lists)]


def _ivf_assign_det_udf(vec_col: str, cents: list[list[float]], nprobe: int):
    C = vectors.matrix(cents)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = vectors.matrix(pdf[vec_col])
            d = vectors.sqdist(mat[:, None], C[None])
            # stable sort: equal distances keep the lower list id, the
            # same tie-break as the oracle's ORDER BY (dist, list)
            order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            res = pdf.copy()
            res["lists"] = [row.tolist() for row in order.astype(np.int32)]
            yield res
    return gen


def ivf_topk_det(queries: DataFrame, corpus: DataFrame, k: int, dim: int,
                 n_lists: int = 16, nprobe: int = 4,
                 q_id: str = "q_id", c_id: str = "vec_id",
                 q_vec: str = "q_vec", c_vec: str = "embedding",
                 broadcast_queries: bool | None = None,
                 max_broadcast_queries: int = 1_000_000) -> DataFrame:
    """ivf_topk with deterministic LCG centroids (no k-means training):
    corpus rows go to their argmin list (ties to the lowest list id),
    queries probe their nprobe nearest lists, exact rerank inside. The
    SQL-oracled variant — same join shape as the trained ivf_topk; the
    fold-order distances keep list membership bit-identical to the
    DuckDB mirror."""
    cents = lcg_centroids(n_lists, dim)
    c_schema = ", ".join(f"{n} {t}" for n, t in corpus.dtypes) + ", lists array<int>"
    q_schema = ", ".join(f"{n} {t}" for n, t in queries.dtypes) + ", lists array<int>"
    ck = corpus.mapInPandas(_ivf_assign_det_udf(c_vec, cents, 1),
                            schema=c_schema) \
               .withColumn("list_id", F.col("lists")[0]).drop("lists")
    qk = queries.mapInPandas(_ivf_assign_det_udf(q_vec, cents, nprobe),
                             schema=q_schema) \
                .withColumn("list_id", F.explode("lists")).drop("lists")
    qk = _maybe_broadcast_queries(queries, qk, broadcast_queries,
                                  max_broadcast_queries, dim=dim,
                                  multiplier=nprobe)
    cand = ck.join(qk, on="list_id")
    return _rerank_topk(cand, k, q_id, c_id, q_vec, c_vec)


def train_ivf_centroids_distributed(corpus: DataFrame, dim: int,
                                    n_lists: int, iters: int = 5,
                                    c_vec: str = "embedding",
                                    c_id: str = "vec_id") -> np.ndarray:
    """Distributed Lloyd k-means for the IVF coarse quantizer — the
    100 TB trainer: nothing corpus-sized ever reaches the driver.

    Init is the ``n_lists`` rows with the smallest xxhash64(id) — a
    deterministic, storage-order-independent sample that Spark executes
    as map-side top-k (TakeOrdered; the driver receives n_lists rows).
    Each Lloyd iteration is ONE mapInPandas pass emitting <= n_lists
    (count, partial-sum) rows per partition — the classic map-side
    combine — merged on the driver (n_lists x n_partitions rows, never
    vectors). Assignment uses the argmin of -2*x@C^T + |C|^2 (the |x|^2
    term cancels), so per-batch work is one matmul. Empty clusters keep
    their previous centroid (deterministic). Equal to driver-side Lloyd
    with the same init up to partial-sum association order (tested at
    1e-9)."""
    vec = corpus.select(F.col(c_id).alias("_id"), F.col(c_vec).alias("_v"))
    init_rows = (vec.orderBy(F.xxhash64("_id").asc(), F.col("_id").asc())
                 .limit(n_lists).collect())
    if not init_rows:
        raise ValueError("train_ivf_centroids_distributed: empty corpus")
    cents = vectors.matrix([r["_v"] for r in init_rows])
    k = len(cents)
    vecs = vec.select("_v").persist()
    try:
        for _ in range(iters):
            c = cents

            def partial(batches: Iterator[pd.DataFrame],
                        c: np.ndarray = c) -> Iterator[pd.DataFrame]:
                sums = np.zeros((k, dim), dtype=np.float64)
                cnt = np.zeros(k, dtype=np.int64)
                c2 = (c * c).sum(axis=1)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    mat = vectors.matrix(pdf["_v"])
                    a = (-2.0 * (mat @ c.T) + c2).argmin(axis=1)
                    np.add.at(sums, a, mat)
                    cnt += np.bincount(a, minlength=k)
                yield pd.DataFrame({
                    "list_id": np.arange(k, dtype=np.int32),
                    "cnt": cnt,
                    "s": [row.tolist() for row in sums]})

            rows = vecs.mapInPandas(
                partial, schema="list_id int, cnt long, s array<double>"
            ).collect()
            S = np.zeros((k, dim), dtype=np.float64)
            C = np.zeros(k, dtype=np.float64)
            for r in rows:
                S[r["list_id"]] += np.asarray(r["s"], dtype=np.float64)
                C[r["list_id"]] += r["cnt"]
            nz = C > 0
            cents = cents.copy()
            cents[nz] = S[nz] / C[nz][:, None]
    finally:
        vecs.unpersist()
    return cents


def _ivf_assign_udf(vec_col: str, cents: np.ndarray, nprobe: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = vectors.matrix(pdf[vec_col])
            d = vectors.sqdist(mat[:, None], cents[None])
            order = np.argsort(d, axis=1)[:, :nprobe]
            res = pdf.copy()
            res["lists"] = [row.tolist() for row in order]
            yield res
    return gen


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int, dim: int,
             n_lists: int = 16, nprobe: int = 4,
             q_id: str = "q_id", c_id: str = "vec_id",
             q_vec: str = "q_vec", c_vec: str = "embedding",
             broadcast_queries: bool | None = None,
             max_broadcast_queries: int = 1_000_000) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer, corpus rows
    assigned to their nearest list, queries probe their ``nprobe``
    nearest lists, exact cosine rerank inside the probed lists.
    Same output schema as cosine_topk.

    The quantizer is trained by train_ivf_centroids_distributed:
    map-side partial-sum Lloyd over the FULL corpus — the 100 TB
    quantizer, no corpus-sized driver collect anywhere. An empty
    corpus raises ValueError."""
    cents = train_ivf_centroids_distributed(
        corpus, dim, n_lists, c_vec=c_vec, c_id=c_id)

    c_schema = ", ".join(f"{n} {t}" for n, t in corpus.dtypes) + ", lists array<int>"
    q_schema = ", ".join(f"{n} {t}" for n, t in queries.dtypes) + ", lists array<int>"
    ck = corpus.mapInPandas(_ivf_assign_udf(c_vec, cents, 1), schema=c_schema) \
               .withColumn("list_id", F.col("lists")[0]).drop("lists")
    qk = queries.mapInPandas(_ivf_assign_udf(q_vec, cents, nprobe), schema=q_schema) \
                .withColumn("list_id", F.explode("lists")).drop("lists")

    qk = _maybe_broadcast_queries(queries, qk, broadcast_queries,
                                  max_broadcast_queries, dim=dim,
                                  multiplier=nprobe)
    cand = ck.join(qk, on="list_id")
    return _rerank_topk(cand, k, q_id, c_id, q_vec, c_vec)


# ---------------------------------------------------------------------------
# Product quantization (PQ): 64x-compressed codes + asymmetric-distance ANN
# ---------------------------------------------------------------------------


def pq_codebooks_det(m_sub: int, k_codes: int, sub_dim: int) -> np.ndarray:
    """Deterministic (m_sub, k_codes, sub_dim) PQ codebooks from the
    LCG stream (k-offset 6e6, decorrelated from the LSH planes and IVF
    centroids) — the SQL-oracle-able variant."""
    from ..sources.synth import lcg_values
    k = 6_000_000 + np.arange(m_sub * k_codes * sub_dim, dtype=np.int64)
    return lcg_values(k).reshape(m_sub, k_codes, sub_dim)


def _pq_subdists(mat: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(rows, m_sub, k_codes) fold-order squared distances from each
    row's subvectors to every codebook entry: the encoders' argmin input
    and the ADC tables."""
    m_sub, _, sd = cb.shape
    return vectors.sqdist(mat.reshape(len(mat), m_sub, 1, sd), cb[None])


def pq_encode(corpus: DataFrame, dim: int, m_sub: int = 8,
              k_codes: int = 16, c_id: str = "vec_id",
              c_vec: str = "embedding",
              codebooks: np.ndarray | None = None) -> DataFrame:
    """Product-quantize every corpus vector to ``m_sub`` sub-codes
    (one per dim/m_sub-wide subvector, nearest codebook entry, ties to
    the LOWEST code id): at dim=64 float64 -> 8 one-byte codes, a 64x
    memory compression — the representation a 10^12-vector ANN index
    actually stores. Sub-distances use strict fold-order ops so code
    assignment is bit-identical to the DuckDB mirror. Returns
    (vec_id, codes array<int>). Arrow-batched, no shuffle."""
    if dim % m_sub != 0:
        raise ValueError(f"pq_encode: dim={dim} not divisible by "
                         f"m_sub={m_sub}")
    sd = dim // m_sub
    cb = codebooks if codebooks is not None \
        else pq_codebooks_det(m_sub, k_codes, sd)
    cb = np.asarray(cb, dtype=np.float64)
    id_type = dict(corpus.dtypes)[c_id]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # first min = lowest code id
            codes = _pq_subdists(vectors.matrix(pdf[c_vec]), cb) \
                .argmin(axis=2)
            yield pd.DataFrame({"vec_id": pdf[c_id].to_numpy(),
                                "codes": [row.tolist() for row in codes]})

    return corpus.select(F.col(c_id), F.col(c_vec)).mapInPandas(
        gen, schema=f"vec_id {id_type}, codes array<int>")


def train_pq_codebooks_distributed(corpus: DataFrame, dim: int,
                                   m_sub: int = 8, k_codes: int = 16,
                                   iters: int = 5, c_id: str = "vec_id",
                                   c_vec: str = "embedding") -> np.ndarray:
    """Distributed per-subspace Lloyd k-means for PQ codebooks — ONE
    mapInPandas partial-sum pass per iteration covers ALL subspaces
    (<= m_sub * k_codes fixed-size rows per partition to the driver);
    init = the k_codes smallest-xxhash64 rows' subvectors, like
    train_ivf_centroids_distributed. No corpus-sized driver collect."""
    sd = dim // m_sub
    vec = corpus.select(F.col(c_id).alias("_id"), F.col(c_vec).alias("_v"))
    init_rows = (vec.orderBy(F.xxhash64("_id").asc(), F.col("_id").asc())
                 .limit(k_codes).collect())
    if not init_rows:
        raise ValueError("train_pq_codebooks_distributed: empty corpus")
    init = vectors.matrix([r["_v"] for r in init_rows])
    kk = len(init)
    cb = np.stack([init[:, s * sd:(s + 1) * sd] for s in range(m_sub)])
    vecs = vec.select("_v").persist()
    try:
        for _ in range(iters):
            c = cb

            def partial(batches: Iterator[pd.DataFrame],
                        c: np.ndarray = c) -> Iterator[pd.DataFrame]:
                sums = np.zeros((m_sub, kk, sd), dtype=np.float64)
                cnt = np.zeros((m_sub, kk), dtype=np.int64)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    mat = vectors.matrix(pdf["_v"])
                    for s in range(m_sub):
                        sub = mat[:, s * sd:(s + 1) * sd]
                        c2 = (c[s] * c[s]).sum(axis=1)
                        a = (-2.0 * (sub @ c[s].T) + c2).argmin(axis=1)
                        np.add.at(sums[s], a, sub)
                        cnt[s] += np.bincount(a, minlength=kk)
                rows = []
                for s in range(m_sub):
                    for j in range(kk):
                        rows.append((s, j, int(cnt[s, j]),
                                     sums[s, j].tolist()))
                yield pd.DataFrame(rows, columns=["s", "j", "cnt", "sum"])

            parts = vecs.mapInPandas(
                partial, schema="s int, j int, cnt long, sum array<double>"
            ).collect()
            S = np.zeros((m_sub, kk, sd), dtype=np.float64)
            C = np.zeros((m_sub, kk), dtype=np.float64)
            for r in parts:
                S[r["s"], r["j"]] += np.asarray(r["sum"], dtype=np.float64)
                C[r["s"], r["j"]] += r["cnt"]
            cb = cb.copy()
            nz = C > 0
            cb[nz] = S[nz] / C[nz][:, None]
    finally:
        vecs.unpersist()
    return cb


def ann_pq(queries: DataFrame, corpus: DataFrame, k: int, dim: int,
           m_sub: int = 8, k_codes: int = 16,
           q_id: str = "q_id", c_id: str = "vec_id",
           q_vec: str = "q_vec", c_vec: str = "embedding",
           rerank: bool = True, rerank_factor: int = 4,
           codes: DataFrame | None = None,
           codebooks: np.ndarray | None = None,
           max_queries: int = 4096) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC): the corpus is scanned as ``m_sub`` one-byte codes per
    vector (pq_encode — 64x less data moved than raw float64), each
    query precomputes its (m_sub x k_codes) sub-distance table, and
    the approximate distance is the strict left-fold sum of m_sub
    table lookups — so distances, ties, and ranks are bit-identical
    to the DuckDB mirror. Per Arrow batch the kernel keeps only each
    query's current top shortlist ((adist, vec_id)-sorted — exact for
    global top-k by monotonicity), then one window ranks globally.

    ``rerank=True`` re-scores a rerank_factor*k shortlist with the
    exact cosine against the raw vectors (the standard PQ + rerank
    recipe; output = cosine_topk schema). ``rerank=False`` returns
    (q_id, vec_id, adist, rank) — the pure-ADC surface the contract
    oracle mirrors end to end. Queries are driver-collected
    (broadcast tables), capped at ``max_queries``."""
    if dim % m_sub != 0:
        raise ValueError(f"ann_pq: dim={dim} not divisible by m_sub={m_sub}")
    sd = dim // m_sub
    cb = np.asarray(codebooks, dtype=np.float64) if codebooks is not None \
        else pq_codebooks_det(m_sub, k_codes, sd)
    qrows = queries.select(q_id, q_vec).limit(max_queries + 1).collect()
    if not qrows:
        raise ValueError("ann_pq: the queries DataFrame is empty")
    if len(qrows) > max_queries:
        raise ValueError(
            f"ann_pq broadcasts per-query distance tables; > "
            f"{max_queries} queries would blow the task closure — batch "
            f"the query table or raise max_queries explicitly")
    q_ids = [r[q_id] for r in qrows]
    nq = len(q_ids)
    # (nq, m_sub, k_codes) ADC tables with fold-order sub-distances
    tables = _pq_subdists(vectors.matrix([r[q_vec] for r in qrows]), cb)

    codes_df = codes if codes is not None else \
        pq_encode(corpus, dim, m_sub, cb.shape[1], c_id, c_vec, cb)
    shortlist = (k * rerank_factor) if rerank else k
    id_type = dict(corpus.dtypes)[c_id]
    qid_type = dict(queries.dtypes)[q_id]

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = vectors.matrix(pdf["codes"], dtype=np.int64)
            vids = pdf["vec_id"].to_numpy()
            # left-fold over subspaces: ((t0 + t1) + t2) ... matches
            # the SQL mirror's t0 + t1 + ... literal chain
            acc = tables[:, 0, cmat[:, 0]]
            for s in range(1, m_sub):
                acc = acc + tables[:, s, cmat[:, s]]
            out = []
            keep = min(shortlist, len(pdf))
            for qi in range(nq):
                order = np.lexsort((vids, acc[qi]))[:keep]
                out.append(pd.DataFrame({
                    "q_id": q_ids[qi], "vec_id": vids[order],
                    "adist": acc[qi][order]}))
            yield pd.concat(out)

    cand = codes_df.mapInPandas(
        scan, schema=f"q_id {qid_type}, vec_id {id_type}, adist double")
    w = Window.partitionBy("q_id").orderBy("adist", "vec_id")
    top = (cand.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= shortlist))
    if not rerank:
        return top.where(F.col("rank") <= k)
    pairs = top.select("q_id", "vec_id")
    qdf = queries.select(F.col(q_id).alias("q_id"), F.col(q_vec))
    cdf = corpus.select(F.col(c_id).alias("vec_id"), F.col(c_vec))
    cand2 = (pairs.join(F.broadcast(qdf), on="q_id")
             .join(cdf, on="vec_id"))
    return _rerank_topk(cand2, k, "q_id", "vec_id", q_vec, c_vec)


def ann_ivfpq(queries: DataFrame, corpus: DataFrame, k: int, dim: int,
              n_lists: int = 16, nprobe: int = 4, m_sub: int = 8,
              k_codes: int = 16,
              q_id: str = "q_id", c_id: str = "vec_id",
              q_vec: str = "q_vec", c_vec: str = "embedding",
              rerank: bool = True, rerank_factor: int = 4,
              centroids=None, codebooks: np.ndarray | None = None,
              max_queries: int = 4096) -> DataFrame:
    """IVF-PQ — the production 10^12-vector ANN composition: a coarse
    quantizer prunes the scan to ``nprobe`` lists per query, and
    inside the lists vectors are stored as PQ codes of their RESIDUAL
    (v - centroid[list]) — so the index holds one byte-per-subspace
    codes plus a list id, and the ADC scan touches only the probed
    lists' codes. Deterministic LCG centroids/codebooks by default
    (SQL-oracle-able, strict fold-order everywhere: list assignment,
    residual codes, per-(query, list) ADC tables, the left-assoc ADC
    sum, (adist, vec_id) ranking); pass trained ``centroids``
    (train_ivf_centroids_distributed) and ``codebooks`` for recall.
    ``rerank=False`` returns (q_id, vec_id, adist, rank) — the surface
    the contract oracle mirrors end to end; ``rerank=True`` re-scores
    a rerank_factor*k shortlist with the exact cosine."""
    if dim % m_sub != 0:
        raise ValueError(f"ann_ivfpq: dim={dim} not divisible by "
                         f"m_sub={m_sub}")
    sd = dim // m_sub
    cents = np.asarray(centroids if centroids is not None
                       else lcg_centroids(n_lists, dim), dtype=np.float64)
    n_lists = len(cents)
    cb = np.asarray(codebooks, dtype=np.float64) if codebooks is not None \
        else pq_codebooks_det(m_sub, k_codes, sd)
    k_codes = cb.shape[1]
    id_type = dict(corpus.dtypes)[c_id]
    qid_type = dict(queries.dtypes)[q_id]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = vectors.matrix(pdf[c_vec])
            lists = vectors.sqdist(mat[:, None], cents[None]).argmin(axis=1)
            codes = _pq_subdists(mat - cents[lists], cb).argmin(axis=2)
            yield pd.DataFrame({
                "vec_id": pdf[c_id].to_numpy(),
                "list_id": lists.astype(np.int32),
                "codes": [row.tolist() for row in codes]})

    codes_df = corpus.select(F.col(c_id), F.col(c_vec)).mapInPandas(
        encode, schema=f"vec_id {id_type}, list_id int, codes array<int>")

    qrows = queries.select(q_id, q_vec).limit(max_queries + 1).collect()
    if not qrows:
        raise ValueError("ann_ivfpq: the queries DataFrame is empty")
    if len(qrows) > max_queries:
        raise ValueError(
            f"ann_ivfpq broadcasts per-(query, list) ADC tables; > "
            f"{max_queries} queries would blow the task closure — batch "
            f"the query table or raise max_queries explicitly")
    q_ids = [r[q_id] for r in qrows]
    qmat = vectors.matrix([r[q_vec] for r in qrows])
    nq = len(q_ids)
    qd = vectors.sqdist(qmat[:, None], cents[None])
    # nprobe nearest lists, ties to the lower list id (stable argsort)
    probe_lists = np.argsort(qd, axis=1, kind="stable")[:, :nprobe]
    # per-(query, probed list) ADC tables over the query RESIDUAL
    resid = qmat[:, None] - cents[probe_lists]
    tabs = _pq_subdists(resid.reshape(-1, qmat.shape[1]), cb).reshape(
        nq, probe_lists.shape[1], m_sub, k_codes)
    shortlist = (k * rerank_factor) if rerank else k

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = vectors.matrix(pdf["codes"], dtype=np.int64)
            vids = pdf["vec_id"].to_numpy()
            lids = pdf["list_id"].to_numpy()
            out = []
            for qi in range(nq):
                for pi, li in enumerate(probe_lists[qi]):
                    m = lids == li
                    if not m.any():
                        continue
                    t = tabs[qi, pi]
                    sub = cmat[m]
                    acc = t[0, sub[:, 0]]
                    for s in range(1, m_sub):
                        acc = acc + t[s, sub[:, s]]
                    v = vids[m]
                    order = np.lexsort((v, acc))[:shortlist]
                    out.append(pd.DataFrame({
                        "q_id": q_ids[qi], "vec_id": v[order],
                        "adist": acc[order]}))
            yield (pd.concat(out) if out else pd.DataFrame(
                columns=["q_id", "vec_id", "adist"]))

    cand = codes_df.mapInPandas(
        scan, schema=f"q_id {qid_type}, vec_id {id_type}, adist double")
    w = Window.partitionBy("q_id").orderBy("adist", "vec_id")
    top = (cand.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= shortlist))
    if not rerank:
        return top.where(F.col("rank") <= k)
    pairs = top.select("q_id", "vec_id")
    qdf = queries.select(F.col(q_id).alias("q_id"), F.col(q_vec))
    cdf = corpus.select(F.col(c_id).alias("vec_id"), F.col(c_vec))
    cand2 = (pairs.join(F.broadcast(qdf), on="q_id")
             .join(cdf, on="vec_id"))
    return _rerank_topk(cand2, k, "q_id", "vec_id", q_vec, c_vec)


# ---------------------------------------------------------------------------
# BM25 lexical retrieval — the sparse complement to the dense ANN tiers
# ---------------------------------------------------------------------------

_BM25_GRID = float(1 << 20)


def _bm25_tokens(col):
    """Lowercased alphanumeric tokenization as a pure Catalyst
    expression (split on runs of anything else, drop empties) —
    mirrored term-for-term by DuckDB regexp_split_to_array in the
    oracle."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"),
                    lambda t: t != F.lit(""))


def bm25_topk(queries: DataFrame, docs: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text",
              q_id_col: str = "q_id",
              q_text_col: str = "q_text") -> DataFrame:
    """BM25 (Robertson/Okapi) top-k retrieval over a document corpus
    — the inverted-index dataflow expressed as DataFrame ops: one
    corpus scan explodes terms; tf and dl aggregate by (doc, term) /
    doc (map-side combine); the small query vocabulary BROADCASTS to
    prune posting lists before df is counted (df, and hence idf, per
    standard BM25 is corpus-wide, which pruned lists still compute
    exactly); scoring is the pruned-postings equi-join on term; top-k
    is one window. The corpus never crosses an all-pairs boundary and
    zero corpus bytes reach the driver (round-8: the two corpus
    scalars — N, avgdl — ride the final plan as a broadcast 1-row
    aggregate instead of driver actions), so the plan survives a
    100-TB corpus as long as queries stay query-sized (the same
    contract as the ANN tiers).

    Per-(query,term,doc) contributions are quantized to the 2^-20
    dyadic grid (exactly like lm_score): every contribution is an
    integer multiple of 2^-20, so the score SUM is order-free exact —
    the property that makes the operator hash-hard against a DuckDB
    mirror despite floating-point scoring.

    Returns (q_id, doc_id, score, rank), rank 1..k per query by
    (score desc, doc_id asc).

    A/B (sf0.1, local[32], best-of-3): round 6's shape re-ran the
    corpus tokenize+explode 3x (the tot action, the dl join branch,
    and a duplicated tf subtree under df) at 1.46s; with dl as a
    checkpointed no-explode size() projection and tf checkpointed
    once, 1.17s — and the final plan reads the corpus zero times
    (plan-audited), so the saving scales with corpus size."""
    tf_ = F.col("tf").cast("double")
    df_ = F.col("df").cast("double")
    dl_ = F.col("dl").cast("double")

    # dl needs no explode at all: the doc length is size() of the
    # token array, a map-side projection — and the eager checkpoint
    # (ONE row per doc, tiny vs the text) feeds n_docs, avgdl AND the
    # final plan's dl join without ever re-reading the corpus. The r6
    # shape re-ran the tokenize+explode corpus scan 3x (tot action,
    # dl join, tf branch — r6 VERDICT #3).
    dl = docs.select(
        F.col(id_col).alias("_did"),
        F.size(_bm25_tokens(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long").alias("dl")).localCheckpoint(eager=True)
    # the two corpus scalars (N, avgdl) ride the final plan as a
    # broadcast 1-row aggregate over the CHECKPOINTED dl instead of a
    # separate driver action (round-8: count() + agg().first() were
    # two sequential jobs; r8a fused them to one; this removes the
    # job entirely). n/t are exact int64, so nd = cast double and
    # t/n reproduce the old Python float(tot)/float(n_docs) literal
    # bit-for-bit inside the same IEEE expression tree.
    scalars = F.broadcast(dl.agg(
        F.count("*").cast("double").alias("_nd_docs"),
        F.when(F.count("*") > 0,
               F.sum("dl").cast("double")
               / F.count("*").cast("double"))
        .otherwise(F.lit(1.0)).alias("_avgdl")))

    # fan_out (round-8): the tokenize+explode+vocab-prune+map-side tf
    # partials below would otherwise run in ONE task on a
    # single-row-group scan (no-op on wide scans)
    from ..functions import scanpar
    terms = scanpar.fan_out(docs.select(
        F.col(id_col).alias("_did"), F.col(text_col)), key="_did") \
        .select(
            "_did",
            F.explode(_bm25_tokens(F.coalesce(F.col(text_col),
                                              F.lit("")))).alias("term"))
    qterms = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.explode(_bm25_tokens(F.coalesce(F.col(q_text_col),
                                          F.lit("")))).alias("term")) \
        .distinct()
    qvocab = qterms.select("term").distinct()

    # posting lists restricted to the query vocabulary BEFORE any
    # term-keyed aggregation: tf/df shuffle only the pruned postings.
    # tf (pruned: <= n_docs x |query vocab| rows) eager-checkpoints so
    # the df branch reuses it instead of duplicating the corpus
    # tokenize subtree — the FINAL plan reads the corpus text zero
    # times; the whole operator reads it exactly twice (dl projection
    # + this tokenize), verified by plan audit.
    tf = terms.join(F.broadcast(qvocab), on="term") \
        .groupBy("_did", "term").agg(F.count("*").alias("tf")) \
        .localCheckpoint(eager=True)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log((F.col("_nd_docs") - df_ + 0.5) / (df_ + 0.5) + 1.0)
    denom = tf_ + k1 * (1.0 - b + b * dl_ / F.col("_avgdl"))
    contrib = F.floor(idf * (tf_ * (k1 + 1.0)) / denom
                      * _BM25_GRID) / _BM25_GRID

    scored = qterms \
        .join(tf, on="term") \
        .join(F.broadcast(df), on="term") \
        .join(dl, on="_did") \
        .crossJoin(scalars) \
        .groupBy("q_id", "_did") \
        .agg(F.sum(contrib).alias("score"))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("_did"))
    return scored.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= k) \
        .select("q_id", F.col("_did").alias(id_col), "score", "rank")


def window_overlap_topk(queries: DataFrame, docs: DataFrame,
                        k: int = 10, win_k: int = 16,
                        id_col: str = "doc_id", text_col: str = "text",
                        q_id_col: str = "q_id",
                        q_text_col: str = "q_text") -> DataFrame:
    """Exact-substring-overlap retrieval: score(q, doc) = number of
    DISTINCT k-character windows the two texts share (two-lane rolling
    hash, the span-removal scan). The second retrieval signal next to
    BM25 — phrase/boilerplate matching that bag-of-words misses — and
    all-integer scoring, so trivially hash-hard. Shape: both sides'
    window sets dedup map-side, the join keys on the 62-bit window
    hash (query side is query-sized), one count aggregation, one
    window top-k. Returns (q_id, doc_id, n_shared, rank)."""
    from .text import duplicated_span_windows

    dw = duplicated_span_windows(docs, win_k, id_col, text_col) \
        .select(F.col(id_col).alias("_did"), "h").distinct()
    qw = duplicated_span_windows(queries, win_k, q_id_col, q_text_col) \
        .select(F.col(q_id_col).alias("q_id"), "h").distinct()
    scored = qw.join(dw, on="h").groupBy("q_id", "_did") \
        .agg(F.count("*").alias("n_shared"))
    w = Window.partitionBy("q_id").orderBy(F.desc("n_shared"),
                                           F.asc("_did"))
    return scored.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= k) \
        .select("q_id", F.col("_did").alias(id_col), "n_shared", "rank")


_RRF_GRID = float(1 << 40)


def rrf_fuse(*hit_lists: DataFrame, k: int = 10, k_rrf: float = 60.0,
             q_col: str = "q_id", id_col: str = "doc_id",
             rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two or more
    ranked hit lists — the standard hybrid-retrieval combiner (dense
    ANN + sparse BM25 + exact overlap): fused score = sum over lists
    of 1 / (k_rrf + rank). Contributions are quantized to the 2^-40
    dyadic grid so the sum is order-free exact (hash-hard despite
    double arithmetic). Rank-only fusion: input score scales never
    mix, which is why RRF needs no per-list normalization. Returns
    (q_id, doc_id, rrf_score, n_lists, rank) top-k per query by
    (rrf_score desc, doc_id asc)."""
    if len(hit_lists) < 2:
        raise ValueError("rrf_fuse needs at least two hit lists")
    u = None
    for h in hit_lists:
        part = h.select(F.col(q_col).alias("q_id"),
                        F.col(id_col).alias("_did"),
                        F.col(rank_col).alias("_r"))
        u = part if u is None else u.unionByName(part)
    contrib = F.floor(F.lit(1.0) / (k_rrf + F.col("_r").cast("double"))
                      * _RRF_GRID) / _RRF_GRID
    scored = u.groupBy("q_id", "_did").agg(
        F.sum(contrib).alias("rrf_score"),
        F.count("*").cast("int").alias("n_lists"))
    w = Window.partitionBy("q_id").orderBy(F.desc("rrf_score"),
                                           F.asc("_did"))
    return scored.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= k) \
        .select("q_id", F.col("_did").alias(id_col),
                "rrf_score", "n_lists", "rank")


def retrieval_rank_eval(queries: DataFrame, corpus: DataFrame,
                        hits_at: tuple = (1, 5, 10),
                        q_id: str = "q_id", c_id: str = "vec_id",
                        q_vec: str = "q_vec", c_vec: str = "embedding",
                        max_queries: int = 100_000) -> DataFrame:
    """CLIP-style retrieval evaluation — the standard check on an
    image<->caption alignment model (Radford et al. 2021 report
    text->image R@1/5/10 this way): for each query (the caption-side
    embedding), find the rank of its TRUE image (ground truth pairing:
    ``q_id == c_id``) among the full corpus by exact cosine, ties to
    the lower corpus id (the same total order every top-k operator in
    this module uses). Returns one row per rankable query:
    (q_id, true_cosine, true_rank, hit_at_K ...) — aggregate the
    hit_at_K columns for recall@K.

    Scale shape: the eval set is a SAMPLE (5-30k pairs in the CLIP /
    LAION protocol), refusal-capped like cosine_topk, and rides
    broadcast: pass 1 equi-joins queries to their true image (nq rows,
    eager-checkpointed so the corpus is not re-derived), pass 2 scans
    the corpus once against the broadcast (query, true_cosine) table
    and counts, per query, the corpus rows that BEAT the true pair —
    ``cos > true_cos OR (cos == true_cos AND c_id < q_id)``. The rank
    is that count + 1: an aggregation with map-side partial combine,
    never a window sort over nq x nc scored rows. Two corpus scans,
    one nq-row shuffle, nothing else.

    Zero-norm edge: cosine is NULL for zero-norm vectors (see
    cosine_expr); a NULL never beats, and queries whose TRUE pair has
    NULL cosine (or no corpus row) are dropped — they have no defined
    rank. A NaN cosine (a NaN element) beats every number and ties
    with NaN, as Spark orders doubles in cosine_topk's window. Every
    comparison is between doubles produced by the same
    strict-left-fold expression on both engines, so ranks are
    bit-stable vs the DuckDB mirror (retrieval_eval_embeddings row)."""
    queries = _capped_queries(
        queries, max_queries,
        f"retrieval_rank_eval scans corpus x queries; the query "
        f"table exceeds max_queries={max_queries}. Evaluate on a "
        f"sample (the CLIP/LAION protocol), or raise the cap "
        f"explicitly.")
    truth = queries.join(
        corpus.select(F.col(c_id).alias(q_id), F.col(c_vec).alias("_tv")),
        on=q_id) \
        .withColumn("_true_cos", cosine_expr(q_vec, "_tv")) \
        .where(F.col("_true_cos").isNotNull()) \
        .select(q_id, q_vec, "_true_cos")
    # Pass 2 is ONE Arrow corpus scan against the collected truth
    # table (driver traffic <= max_queries rows) emitting per-TASK
    # partial beat counts, summed by a tiny aggregation; an interpreted
    # higher-order-fold cosine over a crossJoin costs ~20us per row.
    # vectors.cosine_tiles runs cosine_expr's strict-fold add chain, so
    # each (corpus row, query) cosine — and therefore every rank — is
    # bit-identical (pinned by
    # test_retrieval_rank_eval_matches_window_rank, which compares
    # against cosine_topk's Catalyst-fold window ranks).
    spark = corpus.sparkSession
    truth_rows = truth.collect()
    q_schema = truth.schema
    if not truth_rows:
        empty = local_table(spark, [], q_schema)
        return empty.select(
            q_id, F.lit(None).cast("double").alias("true_cosine"),
            F.lit(None).cast("bigint").alias("true_rank"),
            *[F.lit(None).cast("int").alias(f"hit_at_{k}")
              for k in hits_at])
    qids = np.array([r[q_id] for r in truth_rows])
    tcos = np.array([r["_true_cos"] for r in truth_rows],
                    dtype=np.float64)
    qvecs = [r[q_vec] for r in truth_rows]
    qlen = vectors.lengths(qvecs)
    groups = []
    for L in np.unique(qlen[qlen > 0]):
        idxs = np.flatnonzero(qlen == L)
        groups.append((L, idxs, vectors.matrix([qvecs[i] for i in idxs])))
    bc = spark.sparkContext.broadcast((groups, qids, tcos))

    def gen(batches):
        grps, qid_arr, tc_arr = bc.value
        nq = qid_arr.shape[0]
        beats_acc = np.zeros(nq, dtype=np.int64)
        saw_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            saw_rows = True
            cv = pdf[c_vec].to_numpy()
            cid = pdf[c_id].to_numpy()
            clen = vectors.lengths(cv)
            for L, idxs, Q in grps:
                rows = np.flatnonzero(clen == L)
                if rows.size == 0:
                    continue
                for i, j, cos, ok in vectors.cosine_tiles(
                        vectors.matrix(cv[rows]), Q):
                    r = rows[i:i + cos.shape[0]]
                    q = idxs[j:j + cos.shape[1]]
                    tcs = tc_arr[q][None, :]
                    # Spark's double order, as in cosine_topk's window:
                    # NaN sorts above every number and equals NaN
                    cnan, tnan = np.isnan(cos), np.isnan(tcs)
                    beats = ok & ((cos > tcs) | (cnan & ~tnan))
                    ii, jj = np.nonzero(ok & ((cos == tcs) | (cnan & tnan)))
                    beats[ii, jj] = cid[r[ii]] < qid_arr[q[jj]]
                    beats_acc[q] += beats.sum(axis=0)
        if saw_rows:
            # carry (q_id, true_cos) in the partials so the final agg
            # needs no join-back stage; float64 round-trips exactly, and
            # the unmasked Float64 keeps a NaN true cosine a NaN
            tc = pd.arrays.FloatingArray(tc_arr, np.zeros(nq, dtype=bool))
            yield pd.DataFrame({q_id: qid_arr, "_true_cos": tc,
                                "_beats": beats_acc})

    qt = q_schema[q_id].dataType.simpleString()
    partials = corpus.select(c_id, c_vec).mapInPandas(
        gen, schema=f"{q_id} {qt}, _true_cos double, _beats long")
    ranked = partials.groupBy(q_id, "_true_cos").agg(
        (F.sum("_beats") + F.lit(1)).cast("bigint").alias("true_rank"))
    return ranked.select(
        q_id, F.col("_true_cos").alias("true_cosine"), "true_rank",
        *[(F.col("true_rank") <= k).cast("int").alias(f"hit_at_{k}")
          for k in hits_at])
