"""Deduplication operators for large text/image corpora.

Engine-native additions beyond the reference (SURVEY.md's training-data
layer): exact dedup, MinHash+LSH, SimHash, and embedding near-dup.
Design rules: signatures are pure Catalyst expressions (md5 + array
lambdas, whole-stage codegen — NO Python in the hot path), candidate
generation is an equi-join on band/bucket keys so Catalyst can pick
broadcast vs shuffle-hash, and verification only ever touches candidate
pairs (never the full cross product). Because every hash is md5 over
deterministic strings, the full MinHash/SimHash pipelines are
reproducible in ANSI SQL and carry hard DuckDB oracles in the driver
contract (__spark_entry__.py).

Pair rule. Every LSH operator, batch or incremental, takes its
candidates from ``_bucket_pairs`` and verifies them in one join: a
batch dedup is an incremental probe whose corpus is empty. Rows sharing
a bucket pair up; without a corpus each pair is kept once, as
(id_a < id_b). With a corpus, a corpus id that the arriving batch also
holds is superseded by the batch version (its corpus rows are dropped,
both bucket and payload rows), and the kept pairs are (new id_a,
corpus id_b) in either id order plus (new id_a < new id_b), so the
result is the batch dedup of (corpus UNION new) restricted to pairs
touching a new row.
"""

from __future__ import annotations

import uuid
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window, functions as F

from ..functions import scanpar, vectors
from .similarity import cosine_expr, lcg_planes
from .text import shingle_expr

#: Max band-table bytes the LSH self-join will broadcast (estimated
#: from an observation on the band checkpoint — no job of its own).
MAX_BROADCAST_BAND_BYTES = 64 << 20

#: Bytes of one (id, band, band_key) band row besides its id: the
#: UnsafeRow null word and three 8-byte slots, plus the 32-character
#: md5 hex key.
_BAND_ROW_BYTES = 8 + 3 * 8 + 32


def _temp_view(df: DataFrame) -> str:
    """Collision-proof temp view name (id()-based names can be reused
    after GC within one session). Callers drop the view right after
    spark.sql() returns — analysis is eager, so the resolved plan no
    longer references it."""
    view = f"_rrs_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    return view


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols, id_col: str) -> DataFrame:
    """Keep one row (smallest id) per duplicate group of ``cols``."""
    w = Window.partitionBy(*cols).orderBy(id_col)
    return df.withColumn("_rn", F.row_number().over(w)) \
             .where(F.col("_rn") == 1).drop("_rn")


def duplicate_groups(df: DataFrame, cols, id_col: str) -> DataFrame:
    """(group key, n_dups, keeper id) for groups with more than one row."""
    return (
        df.groupBy(*cols)
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper"))
        .where(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# shingling + jaccard (python helpers used by tests as oracles)
# ---------------------------------------------------------------------------


def shingle_set(text: str, k: int) -> set[str]:
    """Distinct word k-shingles as strings — the python mirror of
    text.shingle_expr (split on single spaces, pad to >= 1 shingle)."""
    toks = text.split(" ")
    n = max(len(toks) - (k - 1), 1)
    return {" ".join(toks[i:i + k]) for i in range(n)}


def jaccard(text_a: str, text_b: str, k: int) -> float:
    sa, sb = shingle_set(text_a, k), shingle_set(text_b, k)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 1.0


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (pure Catalyst; SQL-oracled)
# ---------------------------------------------------------------------------


def minhash_bands(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  num_hashes: int = 64, bands: int = 16, shingle_k: int = 3) -> DataFrame:
    """(id, band, band_key) rows: LSH banding of minhash signatures.

    One md5 per shingle, split into two hex-parsed integers
    (h1 = 60-bit, h2 = 52-bit); signature i = min over shingles of the
    affine family h1 + i*h2 (stays < 2^61, no overflow); band_key =
    md5 of the band's '|'-joined signatures. Shape: explode shingles ->
    two hash columns -> groupBy(id) with num_hashes bigint min
    aggregates — all whole-stage codegen with map-side partial mins
    (one shuffle), the 100 TB plan as well as the fast local one.
    Exactly reproducible in DuckDB (the contract oracle)."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must divide evenly "
                         f"into bands ({bands})")
    r = num_hashes // bands
    # fan_out (round-8): the shingle explode + per-shingle md5 + the
    # 64-wide map-side partial mins would otherwise all run in ONE
    # task on a single-row-group scan (no-op on wide scans)
    view = _temp_view(scanpar.fan_out(
        docs.select(F.col(id_col), F.col(text_col)), key=id_col))
    k = shingle_k
    mins = ", ".join(f"min(_h1 + {i} * _h2) AS _m{i}"
                     for i in range(num_hashes))
    structs = ", ".join(
        "struct({b} AS band, md5(concat_ws('|', {cols})) AS band_key)".format(
            b=b, cols=", ".join(f"cast(_m{b * r + j} as string)"
                                for j in range(r)))
        for b in range(bands))
    # one spark.sql call: plan building stays JVM-side (the equivalent
    # Column-DSL build costs >1s of py4j round trips). The agg is WIDE
    # (num_hashes min columns) on purpose: one pass over the shingle
    # rows with 64 register-resident accumulators beats exploding the
    # hash index into 64x the rows (measured 10x on a 50k-doc corpus).
    out = docs.sparkSession.sql(f"""
        WITH t AS (
          -- materialize the token array once: a split() inside the
          -- transform lambda would re-split per shingle position (O(n^2))
          SELECT cast({id_col} as string) AS id,
                 split({text_col}, ' ') AS _toks
          FROM {view}),
        sh AS (
          SELECT id,
                 explode(array_distinct(transform(
                   sequence(1, greatest(size(_toks) - {k - 1}, 1)),
                   i -> array_join(slice(_toks, i, {k}), ' ')
                 ))) AS _s
          FROM t),
        hashed AS (
          SELECT id,
                 cast(conv(substring(md5(_s), 1, 15), 16, 10) as bigint) AS _h1,
                 cast(conv(substring(md5(_s), 17, 13), 16, 10) as bigint) AS _h2
          FROM sh),
        sigs AS (SELECT id, {mins} FROM hashed GROUP BY id)
        SELECT id, e.band AS band, e.band_key AS band_key
        FROM (SELECT id, explode(array({structs})) AS e FROM sigs)
    """)
    docs.sparkSession.catalog.dropTempView(view)
    return out


def _salt_sides(left: DataFrame, right: DataFrame, keys: list[str],
                hot_bucket_rows: int, hot_salt: int,
                sizes_from: DataFrame | None, salt_on: str = "id_a"):
    """``left`` and ``right`` with the ``_salt`` column of the hot-bucket
    guard, for a join or cogroup on ``keys + ["_salt"]``.

    A degenerate corpus (N identical/boilerplate docs) puts N rows into
    one bucket, and a plain equi-join then emits N^2 candidate rows from
    a SINGLE task — the classic minhash-dedup failure mode at corpus
    scale. Remedy: count rows per bucket (map-side partial agg, tiny
    output), broadcast the over-cap bucket keys, and for those buckets
    only, split the left side into ``hot_salt`` id-hash sub-buckets
    while replicating the right side across them. Every (a, b) pair
    still meets exactly once — a meets b in a's salt partition — but
    per-task work drops from n^2 to n^2/hot_salt. Cold buckets take
    salt 0 (bit-identical output either way). ``salt_on`` names the
    LEFT side's id column (the one hashed into sub-buckets).

    ``sizes_from=None`` says no bucket can be hot (the caller knows its
    whole table holds at most ``hot_bucket_rows`` rows): every row
    takes salt 0, and the bucket-size count and its broadcast — two
    Spark jobs — are not planned."""
    if sizes_from is None:
        return left.withColumn("_salt", F.lit(0)), \
            right.withColumn("_salt", F.lit(0))
    hot = (sizes_from.groupBy(*keys).count()
           .where(F.col("count") > hot_bucket_rows)
           .select(*keys, F.lit(True).alias("_hot")))
    lt = left.join(F.broadcast(hot), on=keys, how="left").withColumn(
        "_salt", F.when(F.col("_hot").isNotNull(),
                        F.pmod(F.xxhash64(salt_on), F.lit(hot_salt)))
                  .otherwise(F.lit(0)).cast("int")).drop("_hot")
    rt = right.join(F.broadcast(hot), on=keys, how="left") \
        .withColumn("_salts",
                    F.when(F.col("_hot").isNotNull(),
                           F.sequence(F.lit(0), F.lit(hot_salt - 1)))
                    .otherwise(F.array(F.lit(0)))) \
        .withColumn("_salt", F.explode("_salts")) \
        .drop("_hot", "_salts")
    return lt, rt


def _salted_bucket_join(left: DataFrame, right: DataFrame, keys: list[str],
                        hot_bucket_rows: int, hot_salt: int,
                        sizes_from: DataFrame | None,
                        salt_on: str = "id_a") -> DataFrame:
    """Equi-join on bucket ``keys`` with hot buckets salted (see
    _salt_sides)."""
    lt, rt = _salt_sides(left, right, keys, hot_bucket_rows, hot_salt,
                         sizes_from, salt_on)
    return lt.join(rt, on=keys + ["_salt"]).drop("_salt")


def _supersede(corpus: DataFrame, new: DataFrame) -> DataFrame:
    """``corpus`` rows without the ids ``new`` holds: the batch version
    of a replayed id wins. Bucket and payload rows take the same
    ``new`` (the batch's band rows), so the plan reuses one exchange."""
    return corpus.join(new.select("id").distinct(), on="id", how="left_anti")


def _bucket_pairs(new: DataFrame, keys: list[str],
                  corpus: DataFrame | None = None, carry=(),
                  broadcast: bool = False, hot_bucket_rows: int = 10_000,
                  hot_salt: int = 32) -> DataFrame:
    """Distinct candidate pairs of LSH bucket rows (id, *carry, *keys)
    that share every key in ``keys``: the one candidate generator of
    the LSH dedup operators, applying the module's pair rule. With no
    ``corpus`` it is the self-join of ``new``; with one, ``new`` is the
    arriving batch's rows and ``corpus`` the existing rows (replayed ids
    dropped here). Returns (id_a, id_b, <c>_a..., <c>_b...) for each
    ``carry`` column c. ``broadcast`` ships the right side whole (the
    caller knows it is small), which skips the salting too: a
    broadcastable table cannot host a task-killing bucket."""
    def side(df, s, *extra):
        return df.select(F.col("id").alias(f"id_{s}"),
                         *[F.col(c).alias(f"{c}_{s}") for c in carry],
                         *keys, *extra)

    if corpus is None:
        rows, extra = new, ()
        keep = F.col("id_a") < F.col("id_b")
    else:
        rows = new.withColumn("_corp", F.lit(False)) \
            .unionByName(_supersede(corpus, new).withColumn("_corp",
                                                            F.lit(True)))
        extra = ("_corp",)
        keep = ((F.col("id_a") != F.col("id_b"))
                & (F.col("_corp") | (F.col("id_a") < F.col("id_b"))))
    left, right = side(new, "a"), side(rows, "b", *extra)
    if broadcast:
        joined = left.join(F.broadcast(right), on=keys)
    else:
        joined = _salted_bucket_join(left, right, keys, hot_bucket_rows,
                                     hot_salt, rows)
    return joined.where(keep).select(
        "id_a", "id_b", *[f"{c}_{s}" for s in "ab" for c in carry]) \
        .distinct()


def lsh_candidate_pairs(band_rows: DataFrame,
                        broadcast_right: bool = False,
                        hot_bucket_rows: int = 10_000,
                        hot_salt: int = 32) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH bucket.
    Bucket self-join expressed as an equi-join on (band, band_key);
    pass ``broadcast_right`` when the band table is known-small (the
    caller usually just counted it) to skip both shuffle exchanges and
    the salting guard. Buckets with more than ``hot_bucket_rows`` rows
    are salted (see _salt_sides) so a boilerplate-heavy corpus can't go
    quadratic inside one task."""
    return _bucket_pairs(band_rows, ["band", "band_key"],
                         broadcast=broadcast_right,
                         hot_bucket_rows=hot_bucket_rows, hot_salt=hot_salt)


def _jaccard_expr(a: str, b: str):
    """Exact set jaccard of two distinct-shingle arrays, JVM-side."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def _verified(cand: DataFrame, payload: DataFrame, measure, name: str,
              threshold: float, corpus: DataFrame | None = None,
              new: DataFrame | None = None) -> DataFrame:
    """The one verify join: candidate pairs (id_a, id_b) whose
    ``measure`` of the two ids' payloads is >= threshold, as
    (id_a, id_b, name). ``payload`` and ``corpus`` are (id, _p) rows;
    a corpus row of an id the batch's band rows ``new`` hold is
    superseded (two rows per id would duplicate every pair touching
    it)."""
    if corpus is not None:
        payload = payload.unionByName(_supersede(corpus, new))

    def side(s):
        return payload.select(F.col("id").alias(f"id_{s}"),
                              F.col("_p").alias(f"_p{s}"))

    return cand.join(side("a"), "id_a").join(side("b"), "id_b") \
        .withColumn(name, measure("_pa", "_pb")) \
        .where(F.col(name) >= threshold) \
        .select("id_a", "id_b", name)


def _shingles(docs: DataFrame, text_col: str, id_col: str, shingle_k: int,
              fan_out: bool = False) -> DataFrame:
    """(id, _p) verification payload: each doc's distinct shingles."""
    toks = docs.select(F.col(id_col).cast("string").alias("id"),
                       F.split(F.col(text_col), " ").alias("_toks"))
    if fan_out:
        toks = scanpar.fan_out(toks, key="id")
    return toks.select("id", shingle_expr("_toks", shingle_k,
                                          tokens=True).alias("_p"))


def _vectors(embs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, _p) verification payload: each row's embedding."""
    return embs.select(F.col(id_col).cast("string").alias("id"),
                       F.col(vec_col).alias("_p"))


def minhash_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  num_hashes: int = 64, bands: int = 16, shingle_k: int = 3,
                  threshold: float = 0.8) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates refined by exact
    n-gram Jaccard >= threshold (array_intersect/array_union, JVM-side).
    Returns (id_a, id_b, jaccard). Zero Python in the pipeline."""
    # The band rows are ALWAYS eagerly checkpointed — the signature
    # aggregation (the expensive stage) runs once, and the join's two
    # sides (three with the salted path's hot-bucket count) read
    # materialized blocks (reclaimed on GC, unlike a bare persist).
    # The broadcast-vs-salted decision reads the table's size from an
    # observation on the checkpoint's own job, as semantic_dedup reads
    # its row count: band rows are fixed-width but for the id, so the
    # row count and the id bytes give the table's size without a count
    # job or a block-manager probe.
    size = Observation()
    band_rows = minhash_bands(docs, text_col, id_col, num_hashes, bands,
                              shingle_k) \
        .observe(size, F.count(F.lit(1)).alias("n"),
                 F.sum(F.octet_length("id")).alias("id_bytes")) \
        .localCheckpoint(eager=True)
    got = size.get
    small = ((got["id_bytes"] or 0) + got["n"] * _BAND_ROW_BYTES
             <= MAX_BROADCAST_BAND_BYTES)
    cand = lsh_candidate_pairs(band_rows, broadcast_right=small)
    # fan_out: the verification side's shingle arrays are row-local
    # HOF exprs — parallelize them off a single-row-group scan too
    texts = _shingles(docs, text_col, id_col, shingle_k, fan_out=True)
    return _verified(cand, texts, _jaccard_expr, "jaccard", threshold)


def minhash_dedup_incremental(new_docs: DataFrame, corpus: DataFrame,
                              text_col: str = "text", id_col: str = "doc_id",
                              num_hashes: int = 64, bands: int = 16,
                              shingle_k: int = 3, threshold: float = 0.8,
                              hot_bucket_rows: int = 10_000,
                              hot_salt: int = 32,
                              corpus_bands: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs for an APPEND-ONLY ingest: each new document is
    checked against the existing corpus AND against the other new
    documents, without re-pairing the corpus with itself — the shape a
    production training-data pipeline runs per arriving batch.

    Returns (id_a, id_b, jaccard) where id_a is always a NEW doc and
    id_b is either a corpus doc (any order; a new doc whose id already
    EXISTS in the corpus never self-pairs) or a later new doc
    (id_a < id_b, so within-batch pairs appear once). Equals the full
    minhash_dedup over (corpus UNION new) restricted to pairs touching
    a new doc (pinned by test).

    Scale shape: pass ``corpus_bands`` (a persisted minhash_bands
    output — write it to parquet once, append each batch's band rows)
    and only the NEW batch is hashed per increment; without it the
    corpus is re-banded for convenience. Corpus shingle arrays are only
    computed for VERIFICATION and only for candidate ids (the join
    below prunes them), so the probe-side cost scales with the batch."""
    # the batch's band rows feed the join's left side, the union, and
    # the replay filter — checkpoint so the batch is hashed once
    nb = minhash_bands(new_docs, text_col, id_col, num_hashes, bands,
                       shingle_k).localCheckpoint(eager=True)
    cb = corpus_bands if corpus_bands is not None else minhash_bands(
        corpus, text_col, id_col, num_hashes, bands, shingle_k)
    cand = _bucket_pairs(nb, ["band", "band_key"], cb,
                         hot_bucket_rows=hot_bucket_rows, hot_salt=hot_salt)
    return _verified(cand, _shingles(new_docs, text_col, id_col, shingle_k),
                     _jaccard_expr, "jaccard", threshold,
                     _shingles(corpus, text_col, id_col, shingle_k), nb)


def embedding_neardup_incremental(new_embs: DataFrame, corpus: DataFrame,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  bands: int = 16, band_planes: int = 16,
                                  threshold: float = 0.95,
                                  seed: int | None = None,
                                  hot_bucket_rows: int = 10_000,
                                  hot_salt: int = 32,
                                  corpus_bands: DataFrame | None = None) -> DataFrame:
    """embedding_neardup for an APPEND-ONLY ingest — the
    minhash_dedup_incremental shape in cosine space: each new vector is
    checked against the corpus AND the other new vectors, without
    re-pairing the corpus with itself. Returns (id_a, id_b, cosine)
    with id_a always NEW; id_b a corpus id (any order) or a later new
    id (id_a < id_b). Replayed ids are superseded by the batch version
    (corpus rows dropped — replay-idempotent). Pass ``corpus_bands`` (a
    persisted embedding_bands output, appended per batch) so only the
    new batch is hashed per increment. Equals the full
    embedding_neardup over (corpus UNION new) restricted to pairs
    touching a new vector (pinned by test)."""
    nb = embedding_bands(new_embs, id_col, vec_col, bands, band_planes,
                         seed).localCheckpoint(eager=True)
    cb = corpus_bands if corpus_bands is not None else embedding_bands(
        corpus, id_col, vec_col, bands, band_planes, seed)
    cand = _bucket_pairs(nb, ["band", "bucket"], cb,
                         hot_bucket_rows=hot_bucket_rows, hot_salt=hot_salt)
    return _verified(cand, _vectors(new_embs, id_col, vec_col), cosine_expr,
                     "cosine", threshold, _vectors(corpus, id_col, vec_col),
                     nb)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iters: int = 25) -> DataFrame:
    """Transitive duplicate clusters from near-dup pairs: iterative
    min-label propagation (each node adopts the smallest label among
    itself and its neighbors until fixpoint — converges in O(component
    diameter) rounds, each one shuffle). The canonical keeper of a
    cluster is its component id (the smallest member). Returns
    (node, component).

    This is the engine's iterative-algorithm surface: driver-side loop
    with a convergence check, per-round persist/unpersist — the same
    shape PageRank/label-propagation jobs use at scale."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    e = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))) \
        .distinct().persist()
    # eager localCheckpoint per round: materializes the round AND cuts
    # the lineage — without it each round's plan nests the previous
    # round's join, and the per-round convergence check (which only
    # computes a prefix of the cache) re-derives that nested lineage
    # with exponential blowup over the rounds
    labels = e.select(F.col("src").alias("node")).distinct() \
              .withColumn("label", F.col("node")).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iters):
        prop = (e.join(labels.select(F.col("node").alias("dst"),
                                     F.col("label").alias("nlabel")), "dst")
                 .groupBy("src").agg(F.min("nlabel").alias("prop")))
        new_labels = (labels.join(prop, labels.node == prop.src, "left")
                      .select(F.col("node"),
                              F.least(F.col("label"),
                                      F.coalesce(F.col("prop"),
                                                 F.col("label"))).alias("label"))
                      .localCheckpoint(eager=True))
        converged = new_labels.alias("n").join(
            labels.alias("o"), "node").where("n.label != o.label").isEmpty()
        labels = new_labels
        if converged:
            break
    e.unpersist()
    if not converged:
        # returning unconverged labels would silently split clusters
        # whose diameter exceeds the iteration budget — fail loudly
        raise RuntimeError(
            f"connected_components did not converge within max_iters="
            f"{max_iters} rounds (a component's diameter exceeds the "
            f"budget); raise max_iters — each round is one shuffle and "
            f"convergence is O(max component diameter)")
    return labels.select("node", F.col("label").alias("component"))


def keep_canonical(docs: DataFrame, dup_pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop every row that near-duplicates a smaller id (greedy keeper
    rule; standard for LSH dedup pipelines)."""
    losers = dup_pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash (pure Catalyst; SQL-oracled)
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash (bigint, two's complement). Token hash = first 16
    hex chars of md5(token), parsed as four 16-bit groups; bit j
    (= 16*(j div 16) + j mod 16) of the simhash is set when the
    per-token votes (+1/-1 on that bit) sum positive; ties (vote sum 0)
    leave the bit clear.

    Shape: explode tokens -> 4 hex-parsed group columns -> groupBy(id)
    with 64 shift/mask sum aggregates (map-side partials, one shuffle)
    -> assemble the bigint. Pure codegen'd expressions, mirrored in
    DuckDB via ('0x' || substr(md5(t), ...))::BIGINT for the oracle.
    fan_out (round-8): the md5-per-token explode + map-side partial
    aggregation would otherwise run in ONE task on a single-row-group
    scan (no-op on wide scans)."""
    view = _temp_view(scanpar.fan_out(
        docs.select(F.col(id_col), F.col(text_col)), key=id_col))
    votes = ", ".join(
        f"sum(if((shiftright(_g{j // 16}, {j % 16}) & 1) = 1, 1, -1)) AS _v{j}"
        for j in range(64))
    groups = ", ".join(
        f"cast(conv(substring(md5(_t), {4 * g + 1}, 4), 16, 10) as int) AS _g{g}"
        for g in range(4))
    # bit 63 in two's complement: int64 min (built without literal overflow)
    terms = " + ".join(
        f"if(_v{j} > 0, " +
        ("(-9223372036854775807L - 1L)" if j == 63 else f"{1 << j}L") + ", 0L)"
        for j in range(64))
    out = docs.sparkSession.sql(f"""
        WITH toks AS (
          SELECT cast({id_col} as string) AS id,
                 explode(split({text_col}, ' ')) AS _t
          FROM {view}),
        hs AS (SELECT id, {groups} FROM toks),
        agg AS (SELECT id, {votes} FROM hs GROUP BY id)
        SELECT id, {terms} AS simhash FROM agg
    """)
    docs.sparkSession.catalog.dropTempView(view)
    return out


# ---------------------------------------------------------------------------
# blocked-LSH hamming join (shared by simhash_dedup and phash_neardup)
# ---------------------------------------------------------------------------


def _block_plan(total_bits: int, max_hamming: int, blocks: int | None):
    """Split ``total_bits`` into ``blocks`` contiguous blocks. Recall is
    structural: a pair within ``max_hamming`` differs in at most
    max_hamming blocks, so with blocks > max_hamming the pigeonhole
    guarantees at least one shared block. ``blocks=None`` derives the
    minimal complete count (max_hamming + 1)."""
    if blocks is None:
        blocks = max_hamming + 1
    if max_hamming >= blocks:
        raise ValueError(
            f"blocked-LSH recall requires max_hamming < blocks "
            f"(got max_hamming={max_hamming}, blocks={blocks}); pass "
            f"blocks=None to derive a complete block count")
    if blocks > total_bits:
        raise ValueError(f"blocks={blocks} exceeds {total_bits} hash bits")
    base, rem = divmod(total_bits, blocks)
    plan, start = [], 0
    for i in range(blocks):
        w = base + (1 if i < rem else 0)
        plan.append((i, start, w))
        start += w
    return plan


def _block_rows(keyed: DataFrame, hash_col: str, max_hamming: int,
                blocks: int | None) -> DataFrame:
    """Exploded pigeonhole-block rows (id, hv, bi, bv) for the blocked
    hamming join — shared by the batch and incremental variants."""
    plan = _block_plan(64, max_hamming, blocks)
    entries = F.array(*[
        F.struct(
            F.lit(i).alias("bi"),
            (F.col(hash_col) if w == 64
             else F.shiftrightunsigned(F.col(hash_col), s)
                   .bitwiseAND(F.lit((1 << w) - 1))).alias("bv"))
        for (i, s, w) in plan
    ])
    return keyed.select("id", F.col(hash_col).alias("hv"),
                        F.explode(entries).alias("e")) \
                .select("id", "hv", F.col("e.bi").alias("bi"),
                        F.col("e.bv").alias("bv"))


def _blocked_hamming_pairs(keyed: DataFrame, hash_col: str,
                           max_hamming: int, blocks: int | None,
                           hot_bucket_rows: int = 10_000,
                           hot_salt: int = 32,
                           corpus: DataFrame | None = None) -> DataFrame:
    """Candidate pairs by block-pigeonhole LSH over ``keyed`` =
    (id, hash_col), verified with bit_count(xor) entirely JVM-side.
    One equi-join on (block idx, block value); complete for hamming
    <= max_hamming by construction. Hot (block, value) buckets — e.g.
    N identical hashes — are salted so no task goes quadratic. With
    ``corpus`` (id, hash_col) rows, ``keyed`` is an arriving batch
    probed against them (the module's pair rule). Returns
    (id_a, id_b, hamming)."""
    # the exploded block rows feed the join's left side, right side,
    # AND the hot-bucket count — checkpoint so the upstream signature
    # aggregation (simhash's 64-wide agg) runs once, not three times
    ex = _block_rows(keyed, hash_col, max_hamming, blocks) \
        .localCheckpoint(eager=True)
    cb = None if corpus is None else _block_rows(corpus, hash_col,
                                                 max_hamming, blocks)
    cand = _bucket_pairs(ex, ["bi", "bv"], cb, carry=("hv",),
                         hot_bucket_rows=hot_bucket_rows, hot_salt=hot_salt)
    ham = F.bit_count(F.col("hv_a").bitwiseXOR(F.col("hv_b")))
    return cand.withColumn("hamming", ham) \
               .where(F.col("hamming") <= max_hamming) \
               .select("id_a", "id_b", "hamming")


def simhash_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, blocks: int | None = None,
                  hot_bucket_rows: int = 10_000,
                  hot_salt: int = 32) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.
    Blocks derive from max_hamming (pigeonhole-complete recall) unless
    given explicitly, in which case max_hamming < blocks is enforced."""
    sh = simhash(docs, text_col, id_col)
    return _blocked_hamming_pairs(sh, "simhash", max_hamming, blocks,
                                  hot_bucket_rows, hot_salt)


# ---------------------------------------------------------------------------
# image near-dup: phash hamming + caption equality (input_hint M8)
# ---------------------------------------------------------------------------


def phash_neardup(images: DataFrame, max_hamming: int = 6,
                  id_col: str = "image_id", hash_col: str = "phash",
                  blocks: int | None = None,
                  hot_bucket_rows: int = 10_000,
                  hot_salt: int = 32) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash hamming distance.

    Blocked-LSH candidates (complete for hamming <= max_hamming since
    blocks > max_hamming always holds), verified with bit_count(xor)
    JVM-side. Returns (id_a, id_b, hamming)."""
    return _blocked_hamming_pairs(_phashes(images, id_col, hash_col), "ph",
                                  max_hamming, blocks, hot_bucket_rows,
                                  hot_salt)


def phash_neardup_incremental(new_images: DataFrame, corpus: DataFrame,
                              max_hamming: int = 6,
                              id_col: str = "image_id",
                              hash_col: str = "phash",
                              blocks: int | None = None,
                              hot_bucket_rows: int = 10_000,
                              hot_salt: int = 32) -> DataFrame:
    """Near-dup image pairs for an APPEND-ONLY ingest: each new image
    is checked against the existing corpus AND against the rest of its
    batch, never corpus x corpus — minhash_dedup_incremental's shape
    in phash-hamming space. Returns (id_a, id_b, hamming) with id_a
    always NEW; replayed ids (already in the corpus) are superseded by
    the batch version. Equals phash_neardup over (corpus UNION new)
    restricted to pairs touching a new image (pinned by test).

    Scale shape: only the batch's block rows are built per increment
    against the corpus block rows (hashes are precomputed columns, so
    the corpus side is a cheap 11-way explode of (id, phash) — or
    persist the exploded rows alongside the register to skip even
    that)."""
    return _blocked_hamming_pairs(_phashes(new_images, id_col, hash_col),
                                  "ph", max_hamming, blocks, hot_bucket_rows,
                                  hot_salt, _phashes(corpus, id_col, hash_col))


def _phashes(images: DataFrame, id_col: str, hash_col: str) -> DataFrame:
    return images.select(F.col(id_col).cast("string").alias("id"),
                         F.col(hash_col).alias("ph"))


# ---------------------------------------------------------------------------
# embedding near-dup (cosine)
# ---------------------------------------------------------------------------


def _embedding_planes(dim: int, bands: int, band_planes: int,
                      seed: int | None):
    """(bands * band_planes, dim) hyperplane matrix shared by the batch
    and streaming embedding-LSH paths: deterministic LCG planes when
    seed is None (SQL-mirrorable), gaussian otherwise."""
    n_planes = bands * band_planes
    if seed is None:
        return vectors.matrix(lcg_planes(n_planes, dim))
    return np.random.default_rng(seed).normal(size=(n_planes, dim))


def _embedding_band_keys(mat: np.ndarray, planes, bands: int,
                         band_planes: int,
                         fold_order: bool = True) -> np.ndarray:
    """(rows, bands) int64 band bucket keys: sign bits of the plane
    dots — the single source of truth for bucket identity across
    embedding_bands (batch) and stream_embedding_neardup.

    ``fold_order=True`` computes each dot as a strict left fold
    (vectors.dot) so signs are bit-identical to the SQL oracle's
    list_reduce — required for the LCG (seed=None) contract path.
    ``fold_order=False`` is one ``mat @ planes.T`` matmul: numpy's
    pairwise summation differs from the fold by fp association only,
    which can flip a sign exactly on a dot at 0.0 — impossible for
    gaussian planes (measure-zero) — so the seeded production path
    takes the fast kernel."""
    dots = (vectors.dot(mat[:, None], planes[None]) if fold_order
            else mat @ planes.T)
    signs = dots > 0                                   # (rows, bands*planes)
    weights = (1 << np.arange(band_planes, dtype=np.int64))
    return (signs.reshape(mat.shape[0], bands, band_planes)
            * weights).sum(axis=2, dtype=np.int64)


def embedding_bands(embs: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding", bands: int = 16,
                    band_planes: int = 16, seed: int | None = None) -> DataFrame:
    """(id, band, bucket) rows: banded random-hyperplane signatures.

    ``bands`` independent sign signatures of ``band_planes`` hyperplanes
    each — the minhash_bands shape for cosine space. A pair at angle
    theta shares a given band with p = (1 - theta/pi)^band_planes, and
    is MISSED by all bands with (1 - p)^bands: at cosine 0.95 the
    defaults give ~98% structural recall, where a single 16-plane
    signature (the round-2 design) caught only ~18%. band_planes also
    sets the BACKGROUND candidate rate for unrelated pairs (~bands *
    2^-band_planes): the 16x16 defaults admit ~0.02% of random pairs,
    keeping candidate volume near-linear on large corpora — fewer
    planes per band (e.g. 6) would make >10% of ALL pairs candidates,
    which is quadratic again at corpus scale.

    ``seed=None`` (default) uses the deterministic LCG hyperplanes with
    strict fold-order dot products, so every bucket bit is reproducible
    in ANSI SQL — the driver-contract oracle drives THIS operator.
    Pass a seed for independent random planes."""
    band_cols = [f"_bk{b}" for b in range(bands)]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = vectors.matrix(pdf[vec_col])
            if planes is None:
                planes = _embedding_planes(mat.shape[1], bands, band_planes,
                                           seed)
            keys = _embedding_band_keys(mat, planes, bands, band_planes,
                                        fold_order=seed is None)
            cols = {"id": pdf[id_col].astype(str)}
            for b in range(bands):
                cols[band_cols[b]] = keys[:, b]
            yield pd.DataFrame(cols)

    keyed = embs.mapInPandas(
        gen, schema="id string, " + ", ".join(f"{c} long" for c in band_cols))
    entries = F.array(*[
        F.struct(F.lit(b).alias("band"), F.col(band_cols[b]).alias("bucket"))
        for b in range(bands)])
    return keyed.select("id", F.explode(entries).alias("e")) \
                .select("id", F.col("e.band").alias("band"),
                        F.col("e.bucket").alias("bucket"))


def embedding_neardup(embs: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding", bands: int = 16,
                      band_planes: int = 16, threshold: float = 0.95,
                      seed: int | None = None,
                      hot_bucket_rows: int = 10_000,
                      hot_salt: int = 32) -> DataFrame:
    """Near-dup pairs by cosine >= threshold: banded multi-signature
    LSH candidates (union over bands — structural recall, see
    embedding_bands), exact JVM-side cosine verification restricted to
    candidates. Hot buckets are salted like the minhash path. Returns
    (id_a, id_b, cosine)."""
    # the band rows feed the join's left side, right side, and the
    # hot-bucket count — checkpoint so the hyperplane UDF (the
    # expensive stage) runs once over the corpus, not three times
    band_rows = embedding_bands(embs, id_col, vec_col, bands, band_planes,
                                seed).localCheckpoint(eager=True)
    cand = _bucket_pairs(band_rows, ["band", "bucket"],
                         hot_bucket_rows=hot_bucket_rows, hot_salt=hot_salt)
    return _verified(cand, _vectors(embs, id_col, vec_col), cosine_expr,
                     "cosine", threshold)


def _semdedup_assign_udf(id_col: str, vec_col: str, cents):
    """Per-batch Arrow kernel: argmin-sqdist cluster (strict fold
    distances, ties to the lowest centroid id — np.argmin's first-min
    == the oracle's CASE WHEN d_i = m ordered scan) plus the cosine to
    the assigned centroid, every sum a strict left fold so the value is
    bit-identical to the DuckDB list_reduce mirror."""
    C = vectors.matrix(cents)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = vectors.matrix(pdf[vec_col])
            cluster = np.argmin(vectors.sqdist(mat[:, None], C[None]), axis=1)
            # NaN where the denominator is 0, so it becomes None below
            sim, _ = vectors.cosine(mat, C[cluster])
            yield pd.DataFrame({
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
                "cluster": cluster.astype(np.int32),
                "centroid_sim": [None if not np.isfinite(s) else float(s)
                                 for s in sim],
            })
    return gen


def _salted_pair_cogroup(left: DataFrame, right: DataFrame,
                         keys: list[str], hot_bucket_rows: int,
                         hot_salt: int, sizes_from: DataFrame | None,
                         kernel, schema: str,
                         salt_on: str = "id_a") -> DataFrame:
    """_salted_bucket_join's exact salt decomposition, expressed as a
    COGROUP instead of a join: the kernel receives each (keys, salt)
    group's left and right member rows ONCE and emits whatever pair
    rows it derives — so heavy per-row payloads (vectors) cross the
    shuffle and the Arrow boundary once per task, not once per
    candidate pair (round-8; guide section 8's "ship each heavy row
    once" rule). Hot buckets (> hot_bucket_rows rows) split the left
    side into hot_salt id-hash sub-buckets with the right side
    replicated across them — every (a, b) pair meets exactly once, in
    a's salt partition, identical to the join variant.

    ``sizes_from=None``: no bucket can be hot (see _salt_sides).
    Salting never changes the output."""
    lt, rt = _salt_sides(left, right, keys, hot_bucket_rows, hot_salt,
                         sizes_from, salt_on)
    # both sides share the checkpointed parent, so identical key
    # attribute ids would be flagged ambiguous by the cogroup's
    # analyzer — rename the right side's keys (cogroup matches groups
    # by key VALUE, names may differ per side)
    for k in keys:
        rt = rt.withColumnRenamed(k, f"_r_{k}")
    return lt.groupBy(*keys, "_salt") \
        .cogroup(rt.groupBy(*[f"_r_{k}" for k in keys], "_salt")) \
        .applyInPandas(kernel, schema=schema)


def _semdedup_pair_kernel(threshold: float):
    """Cogroup kernel for semantic_dedup's pair stage: all-pairs
    strict-fold cosine between a group's left (id_a, va, cs_a) and
    right (id_b, vb, cs_b) rows, emitting (id_a, id_b, cs_a, cs_b)
    for pairs with id_a < id_b and cosine >= threshold. The cosine is
    vectors.cosine_tiles, cosine_expr's float64 add chain (dot and
    both norms accumulated d = 0..L-1) over TILE x TILE blocks, so
    every pair cosine — and the kept pair set — is bit-identical to
    cosine_expr + threshold over the salted join (pinned by
    test_semdedup_cogroup_pairs_match_join_kernel) and memory stays
    bounded whatever the cluster size. Length-mismatched, null and
    zero-norm pairs drop, as cosine_expr's NULL does."""
    cols = ["id_a", "id_b", "cs_a", "cs_b"]

    def fn(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame(columns=cols)
        va = lpdf["va"].to_numpy()
        vb = rpdf["vb"].to_numpy()
        la, lb = vectors.lengths(va), vectors.lengths(vb)
        ida = lpdf["id_a"].to_numpy()
        idb = rpdf["id_b"].to_numpy()
        csa = lpdf["cs_a"].to_numpy()
        csb = rpdf["cs_b"].to_numpy()
        outs = []
        for L in np.unique(la[la > 0]):
            li = np.flatnonzero(la == L)
            rj = np.flatnonzero(lb == L)
            if rj.size == 0:
                continue
            for i, j, cos, ok in vectors.cosine_tiles(
                    vectors.matrix(va[li]), vectors.matrix(vb[rj])):
                ii, jj = np.nonzero(ok & (cos >= threshold))
                a, b = li[i + ii], rj[j + jj]
                lt = ida[a] < idb[b]
                if lt.any():
                    a, b = a[lt], b[lt]
                    outs.append(pd.DataFrame({
                        "id_a": ida[a], "id_b": idb[b],
                        "cs_a": csa[a], "cs_b": csb[b]}))
        if not outs:
            return pd.DataFrame(columns=cols)
        return pd.concat(outs, ignore_index=True)

    return fn


def semantic_dedup(embs: DataFrame, cents, threshold: float = 0.9,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   hot_cluster_rows: int = 100_000,
                   hot_salt: int = 32) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then prune near-duplicate pairs WITHIN each
    cluster, keeping the member farther from its centroid (the paper's
    low-centroid-similarity keep rule — prototypical near-dups go,
    outliers stay).  Pair rule, greedy and deterministic: for every
    same-cluster pair with cosine >= ``threshold``, drop the higher
    ``centroid_sim`` member (ties: the larger id).  Returns one row per
    input vector: (id, cluster, centroid_sim, kept).

    ``cents`` is the centroid list (e.g. ``similarity.lcg_centroids``
    for the SQL-oracled deterministic variant, or
    ``similarity.train_ivf_centroids_distributed`` for trained ones).

    Scale shape: centroids ship inside the Arrow kernel (broadcast
    metadata, one corpus scan assigns cluster + centroid cosine); the
    only shuffle is the cluster-keyed self-equi-join, hot clusters
    salted like every other dedup candidate join; pair cosines run in
    a tiled Arrow kernel (strict folds vectorized across pairs — see
    _semdedup_pair_kernel), not per-pair interpreted
    expressions.  Within-cluster work
    is O((n/k)^2) per cluster — size the centroid count so clusters
    stay bounded (the paper runs 50k clusters at 5B embeddings), and
    the salting caps per-task blowup when the clustering is skewed.
    All sums are strict left folds, so cluster assignment, centroid
    cosine, and the keep decision are bit-identical to the DuckDB
    list_reduce mirror (semdedup_embeddings contract row)."""
    schema = (f"{id_col} {dict(embs.dtypes)[id_col]}, "
              f"{vec_col} {dict(embs.dtypes)[vec_col]}, "
              f"cluster int, centroid_sim double")
    # (no fan_out here: the pair stage below redistributes by
    # (cluster, salt) anyway, so the cogroup — not the scan layout —
    # provides the pair-stage parallelism; the assign kernel itself is
    # O(n x k) and cheap relative to an extra exchange)
    rows = Observation()
    assigned = embs.select(id_col, vec_col) \
        .mapInPandas(_semdedup_assign_udf(id_col, vec_col, cents),
                     schema=schema) \
        .observe(rows, F.count(F.lit(1)).alias("n")) \
        .localCheckpoint(eager=True)
    # Round-8 pair stage: the old salted self-JOIN shipped BOTH
    # vectors on every candidate row into the pair kernel — ~n_c
    # duplications of each vector through the Arrow boundary (385k
    # pair rows x 1 KB at sf0.1). The salted COGROUP below keeps the
    # identical (cluster, salt) task decomposition (hot clusters
    # split hot_salt ways, every pair meets exactly once in the left
    # member's salt partition) but ships each vector ONCE per task;
    # the kernel runs the same dimension-axis strict-fold loop over
    # the group's cross product, so pair cosines — and the emitted
    # pair set — are bit-identical (parity pinned by
    # test_semdedup_cogroup_pairs_match_join_kernel).
    left = assigned.select(F.col(id_col).alias("id_a"), "cluster",
                           F.col(vec_col).alias("va"),
                           F.col("centroid_sim").alias("cs_a"))
    right = assigned.select(F.col(id_col).alias("id_b"), "cluster",
                            F.col(vec_col).alias("vb"),
                            F.col("centroid_sim").alias("cs_b"))
    id_t = dict(embs.dtypes)[id_col]
    # the checkpoint's job counted the rows: a cluster holds at most
    # all of them, so within hot_cluster_rows none can be hot
    sizes_from = assigned if rows.get["n"] > hot_cluster_rows else None
    pairs = _salted_pair_cogroup(
        left, right, ["cluster"], hot_cluster_rows, hot_salt, sizes_from,
        _semdedup_pair_kernel(threshold),
        schema=f"id_a {id_t}, id_b {id_t}, cs_a double, cs_b double")
    dropped = pairs.select(
        F.when(F.col("cs_a") > F.col("cs_b"), F.col("id_a"))
         .when(F.col("cs_b") > F.col("cs_a"), F.col("id_b"))
         .otherwise(F.greatest("id_a", "id_b")).alias(id_col)).distinct()
    return assigned.join(dropped.withColumn("_drop", F.lit(True)),
                         on=id_col, how="left") \
        .select(id_col, "cluster", "centroid_sim",
                F.col("_drop").isNull().alias("kept"))


def decontaminate(docs: DataFrame, test_set: DataFrame,
                  shingle_k: int = 8, min_hits: int = 1,
                  text_col: str = "text", id_col: str = "doc_id",
                  test_text_col: str = "text",
                  test_id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination — the training-corpus hygiene join:
    flag every training document sharing at least ``min_hits`` word
    ``shingle_k``-grams with any evaluation/test document (the
    standard n-gram-overlap contamination rule). Returns one row per
    contaminated (doc_id, test_id) pair with the exact distinct-gram
    overlap count; anti-join the ids against the corpus to drop them
    (see ``keep_uncontaminated``).

    Shape: both sides shingle with the SAME pure-Catalyst expression
    the minhash pipeline uses (tokenize once, distinct k-grams), the
    join is a plain equi-join on the gram STRING — at corpus scale the
    test side is tiny (benchmarks are small), so Catalyst broadcasts
    it and the corpus is never shuffled; the overlap count is one
    partial-aggregated groupBy. Exactly SQL-oracled (DuckDB mirrors
    the shingling verbatim)."""
    d = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                    F.split(F.col(text_col), " ").alias("_toks")) \
            .select("doc_id", F.explode(shingle_expr(
                "_toks", shingle_k, tokens=True)).alias("_g"))
    t = test_set.select(
        F.col(test_id_col).cast("string").alias("test_id"),
        F.split(F.col(test_text_col), " ").alias("_toks")) \
        .select("test_id", F.explode(shingle_expr(
            "_toks", shingle_k, tokens=True)).alias("_g"))
    hits = (d.join(t, on="_g")
            .groupBy("doc_id", "test_id")
            .agg(F.count("*").cast("bigint").alias("n_hits"))
            .where(F.col("n_hits") >= min_hits))
    return hits


def keep_uncontaminated(docs: DataFrame, contaminated: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Drop every document decontaminate() flagged (left-anti join on
    the distinct contaminated ids)."""
    bad = contaminated.select(
        F.col("doc_id").alias("_bad")).distinct()
    return docs.join(bad, on=F.col(id_col).cast("string") == F.col("_bad"),
                     how="left_anti")
