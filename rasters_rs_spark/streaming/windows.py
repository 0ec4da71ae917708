"""Event-time windowed aggregation: batch and Structured Streaming.

The reference has no streaming dataflow (its "streaming" is a progress
thread, cli/progress.rs); the engine still ships the standard
event-table operators a large pipeline needs:

- ``tumbling_agg``: fixed windows over event time; identical semantics
  in batch (groupBy window()) and streaming (readStream + watermark) —
  the streaming variant is tested to converge to the batch answer.
- ``sessionize``: gap-based session windows via lag/cumsum window
  functions (batch, SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def tumbling_agg(events: DataFrame, window: str = "1 hour",
                 ts_col: str = "ts", key_col: str = "event_type") -> DataFrame:
    """Per-(window, key) count and exact decimal sum of ``value``."""
    return (
        events.groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(F.count("*").cast("bigint").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             .alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
                key_col, "n", "sum_value")
    )


def stream_tumbling_agg(spark: SparkSession, source_dir: str, schema: str,
                        window: str = "1 hour", watermark: str = "2 hours",
                        ts_col: str = "ts", key_col: str = "event_type"):
    """Structured Streaming variant: parquet file source -> watermark ->
    windowed aggregate. Returns the streaming DataFrame; callers attach
    a sink (tests use a memory sink with trigger availableNow)."""
    stream = (spark.readStream.schema(schema).parquet(source_dir)
              # watermarks need TIMESTAMP (not NTZ); session TZ is UTC so
              # the cast is value-identical
              .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
              .withWatermark(ts_col, watermark))
    return (
        stream.groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(F.count("*").cast("bigint").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             .alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
                key_col, "n", "sum_value")
    )


def stream_user_stats(spark: SparkSession, source_dir: str, schema: str,
                      user_col: str = "user_id"):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (event count, value sum, max ts) maintained in
    GroupState across micro-batches. Emits the updated row for every
    user seen in each batch; converges to the batch groupBy answer."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame([{
            "user_id": int(key[0]), "n_events": n,
            "sum_value": total,
        }])

    return (
        stream.groupBy(user_col).applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_sessionize(spark: SparkSession, source_dir: str, schema: str,
                      gap_seconds: int = 1800, ts_col: str = "ts",
                      user_col: str = "user_id"):
    """Streaming sessionization via applyInPandasWithState: per-user
    GroupState carries the open session (index, start, last ts, count)
    across micro-batches; each batch emits an update row for every
    session it touched (closed or still open). With per-user arrival
    in event-time order (late rows would need a watermark + reorder
    buffer), the LAST update per (user, session_idx) converges to the
    batch ``sessionize`` answer — tested."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def fmt(epoch_us: int) -> str:
        return pd.Timestamp(epoch_us, unit="us").strftime("%Y-%m-%d %H:%M:%S")

    def update(key, pdfs, state: GroupState):
        if state.exists:
            sid, start_us, last_us, n = state.get
        else:
            sid, start_us, last_us, n = 0, None, None, 0
        touched = {}
        # sort across the WHOLE micro-batch: pdfs yields Arrow chunks,
        # and per-chunk sorting regresses last_us when a user's rows
        # span chunks (or arrive chunk-reordered by the shuffle)
        ts_all = []
        for pdf in pdfs:
            ts_all.extend(pdf[ts_col])
        for t in sorted(ts_all):
            t_us = int(pd.Timestamp(t).value // 1000)
            if last_us is None or (t_us - last_us) > gap_seconds * 1_000_000:
                if sid > 0:
                    touched[sid] = (start_us, last_us, n)  # closed
                sid += 1
                start_us, n = t_us, 0
            n += 1
            last_us = t_us
        touched[sid] = (start_us, last_us, n)  # open session update
        state.update((sid, start_us, last_us, n))
        yield pd.DataFrame([
            {"user_id": int(key[0]), "session_idx": s,
             "n_events": cnt, "t_start": fmt(s0), "t_end": fmt(s1)}
            for s, (s0, s1, cnt) in touched.items()
        ])

    return stream.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=("user_id long, session_idx long, n_events long, "
                          "t_start string, t_end string"),
        stateStructType="sid long, start_us long, last_us long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessionize_late(spark: SparkSession, source_dir: str, schema: str,
                           gap_seconds: int = 1800, watermark: str = "1 hour",
                           ts_col: str = "ts", user_col: str = "user_id",
                           max_files_per_trigger: int | None = None):
    """Watermarked streaming sessionization tolerating LATE/OUT-OF-ORDER
    arrival (the production variant of ``stream_sessionize``).

    Per-user GroupState buffers unfinalized event timestamps (packed
    float64 binary). Each batch merges + sorts the buffer, then emits —
    as FINAL, append-style rows — every session whose close precedes
    the current watermark by more than ``gap_seconds`` (no later event
    can extend or split it); the rest stay buffered. An event-time
    timeout re-invokes idle users once the watermark passes their
    buffer so trailing sessions flush without new data. Late rows
    within the watermark reorder correctly; rows later than the
    watermark are dropped by Spark upstream (standard semantics).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (reader.parquet(source_dir)
              .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
              .withWatermark(ts_col, watermark))
    # note: event-time timeouts fire on the micro-batch AFTER the
    # watermark advances; a source that ends abruptly flushes trailing
    # sessions only when a later batch (e.g. a heartbeat row) arrives —
    # standard Structured Streaming semantics
    gap_us = gap_seconds * 1_000_000

    def fmt(us: float) -> str:
        return pd.Timestamp(int(us), unit="us").strftime("%Y-%m-%d %H:%M:%S")

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n_done, buf_bytes = state.get
            buf = np.frombuffer(buf_bytes, dtype=np.float64)
        else:
            n_done, buf = 0, np.empty(0, dtype=np.float64)
        new = [buf]
        for pdf in pdfs:
            if len(pdf):
                new.append(pdf[ts_col].astype("datetime64[us]")
                           .astype(np.int64).astype(np.float64))
        ts = np.sort(np.concatenate(new))
        wm_us = state.getCurrentWatermarkMs() * 1000.0
        out = []
        if ts.size:
            # split into sessions; a session is FINAL when its last
            # event + gap precedes the watermark (nothing in-watermark
            # can extend it) AND a later buffered event proves the gap,
            # or the watermark itself passed the gap
            brk = np.nonzero(np.diff(ts) > gap_us)[0]
            starts = np.concatenate(([0], brk + 1))
            ends = np.concatenate((brk, [ts.size - 1]))
            keep_from = ts.size
            for s, e in zip(starts, ends):
                if ts[e] + gap_us < wm_us:
                    n_done += 1
                    out.append({"user_id": int(key[0]),
                                "session_idx": n_done,
                                "n_events": int(e - s + 1),
                                "t_start": fmt(ts[s]), "t_end": fmt(ts[e])})
                else:
                    keep_from = s
                    break
            ts = ts[keep_from:]
        if ts.size:
            state.update((n_done, ts.tobytes()))
            # wake this user once the watermark can finalize the buffer
            state.setTimeoutTimestamp(int((ts[-1] + gap_us) // 1000) + 1)
        else:
            state.remove()
        yield pd.DataFrame(out, columns=["user_id", "session_idx",
                                         "n_events", "t_start", "t_end"])

    return stream.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=("user_id long, session_idx long, n_events long, "
                          "t_start string, t_end string"),
        stateStructType="n_done long, buf binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_exact_dedup(spark: SparkSession, source_dir: str, schema: str,
                       keys: list[str], ts_col: str = "ts",
                       watermark: str = "1 hour"):
    """Streaming exact deduplication for continuous corpus ingestion:
    rows whose ``keys`` repeat within the watermark horizon are dropped
    (state for a key is freed once the watermark passes it, so state
    stays bounded — the standard ingestion-dedup contract: exact within
    the horizon, best-effort beyond it)."""
    stream = (spark.readStream.schema(schema).parquet(source_dir)
              .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
              .withWatermark(ts_col, watermark))
    return stream.dropDuplicatesWithinWatermark(keys)


def stream_tile_ingest(spark: SparkSession, source_dir: str, schema: str,
                       tile_size: int = 256, min_zoom: int | None = None,
                       max_zoom: int | None = None, compress: bool = False):
    """Continuous tile ingestion: image rows arriving as a stream run
    the SAME fused base+pyramid+encode generator the batch pipeline
    uses (tiling.tile_index_manifest local mode is a stateless
    mapInArrow that streams byte-bounded Arrow batches, so it lifts to
    Structured Streaming unchanged — each image's full pyramid is one
    row-local computation). Attach a
    parquet/memory sink in append mode; per-image tile rows are final
    on arrival, so no watermark or state is involved and streamed
    output is row-identical to the batch pipeline (tested)."""
    from ..operators.tiling import tile_index_manifest
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return tile_index_manifest(stream, tile_size=tile_size,
                               min_zoom=min_zoom, max_zoom=max_zoom,
                               mode="local", compress=compress)


def funnel(events: DataFrame, steps: list[str], within_seconds: int | None = None,
           ts_col: str = "ts", user_col: str = "user_id",
           type_col: str = "event_type") -> DataFrame:
    """Ordered funnel analysis: for each funnel prefix, how many users
    completed it — step k counts users with a strictly increasing
    event-time chain step1 < step2 < ... < stepk (earliest-completion
    semantics: each step matched at its earliest time after the
    previous step), optionally requiring the whole chain to fit within
    ``within_seconds`` of the step-1 time.

    Shape: one shuffle per step boundary is avoided — the per-user
    earliest-chain recursion is a sequence of conditional min
    aggregates over ONE grouped pass (step k's time = min ts of step-k
    events after t_{k-1}, computed via min(case ...) over the
    collected per-user events in SQL aggregate form). Implemented as
    iterated self-aggregation: k tiny groupBys on user_id, each a
    partial-aggregated shuffle of per-user scalars. Returns
    (step_idx, step, n_users). SQL-oracled (DuckDB mirror)."""
    ts_s = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"cast({ts_col} as timestamp_ntz)) / 1e6")
    ev = events.select(F.col(user_col).alias("u"),
                       F.col(type_col).alias("t"), ts_s.alias("s"))
    cur = ev.where(F.col("t") == steps[0]).groupBy("u").agg(
        F.min("s").alias("t1"))
    if within_seconds is not None:
        cur = cur.withColumn("tmax", F.col("t1") + within_seconds)
    counts = [(1, steps[0], cur)]
    for k, step in enumerate(steps[1:], start=2):
        nxt = ev.where(F.col("t") == step).join(cur, on="u")
        cond = F.col("s") > F.col(f"t{k - 1}")
        if within_seconds is not None:
            cond &= F.col("s") <= F.col("tmax")
        keep = ["u"] + [f"t{j}" for j in range(1, k)] \
            + (["tmax"] if within_seconds is not None else [])
        nxt = nxt.where(cond).groupBy(*keep).agg(F.min("s").alias(f"t{k}"))
        counts.append((k, step, nxt))
        cur = nxt
    out = None
    for (k, step, df) in counts:
        row = df.agg(F.countDistinct("u").alias("n_users")) \
                .select(F.lit(k).alias("step_idx"),
                        F.lit(step).alias("step"), "n_users")
        out = row if out is None else out.unionByName(row)
    return out.select("step_idx", "step",
                      F.col("n_users").cast("bigint").alias("n_users"))


def sessionize(events: DataFrame, gap_seconds: int = 1800,
               ts_col: str = "ts", user_col: str = "user_id") -> DataFrame:
    """Gap-based sessions: a new session starts when the time since the
    user's previous event exceeds ``gap_seconds``. Emits one row per
    session with bounds and event count."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # fractional epoch seconds via calendar arithmetic: TZ-independent
    # for TIMESTAMP_NTZ inputs (a session-TZ cast would shift across
    # DST boundaries) and matches DuckDB's epoch() exactly
    ts_s = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"cast({ts_col} as timestamp_ntz)) / 1e6")
    prev = F.lag(ts_s).over(w)
    marked = events.withColumn(
        "_new", F.when(prev.isNull() | ((ts_s - prev) > gap_seconds), 1)
                 .otherwise(0))
    sid = F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    sessions = marked.withColumn("session_idx", sid.cast("bigint"))
    return (
        sessions.groupBy(user_col, "session_idx")
        .agg(F.count("*").cast("bigint").alias("n_events"),
             F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias("t_start"),
             F.date_format(F.max(ts_col), "yyyy-MM-dd HH:mm:ss").alias("t_end"))
    )


def _minhash_band_rows_pdf(pdf, text_col: str, id_col: str,
                           num_hashes: int, bands: int, k: int):
    """Row-local mirror of dedup.minhash_bands (same md5/affine math,
    so stream and batch produce IDENTICAL band keys), plus each doc's
    distinct shingle-hash set for exact jaccard verification in state.
    Row-local = stateless = lifts to Structured Streaming unchanged."""
    import hashlib

    import numpy as np
    import pandas as pd

    r = num_hashes // bands
    rows = []
    for id_, text in zip(pdf[id_col].astype(str), pdf[text_col]):
        toks = (text or "").split(" ")
        n = max(len(toks) - (k - 1), 1)
        shingles = {" ".join(toks[i:i + k]) for i in range(n)}
        digests = [hashlib.md5(s.encode()).hexdigest() for s in shingles]
        h1 = np.array([int(d[0:15], 16) for d in digests], dtype=np.int64)
        h2 = np.array([int(d[16:29], 16) for d in digests], dtype=np.int64)
        sigs = [int((h1 + i * h2).min()) for i in range(num_hashes)]
        hashes = sorted(set(int(v) for v in h1))
        for b in range(bands):
            band_key = hashlib.md5(
                "|".join(str(s) for s in sigs[b * r:(b + 1) * r])
                .encode()).hexdigest()
            rows.append((id_, b, band_key, hashes))
    return pd.DataFrame(rows, columns=["id", "band", "band_key", "hashes"])


def _bucket_fold(payload_col: str, score_col: str, cast, prepare, verify,
                 max_bucket_state: int):
    """applyInPandasWithState update of one LSH bucket: the one fold of
    the streaming near-dup operators. State is the bucket's member ids
    and payloads (``payload_col`` of the band rows; each element goes
    through ``cast`` to a python scalar). Arriving rows are taken in id
    order; a row whose id is already a member (a micro-batch replay) is
    skipped, and so is every row once the bucket holds
    ``max_bucket_state`` members: pairing without storing would re-emit
    on redelivery (the id can't be remembered), breaking replay
    idempotence, so recall in a flooded bucket degrades uniformly
    instead. Otherwise ``verify(prepare(payload), prepared members)``
    yields (member index, score) for each member the row near-dups,
    emitted as (min id, max id, score), and the row joins the bucket.
    ``prepare`` runs once per member (the jaccard family's set)."""
    import pandas as pd

    def update(key, pdfs, state):
        if state.exists:
            ids, members = state.get
            ids, members = list(ids), [list(m) for m in members]
        else:
            ids, members = [], []
        new = [(nid, [cast(v) for v in p]) for pdf in pdfs
               for nid, p in zip(pdf["id"], pdf[payload_col])]
        new.sort(key=lambda t: t[0])
        seen, stored = set(ids), len(ids)
        prepared = [prepare(m) for m in members]
        pairs = []
        for nid, payload in new:
            if nid in seen or len(ids) >= max_bucket_state:
                continue
            mine = prepare(payload)
            if ids:
                for j, score in verify(mine, prepared):
                    pairs.append((min(nid, ids[j]), max(nid, ids[j]), score))
            ids.append(nid)
            members.append(payload)
            prepared.append(mine)
            seen.add(nid)
        if len(ids) > stored:
            state.update((ids, members))
        yield pd.DataFrame(pairs, columns=["id_a", "id_b", score_col])

    return update


def stream_minhash_dedup(spark: SparkSession, source_dir: str, schema: str,
                         text_col: str = "text", id_col: str = "doc_id",
                         num_hashes: int = 64, bands: int = 16,
                         shingle_k: int = 3, threshold: float = 0.8,
                         max_bucket_state: int = 256):
    """Streaming near-duplicate detection on a continuous document
    feed: every arriving doc is checked against all PREVIOUSLY ingested
    docs sharing an LSH band bucket (and earlier docs of its own
    micro-batch), emitting verified (id_a, id_b, jaccard) pairs as they
    are discovered — the ingest-time variant of minhash_dedup.

    Shape: row-local banding (stateless mapInPandas, identical band
    keys to the batch/SQL pipeline) -> applyInPandasWithState keyed by
    (band, band_key); GroupState carries the bucket's member ids and
    their distinct shingle-hash sets (60-bit md5 prefixes — the same
    values the batch verifier intersects as strings), so verification
    is exact without re-reading any earlier document. State per bucket
    is capped at ``max_bucket_state`` members (the streaming analogue
    of the batch hot-bucket guard: a boilerplate flood degrades recall
    in that bucket instead of growing state without bound). A pair
    sharing several buckets is emitted once per bucket — distinct
    downstream if exactly-once pairs are needed (the convergence test
    compares sets). Replayed ids (micro-batch retries) are skipped
    idempotently."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def to_bands(batches):
        for pdf in batches:
            yield _minhash_band_rows_pdf(pdf, text_col, id_col,
                                         num_hashes, bands, shingle_k)

    band_rows = stream.mapInPandas(
        to_bands, schema="id string, band int, band_key string, "
                         "hashes array<long>")

    def jaccards(nset, esets):
        for j, eset in enumerate(esets):
            union = len(nset | eset)
            jac = (len(nset & eset) / union) if union else 1.0
            if jac >= threshold:
                yield j, jac

    update = _bucket_fold("hashes", "jaccard", int, set, jaccards,
                          max_bucket_state)
    return band_rows.groupBy("band", "band_key").applyInPandasWithState(
        update,
        outputStructType="id_a string, id_b string, jaccard double",
        stateStructType="ids array<string>, hashes array<array<long>>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_embedding_neardup(spark: SparkSession, source_dir: str,
                             schema: str, vec_col: str = "embedding",
                             id_col: str = "vec_id", bands: int = 16,
                             band_planes: int = 16, threshold: float = 0.95,
                             seed: int | None = None,
                             max_bucket_state: int = 256):
    """Streaming embedding near-duplicate detection: every arriving
    vector is checked against all previously ingested vectors sharing a
    hyperplane band bucket, emitting (id_a, id_b, cosine) pairs on
    arrival — the ingest-time variant of dedup.embedding_neardup, using
    the SAME band-key math (dedup._embedding_band_keys), so stream and
    batch candidates are identical.

    State per (band, bucket) holds member ids and their vectors (capped
    at ``max_bucket_state`` like the batch hot-bucket guard); exact
    cosine verification happens in-state against only bucket members.
    Pairs sharing several bands emit once per band — distinct
    downstream if needed. Replayed ids are skipped idempotently."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions import vectors
    from ..operators.dedup import _embedding_band_keys, _embedding_planes

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def to_bands(batches):
        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = vectors.matrix(pdf[vec_col])
            if planes is None:
                planes = _embedding_planes(mat.shape[1], bands,
                                           band_planes, seed)
            keys = _embedding_band_keys(mat, planes, bands, band_planes,
                                        fold_order=seed is None)
            out = []
            ids = pdf[id_col].astype(str)
            for i in range(len(pdf)):
                vec = [float(x) for x in mat[i]]
                for b in range(bands):
                    out.append((ids.iloc[i], b, int(keys[i, b]), vec))
            yield pd.DataFrame(out, columns=["id", "band", "bucket", "vec"])

    band_rows = stream.mapInPandas(
        to_bands, schema="id string, band int, bucket long, "
                         "vec array<double>")

    def cosines(nv, vecs):
        # batch parity: cosine_expr's fold, and its NULL (not ok) for
        # zero-norm vectors drops the pair
        cos, ok = vectors.cosine(vectors.matrix([nv]), vectors.matrix(vecs))
        for j in np.flatnonzero(ok & (cos >= threshold)):
            yield j, float(cos[j])

    update = _bucket_fold("vec", "cosine", float, lambda v: v, cosines,
                          max_bucket_state)
    return band_rows.groupBy("band", "bucket").applyInPandasWithState(
        update,
        outputStructType="id_a string, id_b string, cosine double",
        stateStructType="ids array<string>, vecs array<array<double>>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cell_pip(spark: SparkSession, source_dir: str, schema: str,
                    aois, zoom: int = 12, x_col: str = "x",
                    y_col: str = "y", pip_rule: str = "evenodd",
                    broadcast_aois: bool | None = None,
                    multipart: bool | None = None):
    """Continuous spatial enrichment: point rows arriving as a stream
    run the SAME cell-keyed PIP join the batch engine uses
    (celljoin.cell_pip_join — a stateless cell-key projection,
    covering-cell join and Arrow PIP refine all lift to Structured
    Streaming unchanged). ``aois`` is either the small pandas AOI
    table (its cell cover and rings ride the refine kernel's closure;
    a changing catalog is a re-deploy, like any broadcast dimension)
    or an AOI **DataFrame** in AOI_SCHEMA — the
    static side of a stream-static join, with covering cells as pure
    Catalyst exprs; a too-big-to-broadcast catalog falls back to the
    carry-rings shuffled join (the cogroup refine is batch-only).
    Rows are final on arrival — no watermark or state — so streamed
    output is row-identical to the batch join (tested, incl. the
    DataFrame-catalog path). Multipart AOI catalogs are REJECTED on
    streams (cell_pip_join raises): the per-row dedup they need is
    not batch-local in Structured Streaming — split multipolygons
    into one single-part row per aoi_id first. Attach an append-mode
    sink."""
    from ..operators.celljoin import cell_pip_join

    stream = spark.readStream.schema(schema).parquet(source_dir)
    # multipart=None: computed exactly from the pandas table, or by
    # the capped static-side probe for a DataFrame catalog — either
    # way a multipart catalog raises before any sink starts
    return cell_pip_join(stream, aois, zoom=zoom, x_col=x_col,
                         y_col=y_col, pip_rule=pip_rule,
                         broadcast_aois=broadcast_aois,
                         multipart=multipart)


def stream_zonal_stats(spark: SparkSession, source_dir: str, schema: str,
                       aois, include_whole: bool = False):
    """Continuous zonal statistics: image rows arriving as a stream run
    the SAME per-image partial kernel as batch zonal_stats (stateless
    mapInPandas), merged by a streaming UPDATE/COMPLETE aggregation on
    aoi_id — each micro-batch folds its partials into the running
    PixelStats monoid (sum/min/max are all order-free merges), so the
    running answer after any prefix of the stream equals the batch
    answer over the images seen so far (tested with availableNow)."""
    from ..operators.stats import zonal_stats

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return zonal_stats(stream, aois, include_whole=include_whole)


def stream_pq_encode(spark: SparkSession, source_dir: str, schema: str,
                     dim: int, m_sub: int = 8, k_codes: int = 16,
                     c_id: str = "vec_id", c_vec: str = "embedding",
                     codebooks=None):
    """Continuous PQ encoding of an embedding stream: pq_encode is a
    stateless Arrow-batched projection, so it lifts to Structured
    Streaming unchanged — rows are final on arrival (codes are a pure
    function of the vector and the fixed codebooks), streamed output
    row-identical to batch (tested). The ingest side of a continuously
    refreshed PQ/IVF-PQ index; train codebooks offline
    (train_pq_codebooks_distributed) and redeploy to rotate them."""
    from ..operators.similarity import pq_encode

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return pq_encode(stream, dim, m_sub, k_codes, c_id, c_vec, codebooks)


def stream_decontaminate(spark: SparkSession, source_dir: str, schema: str,
                         test_set, shingle_k: int = 8, min_hits: int = 1,
                         text_col: str = "text", id_col: str = "doc_id"):
    """Continuous ingest decontamination: training documents arriving
    as a stream run the SAME n-gram-overlap check as the batch
    operator (dedup.decontaminate) against a static benchmark table —
    a stateless shingle projection + stream-static equi-join +
    per-micro-batch aggregation. A document's grams all arrive in its
    own micro-batch, so each flagged (doc, test) pair is complete the
    batch it arrives in — attach an UPDATE-mode sink (streaming
    aggregations reject append without a watermark) and each pair
    emits exactly once, row-identical to batch (tested). ``test_set``
    is the static benchmark DataFrame; anti-join the flagged ids
    downstream.

    State contract (round-5 ADVICE, explicit): the groupBy runs with
    NO watermark, so Spark keeps one state row per emitted
    (doc_id, test_id) pair for the stream's lifetime — bounded by
    flagged pairs, not by corpus size, but unbounded over an infinite
    stream; and ingest must be exactly-once (a replayed document
    accumulates into existing state and double-counts n_hits). When
    either assumption fails — long-lived streams or at-least-once
    sources — use ``stream_decontaminate_batched``, which scopes the
    aggregation per micro-batch through foreachBatch: zero retained
    state, each batch's pairs computed by the batch operator."""
    from ..operators.dedup import decontaminate

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return decontaminate(stream, test_set, shingle_k=shingle_k,
                         min_hits=min_hits, text_col=text_col,
                         id_col=id_col)


def stream_decontaminate_batched(spark: SparkSession, source_dir: str,
                                 schema: str, test_set, batch_sink,
                                 shingle_k: int = 8, min_hits: int = 1,
                                 text_col: str = "text",
                                 id_col: str = "doc_id"):
    """stream_decontaminate with BOUNDED state: each micro-batch runs
    the batch decontaminate operator against the static benchmark
    table inside foreachBatch, and ``batch_sink(df, epoch_id)``
    receives that batch's flagged (doc_id, test_id, n_hits) pairs —
    no streaming aggregation state at all, so an infinite stream holds
    zero state between batches and a replayed micro-batch re-emits the
    same rows instead of double-counting (make the sink idempotent on
    (doc_id, test_id, epoch) for exactly-once output). Identical rows
    to the batch operator per micro-batch because a document's grams
    never span batches (file sources deliver whole rows). Returns the
    DataStreamWriter — call .trigger(...).start() on it."""
    from ..operators.dedup import decontaminate

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def run_batch(batch_df, epoch_id):
        batch_sink(decontaminate(batch_df, test_set, shingle_k=shingle_k,
                                 min_hits=min_hits, text_col=text_col,
                                 id_col=id_col), epoch_id)

    return stream.writeStream.foreachBatch(run_batch)


def stream_hex_bin(spark: SparkSession, source_dir: str, schema: str,
                   size: float = 250.0, window: str = "1 hour",
                   watermark: str = "2 hours", ts_col: str = "ts",
                   x_col: str = "x", y_col: str = "y",
                   value_col: str = "value"):
    """Streaming hexagonal heat-map: point stream -> axial hex cell
    (the pure-Catalyst hexgrid assignment — identical expression tree
    to the batch hex_bin_stats, so streamed cells == batch cells
    bitwise) -> watermarked tumbling-window counts/sums per cell.
    This is the live tile-server feed shape: each micro-batch updates
    only the (window, cell) groups it touches, state is bounded by
    the watermark horizon, and the sink key (wstart, hq, hr) is the
    map-tile cache key. Returns the streaming DataFrame."""
    from ..functions.hexgrid import with_hex_cell

    stream = (spark.readStream.schema(schema).parquet(source_dir)
              .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
              .withWatermark(ts_col, watermark))
    cells = with_hex_cell(stream, x_col=x_col, y_col=y_col, size=size)
    return (
        cells.groupBy(F.window(ts_col, window).alias("w"), "hq", "hr")
        .agg(F.count("*").cast("bigint").alias("n"),
             F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
             .alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("wstart"), "hq", "hr", "n", "sum_value")
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(fs, Path-class) for ``path`` via the Hadoop FS API — works on
    any configured filesystem, unlike os.path (round-7 ADVICE)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def pyramid_fold_batch(spark: SparkSession, out_dir: str,
                       zoom_max: int, zoom_min: int,
                       x_col: str = "x", y_col: str = "y",
                       value_col: str = "value"):
    """The foreachBatch fold of stream_point_tile_pyramid, exposed so
    replay semantics are directly testable. IDEMPOTENT under
    micro-batch replay (round-7 ADVICE): each epoch's merged base
    lands in ``out_dir/base_epochs/<epoch>`` — the merge reads the
    newest COMMITTED epoch strictly below the current one, so a
    replayed epoch re-reads the same prior state instead of
    double-counting the half-applied one, and an epoch whose
    ``_SUCCESS`` marker already exists skips straight to re-publishing
    (covers a crash between the base write and the pyramid write).
    Committed epochs older than the previous one are pruned. The
    published copies ``out_dir/base`` / ``out_dir/pyramid`` are
    write-only (never read back), so a torn overwrite there cannot
    corrupt the fold state. All filesystem probes go through the
    Hadoop FS API, not os.path."""
    from pyspark.sql import functions as SF

    from ..functions.mercator import MAX_COORD

    ts = 2.0 * MAX_COORD / float(1 << zoom_max)
    base_path = f"{out_dir}/base"
    epochs_dir = f"{out_dir}/base_epochs"
    pyr_path = f"{out_dir}/pyramid"

    def committed_epochs(fs, P):
        if not fs.exists(P(epochs_dir)):
            return []
        out = []
        for st in fs.listStatus(P(epochs_dir)):
            name = st.getPath().getName()
            if name.isdigit() and fs.exists(
                    P(f"{epochs_dir}/{name}/_SUCCESS")):
                out.append(int(name))
        return sorted(out)

    def fold_batch(batch_df, epoch_id):
        fs, P = _hadoop_fs(spark, out_dir)
        epoch_id = int(epoch_id)
        epoch_path = f"{epochs_dir}/{epoch_id}"
        done = committed_epochs(fs, P)
        if epoch_id in done:
            # replayed epoch already fully merged: just re-publish
            # (the crash may have hit between base and pyramid writes)
            merged = spark.read.parquet(epoch_path) \
                .localCheckpoint(eager=True)
        else:
            tx = SF.floor((SF.col(x_col) + SF.lit(MAX_COORD))
                          / SF.lit(ts)).cast("long")
            ty = SF.floor((SF.col(y_col) + SF.lit(MAX_COORD))
                          / SF.lit(ts)).cast("long")
            delta = (batch_df
                     .select(tx.alias("tx"), ty.alias("ty"),
                             SF.col(x_col).cast("decimal(24,6)")
                             .alias("_x"),
                             SF.col(y_col).cast("decimal(24,6)")
                             .alias("_y"),
                             SF.col(value_col).cast("decimal(18,2)")
                             .alias("_v"))
                     .groupBy("tx", "ty")
                     .agg(SF.count("*").cast("long").alias("n"),
                          SF.sum("_v").alias("sv"),
                          SF.sum("_x").alias("sx"),
                          SF.sum("_y").alias("sy")))
            prior_epochs = [e for e in done if e < epoch_id]
            if prior_epochs:
                prior = spark.read.parquet(
                    f"{epochs_dir}/{prior_epochs[-1]}")
                merged = (prior.unionByName(delta)
                          .groupBy("tx", "ty")
                          .agg(SF.sum("n").cast("long").alias("n"),
                               SF.sum("sv").cast("decimal(28,2)")
                               .alias("sv"),
                               SF.sum("sx").cast("decimal(34,6)")
                               .alias("sx"),
                               SF.sum("sy").cast("decimal(34,6)")
                               .alias("sy")))
            else:
                merged = delta.select(
                    "tx", "ty", "n",
                    SF.col("sv").cast("decimal(28,2)").alias("sv"),
                    SF.col("sx").cast("decimal(34,6)").alias("sx"),
                    SF.col("sy").cast("decimal(34,6)").alias("sy"))
            merged = merged.localCheckpoint(eager=True)
            merged.write.mode("overwrite").parquet(epoch_path)
            # prune committed epochs older than the immediate prior
            # (kept so a replay of THIS epoch can still re-merge)
            for e in prior_epochs[:-1]:
                fs.delete(P(f"{epochs_dir}/{e}"), True)
        merged.write.mode("overwrite").parquet(base_path)
        lv = merged.withColumn(
            "zoom", SF.explode(SF.sequence(SF.lit(zoom_min),
                                           SF.lit(zoom_max))))
        pyr = (lv.groupBy(
                   "zoom",
                   SF.expr(f"shiftrightunsigned(tx, {zoom_max} - zoom)")
                   .alias("tx"),
                   SF.expr(f"shiftrightunsigned(ty, {zoom_max} - zoom)")
                   .alias("ty"))
               .agg(SF.sum("n").cast("long").alias("n"),
                    SF.sum("sv").cast("double").alias("sum_value"),
                    SF.sum("sx").cast("double").alias("sum_x"),
                    SF.sum("sy").cast("double").alias("sum_y"))
               .withColumn("zoom", SF.col("zoom").cast("int")))
        pyr.write.mode("overwrite").parquet(pyr_path)

    return fold_batch


def stream_point_tile_pyramid(spark: SparkSession, source_dir: str,
                              schema: str, out_dir: str,
                              zoom_max: int = 14, zoom_min: int = 10,
                              x_col: str = "x", y_col: str = "y",
                              value_col: str = "value",
                              max_files_per_trigger: int | None = None):
    """Incrementally-maintained point-density tile pyramid: each
    micro-batch folds into a base-level (zoom_max) tile store —
    merge = sum the decimal monoids per tile, exactly the batch
    operator's partials — and the coarser levels re-derive from the
    merged base by integer shift-regroup (tile-table sized, never
    points). Because every column is a commutative exact monoid
    (counts + decimal sums), streamed state == batch over the union
    of all batches bit-for-bit (tested), and the fold is idempotent
    under micro-batch replay (epoch-keyed state — see
    pyramid_fold_batch). Publishes the merged base to
    ``out_dir/base`` and the full pyramid to ``out_dir/pyramid``.
    Returns the started query."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet(source_dir)
    fold_batch = pyramid_fold_batch(spark, out_dir, zoom_max, zoom_min,
                                    x_col, y_col, value_col)
    return (stream.writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", f"{out_dir}/_ckpt")
            .trigger(availableNow=True).start())
