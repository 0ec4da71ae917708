"""Streaming layer: batch tumbling agg vs DuckDB; Structured Streaming
converges to the batch answer; sessionization vs a python oracle."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasters_rs_spark.streaming.windows import (sessionize, stream_tumbling_agg,
                                                tumbling_agg)


def test_tumbling_matches_duckdb(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {(r["wstart"], r["event_type"]): (r["n"], r["sum_value"])
           for r in tumbling_agg(ev).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    rows = con.sql("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """).fetchall()
    expect = {(r[0], r[1]): (r[2], r[3]) for r in rows}
    assert got == expect


def test_stream_converges_to_batch(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").orderBy("event_id")
    # feed the stream in two file batches
    src = str(tmp_path / "stream_src")
    ev.where("event_id % 2 = 0").write.mode("overwrite").parquet(src)
    schema = ", ".join(f"{n} {t}" for n, t in ev.dtypes)

    batch_expect = {(r["wstart"], r["event_type"]): (r["n"], r["sum_value"])
                    for r in tumbling_agg(ev).collect()}

    ev.where("event_id % 2 = 1").write.mode("append").parquet(src)
    q = (stream_tumbling_agg(spark, src, schema)
         .writeStream.format("memory").queryName("tumbling_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["wstart"], r["event_type"]): (r["n"], r["sum_value"])
           for r in spark.sql("select * from tumbling_test").collect()}
    assert got == batch_expect


def test_stateful_user_stats_converges(spark, sf_dir, tmp_path):
    """applyInPandasWithState: per-user running aggregates across two
    micro-batches; the LAST update per user equals the batch answer."""
    from rasters_rs_spark.streaming.windows import stream_user_stats
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "state_src")
    ev.where("event_id % 2 = 0").write.mode("overwrite").parquet(src)
    ev.where("event_id % 2 = 1").write.mode("append").parquet(src)
    schema = ", ".join(f"{n} {t}" for n, t in ev.dtypes)

    q = (stream_user_stats(spark, src, schema)
         .writeStream.format("memory").queryName("user_stats_test")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from user_stats_test").collect()
    # keep the final (largest n_events) update per user
    got = {}
    for r in rows:
        cur = got.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            got[r["user_id"]] = (r["n_events"], r["sum_value"])
    expect = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
                   .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
                   .collect()
    }
    assert set(got) == set(expect)
    for u in expect:
        assert got[u][0] == expect[u][0]
        assert got[u][1] == pytest.approx(expect[u][1], rel=1e-9)


def test_stream_sessionize_converges_to_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization: events fed in event-time
    order across two micro-batches; the last update per (user, session)
    equals the batch sessionize answer exactly."""
    from rasters_rs_spark.streaming.windows import stream_sessionize
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema = ", ".join(f"{n} {t}" for n, t in ev.dtypes)
    gap = 900

    # split by time so per-user arrival stays ordered across batches
    epoch = ("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
             "cast(ts as timestamp_ntz))")
    cut = ev.selectExpr(f"percentile({epoch}, 0.5) p").collect()[0]["p"]
    src = str(tmp_path / "sess_src")
    ev.where(F.expr(epoch) <= cut).write.mode("overwrite").parquet(src)
    ev.where(F.expr(epoch) > cut).write.mode("append").parquet(src)

    q = (stream_sessionize(spark, src, schema, gap_seconds=gap)
         .writeStream.format("memory").queryName("sess_test")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from sess_test").collect()
    got = {}
    for r in rows:
        key = (r["user_id"], r["session_idx"])
        cur = got.get(key)
        # later updates only grow a session; keep the largest
        if cur is None or r["n_events"] >= cur[0]:
            got[key] = (r["n_events"], r["t_start"], r["t_end"])

    expect = {(r["user_id"], r["session_idx"]):
              (r["n_events"], r["t_start"], r["t_end"])
              for r in sessionize(ev, gap_seconds=gap).collect()}
    assert got == expect


def test_stream_sessionize_late_out_of_order(spark, sf_dir, tmp_path):
    """Watermarked sessionization under out-of-order arrival: events
    shuffled WITHIN each batch; every emitted session is final and
    exactly matches the batch answer, and every batch session closing
    before (final watermark - gap) is emitted."""
    from rasters_rs_spark.streaming.windows import stream_sessionize_late
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema = ", ".join(f"{n} {t}" for n, t in ev.dtypes)
    gap, wm_s = 900, 3600

    epoch = ("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
             "cast(ts as timestamp_ntz))")
    cut = ev.selectExpr(f"percentile({epoch}, 0.5) p").collect()[0]["p"]
    src = str(tmp_path / "late_src")
    # shuffle rows inside each half (repartition randomizes order)
    ev.where(F.expr(epoch) <= cut).repartition(7) \
      .write.mode("overwrite").parquet(src)
    ev.where(F.expr(epoch) > cut).repartition(7) \
      .write.mode("append").parquet(src)
    # heartbeat sentinel far in the future: advances the watermark past
    # every real session so the event-time timeouts flush all of them
    # (timeouts fire on the batch AFTER the watermark moves)
    max_ts = ev.selectExpr(f"max({epoch}) m").collect()[0]["m"]
    sentinel_ts = F.expr(
        f"cast(timestamp_seconds({max_ts + 3 * wm_s}) as timestamp_ntz)")
    ev.limit(1).withColumn("ts", sentinel_ts) \
      .withColumn("user_id", F.lit(999_999_999)) \
      .write.mode("append").parquet(src)

    q = (stream_sessionize_late(spark, src, schema, gap_seconds=gap,
                                watermark=f"{wm_s} seconds",
                                max_files_per_trigger=7)
         .writeStream.format("memory").queryName("late_sess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["user_id"], r["session_idx"]):
           (r["n_events"], r["t_start"], r["t_end"])
           for r in spark.sql("select * from late_sess").collect()}

    batch = {(r["user_id"], r["session_idx"]):
             (r["n_events"], r["t_start"], r["t_end"])
             for r in sessionize(ev, gap_seconds=gap).collect()}
    # exact and complete: every real session emitted, values identical
    # (the sentinel user's own open session never finalizes)
    assert got == batch


def test_stream_exact_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Streaming ingestion dedup: duplicate event_ids arriving across
    micro-batches within the watermark horizon are dropped; the output
    is exactly the distinct set."""
    from rasters_rs_spark.streaming.windows import stream_exact_dedup
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(400)
    schema = ", ".join(f"{n} {t}" for n, t in ev.dtypes)
    src = str(tmp_path / "dedup_src")
    ev.write.mode("overwrite").parquet(src)
    ev.limit(150).write.mode("append").parquet(src)  # replay a subset

    q = (stream_exact_dedup(spark, src, schema, keys=["event_id"],
                            watermark="10 days")
         .writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = [r["event_id"] for r in
           spark.sql("select event_id from dedup_stream").collect()]
    expect = {r["event_id"] for r in ev.collect()}
    assert len(got) == len(set(got)) == len(expect)
    assert set(got) == expect


def test_stream_tile_ingest_equals_batch(spark, tmp_path):
    """The flagship raster pipeline as a stream: images arriving over
    two micro-batches produce exactly the batch pipeline's tile rows
    (stateless per-image computation -> append rows are final)."""
    from rasters_rs_spark.operators.tiling import tile_index_manifest
    from rasters_rs_spark.sources import synth
    from rasters_rs_spark.streaming.windows import stream_tile_ingest

    pdf = synth.lcg_image_table(6, 64, 64, pixel_size=8.0)
    images = spark.createDataFrame(pdf)
    schema = ", ".join(f"{n} {t}" for n, t in images.dtypes)
    src = str(tmp_path / "img_stream")
    images.where("image_id < 'img_00000003'").write.mode("overwrite").parquet(src)
    images.where("image_id >= 'img_00000003'").write.mode("append").parquet(src)

    mz = None  # full pyramid per image
    q = (stream_tile_ingest(spark, src, schema, tile_size=32, min_zoom=14)
         .writeStream.format("memory").queryName("tile_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["image_id"], r["z"], r["x"], r["y"]):
           (r["min"], r["max"], r["err"], bytes(r["bytes"]))
           for r in spark.sql("select * from tile_stream").collect()}

    expect = {(r["image_id"], r["z"], r["x"], r["y"]):
              (r["min"], r["max"], r["err"], bytes(r["bytes"]))
              for r in tile_index_manifest(images, tile_size=32,
                                           min_zoom=14).collect()}
    assert got == expect and len(got) > 0


def test_funnel_ordered_chain_semantics(spark):
    """Earliest-completion funnel: out-of-order steps don't count, the
    chain must be strictly increasing in time, and the within-window
    binds from the step-1 time."""
    from rasters_rs_spark.streaming.windows import funnel
    rows = []

    def ev(u, t, s):
        rows.append({"user_id": u, "event_type": t,
                     "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)})

    ev(1, "a", 0); ev(1, "b", 10); ev(1, "c", 20)      # full chain
    ev(2, "b", 0); ev(2, "a", 10); ev(2, "c", 20)      # b BEFORE a: only a->c? b never after a -> stops at a
    ev(3, "a", 0); ev(3, "b", 5)                       # no c
    ev(4, "a", 0); ev(4, "b", 2000); ev(4, "c", 2100)  # b outside within=1000
    df = spark.createDataFrame(pd.DataFrame(rows))

    got = {r["step"]: r["n_users"]
           for r in funnel(df, ["a", "b", "c"], within_seconds=1000).collect()}
    assert got == {"a": 4, "b": 2, "c": 1}


def test_sessionize_matches_python_oracle(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    gap = 900
    got = {(r["user_id"], r["session_idx"]): r["n_events"]
           for r in sessionize(ev, gap_seconds=gap).collect()}

    pdf = ev.select("user_id", "ts").toPandas().sort_values(["user_id", "ts"])
    expect = {}
    for uid, sub in pdf.groupby("user_id"):
        ts = sub["ts"].astype("int64").to_numpy() / 1e9
        sid = 0
        prev = None
        for t in ts:
            if prev is None or (t - prev) > gap:
                sid += 1
            expect[(uid, sid)] = expect.get((uid, sid), 0) + 1
            prev = t
    assert got == expect
    # invariant: per-user session indexes are 1..k dense
    import collections
    per_user = collections.Counter(u for (u, _) in got)
    for (u, s) in got:
        assert 1 <= s <= per_user[u]


def test_stream_minhash_dedup_converges_to_batch(spark, tmp_path):
    """Streaming LSH near-dup over two micro-batches finds exactly the
    batch minhash_dedup pair set with identical jaccard values — the
    ingest-time dedup contract. Pairs may repeat across buckets; the
    comparison is on the distinct set."""
    import numpy as np
    from rasters_rs_spark.operators import dedup as D
    from rasters_rs_spark.streaming.windows import stream_minhash_dedup

    base = ("spark filter join window batch stream table scan merge sort "
            "group agg row column vector hash key value order part").split()
    rng = np.random.default_rng(99)
    rows = []
    for i in range(30):
        rows.append((f"s{i:03d}", " ".join(rng.choice(base, size=30))))
    rows.append(("s100", rows[2][1]))                 # dup across batches
    near = rows[5][1].split()
    near[4] = "changed"
    rows.append(("s101", " ".join(near)))             # near-dup
    rows.append(("s102", rows[8][1]))                 # dup within batch 2
    rows.append(("s103", rows[8][1]))                 # second copy
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])

    src = str(tmp_path / "mh_src")
    docs = spark.createDataFrame(pdf)
    docs.where("doc_id < 's030'").write.mode("overwrite").parquet(src)
    docs.where("doc_id >= 's030'").write.mode("append").parquet(src)
    schema = "doc_id string, text string"

    q = (stream_minhash_dedup(spark, src, schema, threshold=0.5)
         .writeStream.format("memory").queryName("mh_stream_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in spark.sql("select * from mh_stream_test").collect()}

    expect = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in D.minhash_dedup(docs, threshold=0.5,
                                       shingle_k=3).collect()}
    assert set(got) == set(expect) and len(got) >= 3
    for k in expect:
        assert got[k] == pytest.approx(expect[k], abs=1e-12)
    assert ("s002", "s100") in got and ("s102", "s103") in got


def test_stream_embedding_neardup_converges_to_batch(spark, tmp_path):
    """Streaming embedding near-dup across two micro-batches finds the
    same pair set as batch embedding_neardup (identical band keys by
    construction) with bit-identical cosines (vectors.cosine runs
    cosine_expr's strict fold)."""
    import numpy as np
    from rasters_rs_spark.operators import dedup as D
    from rasters_rs_spark.streaming.windows import stream_embedding_neardup

    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(40, 16))
    vecs[25] = vecs[3] + rng.normal(size=16) * 0.01   # dup across batches
    vecs[33] = vecs[30] + rng.normal(size=16) * 0.01  # dup within batch 2
    pdf = pd.DataFrame({
        "vec_id": [f"e{i:03d}" for i in range(40)],
        "embedding": [v.tolist() for v in vecs],
    })
    # zero-norm vector: batch cosine_expr yields NULL (dropped); the
    # stream must drop it too, not report cosine 1.0 vs everyone
    pdf = pd.concat([pdf, pd.DataFrame({
        "vec_id": ["e900"], "embedding": [[0.0] * 16]})],
        ignore_index=True)
    emb = spark.createDataFrame(pdf)
    src = str(tmp_path / "emb_src")
    emb.where("vec_id < 'e020'").write.mode("overwrite").parquet(src)
    emb.where("vec_id >= 'e020'").write.mode("append").parquet(src)
    schema = "vec_id string, embedding array<double>"

    q = (stream_embedding_neardup(spark, src, schema, threshold=0.98)
         .writeStream.format("memory").queryName("emb_stream_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in spark.sql("select * from emb_stream_test").collect()}

    expect = {(r["id_a"], r["id_b"]): r["cosine"]
              for r in D.embedding_neardup(emb, threshold=0.98).collect()}
    assert set(got) == set(expect)
    assert not any("e900" in k for k in got)    # zero-norm never pairs
    assert ("e003", "e025") in got and ("e030", "e033") in got
    for k in expect:
        assert got[k] == expect[k], k


def test_stream_minhash_dedup_checkpoint_restart(spark, tmp_path):
    """North-rule resumability for the stateful streaming path: the
    dedup query stops after batch 1 and a NEW query restarts from the
    same checkpoint for batch 2 — bucket state (batch-1 members) is
    recovered, so cross-batch pairs are still found, batch-1 pairs are
    not re-emitted, and the union equals the batch answer."""
    import numpy as np
    from rasters_rs_spark.operators import dedup as D
    from rasters_rs_spark.streaming.windows import stream_minhash_dedup

    base = ("spark filter join window batch stream table scan merge sort "
            "group agg row column vector hash key value order part").split()
    rng = np.random.default_rng(123)
    rows = [(f"r{i:03d}", " ".join(rng.choice(base, size=30)))
            for i in range(24)]
    rows.append(("r050", rows[1][1]))   # batch-1-internal dup (r001)
    rows.append(("r100", rows[3][1]))   # batch-2 dup of batch-1 r003
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(pdf)

    src = str(tmp_path / "ck_src")
    ckpt = str(tmp_path / "ck_state")
    sink = str(tmp_path / "ck_out")

    def run_once():
        q = (stream_minhash_dedup(spark, src, "doc_id string, text string",
                                  threshold=0.5)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)

    # batch 1: docs < r060 (includes the internal dup pair)
    docs.where("doc_id < 'r060'").write.mode("overwrite").parquet(src)
    run_once()
    first = {(r["id_a"], r["id_b"])
             for r in spark.read.parquet(sink).collect()}
    assert ("r001", "r050") in first

    # batch 2 arrives; restart from the SAME checkpoint
    docs.where("doc_id >= 'r060'").write.mode("append").parquet(src)
    run_once()
    all_pairs = [(r["id_a"], r["id_b"])
                 for r in spark.read.parquet(sink).collect()]
    # recovered state found the cross-restart pair...
    assert ("r003", "r100") in set(all_pairs)
    # ...and batch-1 pairs were NOT re-emitted (exactly-once sink rows
    # per bucket-pair; duplicates across bands are allowed, across
    # restarts are not)
    batch = {(r["id_a"], r["id_b"])
             for r in D.minhash_dedup(docs, threshold=0.5).collect()}
    assert set(all_pairs) == batch
    # bounded duplication: a pair can emit once per shared band (16),
    # never more — re-emission across restarts would exceed it
    from collections import Counter
    assert max(Counter(all_pairs).values()) <= 16


def test_stream_cell_pip_equals_batch(spark, tmp_path):
    """The spatial join as a stream: point rows arriving over two
    micro-batches produce exactly the batch cell_pip_join rows
    (stateless cell-key + broadcast PIP refine -> append rows final)."""
    from rasters_rs_spark.operators.celljoin import cell_pip_join
    from rasters_rs_spark.sources import synth
    from rasters_rs_spark.streaming.windows import stream_cell_pip

    pts = synth.points_table(400, seed=9)
    aois = synth.aoi_table(8, seed=10)
    pts_df = spark.createDataFrame(pts)
    schema = ", ".join(f"{n} {t}" for n, t in pts_df.dtypes)
    src = str(tmp_path / "pt_stream")
    pts_df.where("pt_id < 'pt_0000200'").write.mode("overwrite").parquet(src)
    pts_df.where("pt_id >= 'pt_0000200'").write.mode("append").parquet(src)

    q = (stream_cell_pip(spark, src, schema, aois, zoom=12)
         .writeStream.format("memory").queryName("pip_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["pt_id"], r["aoi_id"]) for r in
                 spark.sql("select * from pip_stream").collect())
    expect = sorted((r["pt_id"], r["aoi_id"]) for r in
                    cell_pip_join(pts_df, aois, zoom=12).collect())
    assert got == expect and len(got) > 0


def test_stream_cell_pip_rejects_multipart(spark, tmp_path):
    """Multipart AOI catalogs must be rejected on a stream BEFORE any
    sink starts: the per-row dedup they need is a cross-micro-batch
    stateful dropDuplicates whose _rowid keys restart every batch
    (round-4 ADVICE — rows in later batches colliding with earlier
    state would be silently dropped)."""
    import pandas as pd
    import pytest
    from rasters_rs_spark.sources import synth
    from rasters_rs_spark.streaming.windows import stream_cell_pip

    pts = synth.points_table(50, seed=9)
    base = synth.aoi_table(4, seed=10)
    two_parts = pd.concat([base, base.iloc[[0]]], ignore_index=True)
    pts_df = spark.createDataFrame(pts)
    schema = ", ".join(f"{n} {t}" for n, t in pts_df.dtypes)
    src = str(tmp_path / "pt_stream_mp")
    pts_df.write.mode("overwrite").parquet(src)
    with pytest.raises(ValueError, match="multipart"):
        stream_cell_pip(spark, src, schema, two_parts, zoom=12)


def test_stream_cell_pip_dataframe_catalog(spark, tmp_path):
    """The distributed-AOI side on a stream: an AOI DataFrame catalog
    joins as the static side of a stream-static join (covering cells
    as Catalyst exprs), row-identical to the batch catalog path —
    via both the broadcast and the carry-rings shuffled fallback."""
    from rasters_rs_spark.operators.celljoin import AOI_SCHEMA, cell_pip_join
    from rasters_rs_spark.sources import synth
    from rasters_rs_spark.streaming.windows import stream_cell_pip

    pts = synth.points_table(300, seed=9)
    aois = synth.aoi_table(8, seed=10)
    aoi_df = spark.createDataFrame(
        aois[["aoi_id", "ring_offsets", "xs", "ys"]], schema=AOI_SCHEMA)
    pts_df = spark.createDataFrame(pts)
    schema = ", ".join(f"{n} {t}" for n, t in pts_df.dtypes)
    src = str(tmp_path / "pt_stream_cat")
    pts_df.where("pt_id < 'pt_0000150'").write.mode("overwrite").parquet(src)
    pts_df.where("pt_id >= 'pt_0000150'").write.mode("append").parquet(src)

    expect = sorted((r["pt_id"], r["aoi_id"]) for r in
                    cell_pip_join(pts_df, aoi_df, zoom=12).collect())
    for i, bcast in enumerate((True, False)):
        name = f"pip_stream_cat{i}"
        q = (stream_cell_pip(spark, src, schema, aoi_df, zoom=12,
                             broadcast_aois=bcast)
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted((r["pt_id"], r["aoi_id"]) for r in
                     spark.sql(f"select * from {name}").collect())
        assert got == expect and len(got) > 0, f"broadcast={bcast}"


def test_stream_zonal_stats_equals_batch(spark, tmp_path):
    """Zonal statistics as a stream: images over two micro-batches,
    complete-mode aggregation equals the batch zonal_stats answer
    exactly (LCG pixels -> order-free float merges)."""
    from rasters_rs_spark.operators.stats import zonal_stats
    from rasters_rs_spark.sources import synth
    from rasters_rs_spark.streaming.windows import stream_zonal_stats

    pdf = synth.lcg_image_table(6, 32, 32, pixel_size=2.0,
                                spacing=64.0, grid_cols=3)
    images = spark.createDataFrame(pdf)
    aois = synth.aoi_table(12, seed=16,
                           extent=(-1050.0, 840.0, -770.0, 1010.0))
    schema = ", ".join(f"{n} {t}" for n, t in images.dtypes)
    src = str(tmp_path / "img_stream")
    images.where("image_id < 'img_00000003'").write.mode("overwrite").parquet(src)
    images.where("image_id >= 'img_00000003'").write.mode("append").parquet(src)

    q = (stream_zonal_stats(spark, src, schema, aois, include_whole=True)
         .writeStream.format("memory").queryName("zonal_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["aoi_id"]: tuple(r) for r in
           spark.sql("select * from zonal_stream").collect()}
    expect = {r["aoi_id"]: tuple(r) for r in
              zonal_stats(images, aois, include_whole=True).collect()}
    assert got == expect and len(got) > 1


def test_stream_pq_encode_equals_batch(spark, tmp_path):
    """PQ codes over a stream: two micro-batches of embeddings produce
    exactly the batch pq_encode rows (stateless kernel, append-final)."""
    from rasters_rs_spark.operators.similarity import pq_encode
    from rasters_rs_spark.streaming.windows import stream_pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .selectExpr("cast(vec_id as bigint) vec_id",
                    "transform(embedding, x -> cast(x as double)) embedding")
    schema = ", ".join(f"{n} {t}" for n, t in emb.dtypes)
    src = str(tmp_path / "emb_stream")
    emb.where("vec_id < 100").write.mode("overwrite").parquet(src)
    emb.where("vec_id >= 100").write.mode("append").parquet(src)

    q = (stream_pq_encode(spark, src, schema, dim=64)
         .writeStream.format("memory").queryName("pq_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["vec_id"], tuple(r["codes"])) for r in
                 spark.sql("select * from pq_stream").collect())
    expect = sorted((r["vec_id"], tuple(r["codes"])) for r in
                    pq_encode(emb, dim=64).collect())
    assert got == expect and len(got) > 0


def test_stream_decontaminate_equals_batch(spark, tmp_path):
    """Ingest decontamination as a stream: docs over two micro-batches
    against a static benchmark table; every doc's grams arrive in one
    batch, so the per-batch aggregation (update mode) emits each
    flagged (doc, test) pair exactly once with the batch count."""
    import pandas as pd
    from rasters_rs_spark.operators.dedup import decontaminate
    from rasters_rs_spark.streaming.windows import stream_decontaminate

    bench = "the quick brown fox jumps over the lazy dog tonight"
    train = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["x " + bench + " y", "clean doc about nothing",
                 bench + " twice over " + bench, "also clean here"]})
    tests = pd.DataFrame({"doc_id": [100], "text": [bench]})
    docs = spark.createDataFrame(train)
    ts = spark.createDataFrame(tests)
    schema = ", ".join(f"{n} {t}" for n, t in docs.dtypes)
    src = str(tmp_path / "decon_stream")
    docs.where("doc_id <= 2").write.mode("overwrite").parquet(src)
    docs.where("doc_id >= 3").write.mode("append").parquet(src)

    q = (stream_decontaminate(spark, src, schema, ts, shingle_k=8)
         .writeStream.format("memory").queryName("decon_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["doc_id"], r["test_id"], r["n_hits"]) for r in
                 spark.sql("select * from decon_stream").collect())
    expect = sorted((r["doc_id"], r["test_id"], r["n_hits"]) for r in
                    decontaminate(docs, ts, shingle_k=8).collect())
    assert got == expect and len(got) == 2

    # bounded-state variant: per-micro-batch aggregation through
    # foreachBatch — zero retained state, same rows as batch
    from rasters_rs_spark.streaming.windows import \
        stream_decontaminate_batched

    emitted = []

    def sink(df, epoch_id):
        emitted.extend((r["doc_id"], r["test_id"], r["n_hits"])
                       for r in df.collect())

    q2 = (stream_decontaminate_batched(spark, src, schema, ts, sink,
                                       shingle_k=8)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert sorted(emitted) == expect


def test_stream_hex_bin_equals_batch(spark, sf_dir, tmp_path):
    """Streaming hex heat-map: event points over two micro-batches,
    watermarked tumbling windows per hex cell — the flushed result
    equals the batch window-groupBy over the identical cell
    expression tree exactly (counts and decimal sums)."""
    from pyspark.sql import functions as F

    from rasters_rs_spark.functions.hexgrid import with_hex_cell
    from rasters_rs_spark.streaming.windows import stream_hex_bin

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        "event_id", "ts", "value",
        (F.col("value") * F.lit(60.0) - F.lit(9000.0)).alias("x"),
        ((F.col("event_id") % F.lit(199)).cast("double") * F.lit(97.0)
         - F.lit(9000.0)).alias("y"))
    src = str(tmp_path / "hex_stream")
    pts.where("event_id % 2 = 0").write.mode("overwrite").parquet(src)
    pts.where("event_id % 2 = 1").write.mode("append").parquet(src)
    schema = ", ".join(f"{n} {t}" for n, t in pts.dtypes)

    q = (stream_hex_bin(spark, src, schema, size=500.0)
         .writeStream.format("memory").queryName("hex_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["wstart"], r["hq"], r["hr"]): (r["n"], r["sum_value"])
           for r in spark.sql("select * from hex_stream").collect()}

    cells = with_hex_cell(
        pts.withColumn("ts", F.col("ts").cast("timestamp")),
        size=500.0)
    expect = {(r["wstart"], r["hq"], r["hr"]): (r["n"], r["sum_value"])
              for r in (cells.groupBy(F.window("ts", "1 hour").alias("w"),
                                      "hq", "hr")
                        .agg(F.count("*").cast("bigint").alias("n"),
                             F.sum(F.col("value").cast("decimal(18,2)"))
                             .cast("double").alias("sum_value"))
                        .select(F.date_format("w.start",
                                              "yyyy-MM-dd HH:mm:ss")
                                .alias("wstart"), "hq", "hr", "n",
                                "sum_value")).collect()}
    assert got == expect and len(got) > 10


def test_stream_point_tile_pyramid_equals_batch(spark, tmp_path):
    """Incremental pyramid fold over two micro-batches == the batch
    point_tile_pyramid over the union, exactly (decimal monoids)."""
    from rasters_rs_spark.operators.celljoin import point_tile_pyramid
    from rasters_rs_spark.streaming.windows import (
        stream_point_tile_pyramid)

    pts = spark.range(4000).selectExpr(
        "id",
        "cast(id as double) * 37.5 - 90000.0 as x",
        "cast(id % 997 as double) * 311.0 - 150000.0 as y",
        "cast(id % 7 as double) + 0.25 as value")
    src = str(tmp_path / "pyr_src")
    pts.where("id % 2 = 0").drop("id").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    pts.where("id % 2 = 1").drop("id").coalesce(1) \
        .write.mode("append").parquet(src)
    out = str(tmp_path / "pyr_out")
    schema = "x double, y double, value double"
    q = stream_point_tile_pyramid(spark, src, schema, out,
                                  zoom_max=14, zoom_min=10,
                                  max_files_per_trigger=1)
    q.awaitTermination(180)
    got = sorted(tuple(r) for r in
                 spark.read.parquet(f"{out}/pyramid").collect())
    want = sorted(tuple(r) for r in point_tile_pyramid(
        pts.drop("id"), zoom_max=14, zoom_min=10).collect())
    assert got == want and len(got) > 20


def test_pyramid_fold_batch_replay_idempotent(spark, tmp_path):
    """Round-8 (r7 ADVICE): replaying a micro-batch epoch — the
    failure-recovery path of foreachBatch — must not double-count:
    fold(b0, 0); fold(b1, 1); fold(b1, 1) again leaves base and
    pyramid exactly equal to the batch operator over b0 union b1."""
    from rasters_rs_spark.operators.celljoin import point_tile_pyramid
    from rasters_rs_spark.streaming.windows import pyramid_fold_batch

    pts = spark.range(2000).selectExpr(
        "id",
        "cast(id as double) * 41.5 - 40000.0 as x",
        "cast(id % 499 as double) * 177.0 - 44000.0 as y",
        "cast(id % 5 as double) + 0.5 as value")
    b0 = pts.where("id % 2 = 0").drop("id")
    b1 = pts.where("id % 2 = 1").drop("id")
    out = str(tmp_path / "fold_out")
    fold = pyramid_fold_batch(spark, out, zoom_max=13, zoom_min=10)
    fold(b0, 0)
    fold(b1, 1)
    once = sorted(tuple(r) for r in
                  spark.read.parquet(f"{out}/pyramid").collect())
    fold(b1, 1)   # replay after a simulated post-write crash
    again = sorted(tuple(r) for r in
                   spark.read.parquet(f"{out}/pyramid").collect())
    want = sorted(tuple(r) for r in point_tile_pyramid(
        pts.drop("id"), zoom_max=13, zoom_min=10).collect())
    assert once == want
    assert again == want
    base = sorted(tuple(r) for r in
                  spark.read.parquet(f"{out}/base").collect())
    assert len(base) > 10
