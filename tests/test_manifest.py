"""Checkpoint manifest: lineage recorded, resume skips complete stages."""

import json
import os

import pandas as pd

from rasters_rs_spark.streaming.manifest import CheckpointRunner


def test_stage_runs_and_resumes(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    calls = {"n": 0}

    def make_df():
        calls["n"] += 1
        return spark.createDataFrame(pd.DataFrame({"x": range(100)}))

    r1 = CheckpointRunner(spark, root)
    out1 = r1.run("stage_a", make_df)
    assert out1.count() == 100
    assert calls["n"] == 1

    mf = json.load(open(os.path.join(root, "stage_a", "manifest.json")))
    assert mf["status"] == "complete"
    assert mf["rows"] == 100
    assert mf["bytes"] > 0 and len(mf["files"]) >= 1
    assert sum(f["bytes"] for f in mf["files"]) == mf["bytes"]

    # resume: a fresh runner over the same root must NOT recompute
    r2 = CheckpointRunner(spark, root)
    out2 = r2.run("stage_a", make_df)
    assert calls["n"] == 1
    assert out2.count() == 100
    assert r2.summary()[0]["skipped"] is True


def test_run_reads_back_without_a_job(spark, tmp_path):
    """The DataFrame ``run`` returns has the written schema, and the
    call's only Spark job is the write (the read-back takes its schema
    from a parquet footer)."""
    root = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    sc.setJobGroup("test.checkpoint_run", "checkpoint run")
    try:
        out = CheckpointRunner(spark, root).run(
            "stage_a", lambda: spark.range(50).selectExpr(
                "id", "cast(id as double) * 0.5 as v", "'a' as s"))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("test.checkpoint_run")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1
    written = spark.read.parquet(os.path.join(root, "stage_a", "data"))
    assert out.schema == written.schema
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == \
        [("id", "bigint"), ("v", "double"), ("s", "string")]
    assert out.count() == 50


def test_headline_pipeline_resumes(spark, tmp_path):
    import shutil
    from rasters_rs_spark.streaming.pipeline import run_headline
    root = str(tmp_path / "pipe")
    r1 = run_headline(spark, root, n_images=8, aoi_count=4, img_px=32)
    assert all(not s["skipped"] for s in r1["stages"])
    assert r1["images"] == 8 and r1["tiles"] > 0

    # full re-run: every stage skipped, same outputs
    r2 = run_headline(spark, root, n_images=8, aoi_count=4, img_px=32)
    assert all(s["skipped"] for s in r2["stages"])
    assert (r2["join_rows"], r2["zones"], r2["tiles"]) == \
           (r1["join_rows"], r1["zones"], r1["tiles"])

    # kill ONE stage: only it recomputes; outputs unchanged
    shutil.rmtree(os.path.join(root, "tiles"))
    r3 = run_headline(spark, root, n_images=8, aoi_count=4, img_px=32)
    flags = {s["stage"]: s["skipped"] for s in r3["stages"]}
    assert flags == {"images": True, "cell_join": True,
                     "zonal_stats": True, "tiles": False}
    assert r3["tiles"] == r1["tiles"]


def test_incomplete_stage_reruns(spark, tmp_path):
    root = str(tmp_path / "ckpt2")
    calls = {"n": 0}

    def make_df():
        calls["n"] += 1
        return spark.createDataFrame(pd.DataFrame({"x": range(10)}))

    r = CheckpointRunner(spark, root)
    r.run("s", make_df)
    # corrupt the manifest -> stage must rerun (torn write simulation)
    with open(os.path.join(root, "s", "manifest.json"), "w") as f:
        f.write("{not json")
    r2 = CheckpointRunner(spark, root)
    r2.run("s", make_df)
    assert calls["n"] == 2


def test_write_tiles_hilbert_order(spark, tmp_path):
    """The hilbert tile sink writes the same rows as the row-major sink
    (ordering is a layout choice, not a semantic one) and keeps the
    per-zoom directory partitioning."""
    import pandas as pd
    from rasters_rs_spark.sources.io import write_tiles
    rows = [(z, x, y, float(z * 100 + x * 10 + y))
            for z in (3, 4) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "x", "y", "val"]))
    p1 = str(tmp_path / "tiles_rm")
    p2 = str(tmp_path / "tiles_hb")
    write_tiles(df, p1)
    write_tiles(df, p2, order="hilbert", hilbert_bits=4)
    a = sorted(map(tuple, spark.read.parquet(p1).collect()))
    b = sorted(map(tuple, spark.read.parquet(p2).collect()))
    assert a == b
    import os
    assert any(d.startswith("z=") for d in os.listdir(p2))


def test_corpus_curation_pipeline_resumes(spark, tmp_path):
    """The training-data dataflow (quality -> decontaminate -> dedup
    -> keepers -> sample -> pack) through the checkpoint manifest:
    full first run; a re-run skips every stage; deleting ONE stage's
    manifest recomputes exactly that stage with identical outputs."""
    import shutil

    from rasters_rs_spark.streaming.pipeline import run_corpus_curation

    root = str(tmp_path / "curation")
    sf = "/root/testdata/sf0.001"
    r1 = run_corpus_curation(spark, root, sf, budget=512)
    assert r1["input_docs"] > 0
    assert r1["packed_docs"] == r1["after_sample"] > 0
    assert not any(s["skipped"] for s in r1["stages"])
    # held-out benchmark docs (doc_id >= test_split) must never reach a
    # training stage — not merely fail to self-flag (round-5 ADVICE)
    for stage in ("decontaminate", "canonical_keepers",
                  "stratified_sample", "pack_sequences"):
        top = (spark.read.parquet(f"{root}/{stage}/data")
               .agg({"doc_id": "max"}).first()[0])
        assert top is None or top < 490, (stage, top)

    r2 = run_corpus_curation(spark, root, sf, budget=512)
    assert all(s["skipped"] for s in r2["stages"])
    assert r2["packed_docs"] == r1["packed_docs"]
    assert r2["total_tokens"] == r1["total_tokens"]

    shutil.rmtree(str(tmp_path / "curation" / "stratified_sample"))
    r3 = run_corpus_curation(spark, root, sf, budget=512)
    by_name = {s["stage"]: s for s in r3["stages"]}
    assert not by_name["stratified_sample"]["skipped"]
    assert by_name["minhash_pairs"]["skipped"]
    assert by_name["pack_sequences"]["skipped"]
    assert r3["after_sample"] == r1["after_sample"]
    assert r3["total_tokens"] == r1["total_tokens"]


def test_corpus_curation_streaming_equals_batch(spark, tmp_path):
    """Round-5 VERDICT #9: the streaming ingest curation (per-batch
    quality -> decontaminate -> incremental minhash vs the full
    survivor register -> larger-id drop -> sampling) produces the SAME
    curated doc set as the batch pipeline on a two-batch replay in
    doc_id order."""
    from pyspark.sql import functions as F

    from rasters_rs_spark.streaming.pipeline import (
        run_corpus_curation, run_corpus_curation_streaming)

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    train = docs.where(F.col("doc_id") < 490)
    tests_static = docs.where(F.col("doc_id") >= 490)

    # batch reference: the resumable pipeline's post-sampling stage
    broot = str(tmp_path / "batch")
    run_corpus_curation(spark, broot, sf, budget=512)
    batch_ids = sorted(r["doc_id"] for r in spark.read.parquet(
        f"{broot}/stratified_sample/data").select("doc_id").collect())

    # streamed: the same train docs over two id-ordered micro-batches
    src = str(tmp_path / "stream_src")
    train.where("doc_id < 250").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    train.where("doc_id >= 250").coalesce(1) \
        .write.mode("append").parquet(src)
    out = str(tmp_path / "stream_out")
    schema = ", ".join(f"{n} {t}" for n, t in train.dtypes)
    q = run_corpus_curation_streaming(spark, src, schema, out,
                                      tests_static,
                                      max_files_per_trigger=1)
    q.awaitTermination(240)
    got_ids = sorted(r["doc_id"] for r in spark.read.parquet(
        f"{out}/curated").select("doc_id").collect())
    assert got_ids == batch_ids and len(got_ids) > 0


def _seed_lm_model():
    from rasters_rs_spark.operators import text
    import pandas as pd
    seed = ("the quick brown fox jumps over the lazy dog while spark "
            "merges partial aggregates before the final sorted write "
            "every customer order joins the clean data line fast ") * 2
    a, b, c = text._char_pairs_batch([seed])
    return text.char_bigram_model(pd.DataFrame({"a": a, "b": b, "cnt": c}))


def test_corpus_curation_perplexity_stage_and_streaming_parity(
        spark, tmp_path):
    """r6 VERDICT Next #7: the CCNet-style perplexity gate as a
    checkpointed batch stage (appears in the manifest between quality
    filter and decontamination, shrinks-or-holds the corpus, resumes
    idempotently) AND in the streaming variant, where the static
    model makes scoring row-local — streamed == batch exactly."""
    from pyspark.sql import functions as F

    from rasters_rs_spark.streaming.pipeline import (
        run_corpus_curation, run_corpus_curation_streaming)

    sf = "/root/testdata/sf0.001"
    model = _seed_lm_model()
    bound = 4.5          # permissive but real: gate must keep SOME docs
    base = run_corpus_curation(spark, str(tmp_path / "plain"), sf,
                               budget=512)
    r = run_corpus_curation(spark, str(tmp_path / "ppl"), sf, budget=512,
                            ppl_model=model, max_avg_nll=bound)
    names = [s["stage"] for s in r["stages"]]
    assert "perplexity_filter" in names
    assert names.index("quality_filter") < names.index("perplexity_filter") \
        < names.index("decontaminate")
    assert 0 < r["after_quality"] <= base["after_quality"]
    # resume skips the gate stage too
    r2 = run_corpus_curation(spark, str(tmp_path / "ppl"), sf, budget=512,
                             ppl_model=model, max_avg_nll=bound)
    assert all(s["skipped"] for s in r2["stages"])
    assert r2["total_tokens"] == r["total_tokens"]

    # streaming parity with the gate on (two id-ordered batches)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    train = docs.where(F.col("doc_id") < 490)
    tests_static = docs.where(F.col("doc_id") >= 490)
    src = str(tmp_path / "ppl_src")
    train.where("doc_id < 250").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    train.where("doc_id >= 250").coalesce(1) \
        .write.mode("append").parquet(src)
    out = str(tmp_path / "ppl_out")
    schema = ", ".join(f"{n} {t}" for n, t in train.dtypes)
    q = run_corpus_curation_streaming(spark, src, schema, out,
                                      tests_static,
                                      max_files_per_trigger=1,
                                      ppl_model=model, max_avg_nll=bound)
    q.awaitTermination(240)
    got_ids = sorted(x["doc_id"] for x in spark.read.parquet(
        f"{out}/curated").select("doc_id").collect())
    batch_ids = sorted(x["doc_id"] for x in spark.read.parquet(
        str(tmp_path / "ppl") + "/stratified_sample/data")
        .select("doc_id").collect())
    assert got_ids == batch_ids and len(got_ids) > 0


def test_corpus_curation_span_removal_stage(spark, tmp_path):
    """span_k wires duplicated-span removal in as a checkpointed stage
    between keepers and sampling: the stage appears in the manifest,
    downstream token totals can only shrink vs the span-free run, and
    benchmark docs stay excluded."""
    from pyspark.sql import functions as F

    from rasters_rs_spark.streaming.pipeline import run_corpus_curation

    sf = "/root/testdata/sf0.001"
    base = run_corpus_curation(spark, str(tmp_path / "plain"), sf,
                               budget=512)
    r = run_corpus_curation(spark, str(tmp_path / "spanrm"), sf,
                            budget=512, span_k=16)
    names = [s["stage"] for s in r["stages"]]
    assert "span_removal" in names
    assert names.index("canonical_keepers") < names.index("span_removal") \
        < names.index("stratified_sample")
    assert r["total_tokens"] <= base["total_tokens"]
    assert r["after_dedup"] == base["after_dedup"]
    top = (spark.read.parquet(str(tmp_path / "spanrm") +
                              "/span_removal/data")
           .agg(F.max("doc_id")).first()[0])
    assert top is None or top < 490
    # resume skips the new stage too
    r2 = run_corpus_curation(spark, str(tmp_path / "spanrm"), sf,
                             budget=512, span_k=16)
    assert all(s["skipped"] for s in r2["stages"])
    assert r2["total_tokens"] == r["total_tokens"]


def test_image_curation_pipeline(spark, tmp_path):
    """The image+caption dataflow (clip gate -> phash near-dup ->
    keepers -> aspect buckets -> train order) through the checkpoint
    manifest: planted misalignments dropped by the gate, planted
    near-dups dropped by the keeper rule, resume skips every stage,
    deleting one stage recomputes exactly that stage.

    At max_hamming=10 the pair set is deterministic: the two planted
    pairs (4,5) and (12,13) at hamming 8/9, plus (8,9) at hamming 7 —
    consecutive LCG images are genuinely correlated (the affine-in-k
    shift; the same correlation that forced the token-corruption
    fixture design in synth.clip_caption_table)."""
    import shutil

    from rasters_rs_spark.streaming.pipeline import run_image_curation

    root = str(tmp_path / "imgcur")
    r1 = run_image_curation(spark, root, n_images=24, max_hamming=10,
                            plant_neardups=((5, 4), (13, 12)))
    assert r1["input_images"] == 24
    # gate: exactly the 12 aligned-class rows (planted dsts 5 and 13
    # are aligned classes too: captions recomputed from their blocks)
    assert r1["after_gate"] == 12
    assert r1["dup_pairs"] == 3
    assert r1["after_dedup"] == 9
    kept = spark.read.parquet(f"{root}/canonical_keepers/data")
    ids = {r.image_id for r in kept.select("image_id").collect()}
    for keeper in (4, 8, 12):
        assert f"img_{keeper:08d}" in ids
    for dropped in (5, 9, 13):
        assert f"img_{dropped:08d}" not in ids
    # 32x32 squares all land in the 1024x1024 bucket (index 8)
    assert r1["bucket_histogram"] == {8: 9}
    assert r1["train_order_rows"] == 9
    order = spark.read.parquet(f"{root}/train_order/data")
    assert sorted(r.shuffle_rank for r in order.collect()) == list(range(9))

    r2 = run_image_curation(spark, root, n_images=24, max_hamming=10,
                            plant_neardups=((5, 4), (13, 12)))
    assert all(s["skipped"] for s in r2["stages"])
    assert r2["after_dedup"] == r1["after_dedup"]

    shutil.rmtree(str(tmp_path / "imgcur" / "aspect_buckets"))
    r3 = run_image_curation(spark, root, n_images=24, max_hamming=10,
                            plant_neardups=((5, 4), (13, 12)))
    by_name = {s["stage"]: s for s in r3["stages"]}
    assert not by_name["aspect_buckets"]["skipped"]
    assert by_name["phash_pairs"]["skipped"]
    assert r3["bucket_histogram"] == r1["bucket_histogram"]


def test_image_curation_streaming_equals_batch(spark, tmp_path):
    """The streaming image ingest (per-batch clip gate -> incremental
    phash vs the full gate-survivor register -> larger-id drop ->
    aspect buckets) produces the SAME kept image set as the batch
    pipeline on a two-batch replay in image_id order."""
    from pyspark.sql import functions as F

    from rasters_rs_spark.sources import synth
    from rasters_rs_spark.streaming.pipeline import (
        run_image_curation, run_image_curation_streaming)

    plants = ((5, 4), (13, 12))
    broot = str(tmp_path / "batch")
    r = run_image_curation(spark, broot, n_images=24, max_hamming=10,
                           plant_neardups=plants)
    batch_ids = sorted(r0["image_id"] for r0 in spark.read.parquet(
        f"{broot}/canonical_keepers/data").select("image_id").collect())
    assert len(batch_ids) == r["after_dedup"] > 0

    images = spark.createDataFrame(
        synth.clip_caption_table(24, plant_neardups=plants))
    src = str(tmp_path / "stream_src")
    images.where("image_id < 'img_00000012'").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    images.where("image_id >= 'img_00000012'").coalesce(1) \
        .write.mode("append").parquet(src)
    out = str(tmp_path / "stream_out")
    schema = ", ".join(f"{n} {t}" for n, t in images.dtypes)
    q = run_image_curation_streaming(spark, src, schema, out,
                                     max_hamming=10,
                                     max_files_per_trigger=1)
    q.awaitTermination(240)
    got = spark.read.parquet(f"{out}/curated")
    got_ids = sorted(r0["image_id"]
                     for r0 in got.select("image_id").collect())
    assert got_ids == batch_ids
    # buckets ride along and match the batch stage
    bb = {r0["image_id"]: r0["bucket_id"] for r0 in spark.read.parquet(
        f"{broot}/aspect_buckets/data").collect()}
    for r0 in got.select("image_id", "bucket_id").collect():
        assert bb[r0["image_id"]] == r0["bucket_id"]


def test_phash_incremental_equals_full(spark):
    """phash_neardup_incremental == full phash_neardup over
    (corpus UNION new) restricted to pairs touching a new image."""
    from rasters_rs_spark.operators import dedup
    from rasters_rs_spark.sources import synth

    pdf = synth.clip_caption_table(24, plant_neardups=((5, 4), (13, 12)))
    corpus = spark.createDataFrame(pdf.iloc[:12])
    new = spark.createDataFrame(pdf.iloc[12:])
    inc = {(r.id_a, r.id_b, r.hamming) for r in
           dedup.phash_neardup_incremental(new, corpus,
                                           max_hamming=12).collect()}
    full = dedup.phash_neardup(spark.createDataFrame(pdf),
                               max_hamming=12).collect()
    new_ids = set(pdf.iloc[12:]["image_id"])
    want = set()
    for r in full:
        if r.id_a in new_ids or r.id_b in new_ids:
            # orient: id_a must be the new image
            if r.id_a in new_ids:
                want.add((r.id_a, r.id_b, r.hamming))
            else:
                want.add((r.id_b, r.id_a, r.hamming))
    assert inc == want and len(want) > 0


def _punctuated_corpus(spark, tmp_path):
    """sf0.001 documents reshaped for the line-level gates: each doc
    becomes three '.'-terminated lines plus a stopword tail (so C4
    keeps 3 lines and Gopher's required-word rule can pass), plus two
    planted failures — doc 900 all-short lines (C4 page drop), doc
    901 stopword-free (Gopher drop). Returns the corpus dir."""
    import pandas as pd

    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")

    def relines(t):
        ws = t.split(" ")
        k = max(1, len(ws) // 3)
        chunks = [ws[:k], ws[k:2 * k], ws[2 * k:]]
        return "\n".join(" ".join(c) + " the of and." for c in chunks)

    pdf["text"] = pdf["text"].map(relines)
    extra = pd.DataFrame({
        "doc_id": [900, 901],
        "text": ["so tiny.\nme too.\nshort one.\nyes.",
                 "alpha beta gamma delta epsilon zeta eta theta " * 8
                 + "iota.\nkappa mu nu xi omicron pi rho sigma tau.\n"
                 "upsilon phi chi psi omega alpha beta gamma delta."],
        "lang": ["en", "en"], "source": ["src0", "src0"],
        "n_chars": [10, 10]})
    extra["doc_id"] = extra["doc_id"].astype(pdf["doc_id"].dtype)
    extra["n_chars"] = extra["n_chars"].astype(pdf["n_chars"].dtype)
    out = pd.concat([pdf, extra], ignore_index=True)
    d = str(tmp_path / "punct_corpus")
    import os
    os.makedirs(d, exist_ok=True)
    out.to_parquet(f"{d}/documents.parquet")
    return d


def test_corpus_curation_c4_and_gopher_stages(spark, tmp_path):
    """C4 line cleaning and the Gopher rule gate as checkpointed
    pipeline stages: ordered before/around the quality filter, both
    actually drop their planted failure docs, resume skips them, and
    the streaming variant (both gates are row-local) matches batch
    exactly on a two-batch replay."""
    from pyspark.sql import functions as F

    from rasters_rs_spark.streaming.pipeline import (
        run_corpus_curation, run_corpus_curation_streaming)

    sf = _punctuated_corpus(spark, tmp_path)
    # planted failures sit below test_split so the gates see them;
    # test_split above 901 keeps a held-out tail anyway (ids 490+)
    r = run_corpus_curation(spark, str(tmp_path / "b"), sf, budget=512,
                            test_split=490, c4=True, gopher_min_words=5)
    names = [s["stage"] for s in r["stages"]]
    assert names.index("c4_clean") < names.index("quality_filter") \
        < names.index("gopher_rules") < names.index("decontaminate")
    c4_ids = {x["doc_id"] for x in spark.read.parquet(
        str(tmp_path / "b") + "/c4_clean/data").select("doc_id").collect()}
    assert 900 not in c4_ids and 901 in c4_ids
    gop_ids = {x["doc_id"] for x in spark.read.parquet(
        str(tmp_path / "b") + "/gopher_rules/data")
        .select("doc_id").collect()}
    assert 901 not in gop_ids and len(gop_ids) > 0
    # cleaned text actually drives downstream stages
    assert r["after_quality"] <= r["input_docs"] - 2

    r2 = run_corpus_curation(spark, str(tmp_path / "b"), sf, budget=512,
                             test_split=490, c4=True, gopher_min_words=5)
    assert all(s["skipped"] for s in r2["stages"])
    assert r2["total_tokens"] == r["total_tokens"]

    # streaming parity (doc 900/901 < 250? no — they stream in batch 2)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    train = docs.where(F.col("doc_id") < 490) \
        .unionByName(docs.where(F.col("doc_id") >= 900))
    tests_static = docs.where((F.col("doc_id") >= 490)
                              & (F.col("doc_id") < 900))
    src = str(tmp_path / "src")
    train.where("doc_id < 250").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    train.where("doc_id >= 250").coalesce(1) \
        .write.mode("append").parquet(src)
    out = str(tmp_path / "out")
    schema = ", ".join(f"{n} {t}" for n, t in train.dtypes)
    q = run_corpus_curation_streaming(spark, src, schema, out,
                                      tests_static,
                                      max_files_per_trigger=1,
                                      c4=True, gopher_min_words=5)
    q.awaitTermination(240)
    got_ids = sorted(x["doc_id"] for x in spark.read.parquet(
        f"{out}/curated").select("doc_id").collect())
    batch_ids = sorted(x["doc_id"] for x in spark.read.parquet(
        str(tmp_path / "b") + "/stratified_sample/data")
        .select("doc_id").collect())
    assert got_ids == batch_ids and len(got_ids) > 0


def test_image_curate_fold_replay_idempotent(spark, tmp_path):
    """Round-8 (r7 ADVICE): replaying a curation micro-batch epoch —
    the failure-recovery path of foreachBatch — must not duplicate
    rows in the curated/register stores: fold(b0, 0); fold(b1, 1);
    fold(b1, 1) again leaves exactly the batch pipeline's keeper set."""
    from rasters_rs_spark.sources import synth
    from rasters_rs_spark.streaming.pipeline import image_curate_fold

    plants = ((5, 4), (13, 12))
    images = spark.createDataFrame(
        synth.clip_caption_table(24, plant_neardups=plants))
    b0 = images.where("image_id < 'img_00000012'")
    b1 = images.where("image_id >= 'img_00000012'")
    out = str(tmp_path / "curate_out")
    fold = image_curate_fold(spark, out, max_hamming=10)
    fold(b0, 0)
    fold(b1, 1)
    once = sorted(r["image_id"] for r in spark.read.parquet(
        f"{out}/curated").select("image_id").collect())
    fold(b1, 1)   # replay after a simulated post-write crash
    again = sorted(r["image_id"] for r in spark.read.parquet(
        f"{out}/curated").select("image_id").collect())
    assert again == once
    assert len(once) == len(set(once)) > 0
    reg = [r["image_id"] for r in spark.read.parquet(
        f"{out}/register").select("image_id").collect()]
    assert len(reg) == len(set(reg))


def test_image_curate_fold_ignores_uncommitted_register(spark, tmp_path):
    """Fault injection: a crash before the first register commit leaves
    a bare register/epoch=0 directory with no _SUCCESS. The next batch
    must treat the register as absent — not fail reading it — and
    produce exactly the no-prior result."""
    from rasters_rs_spark.sources import synth
    from rasters_rs_spark.streaming.pipeline import image_curate_fold

    images = spark.createDataFrame(
        synth.clip_caption_table(16, plant_neardups=((5, 4),)))

    def curated(out):
        return sorted(tuple(r) for r in spark.read.parquet(
            f"{out}/curated").select("image_id", "bucket_id").collect())

    clean = str(tmp_path / "clean")
    image_curate_fold(spark, clean, max_hamming=10)(images, 0)

    crashed = str(tmp_path / "crashed")
    (tmp_path / "crashed" / "register" / "epoch=0").mkdir(parents=True)
    image_curate_fold(spark, crashed, max_hamming=10)(images, 0)

    assert curated(crashed) == curated(clean)
    assert len(curated(clean)) > 0
