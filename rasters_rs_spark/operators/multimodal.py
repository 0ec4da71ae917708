"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with (w, h, fmt, ...)
metadata; every transformation is an Arrow-batched mapInPandas over
decoded numpy blocks. Real media codecs (JPEG/PNG/opus/h264) are NOT in
this container, so their decode paths are stubbed behind
NotImplementedError with a deterministic fake for pipeline testing; the
Spark-side plumbing (schemas, batching, partitioning, UDF signatures)
is real and tested.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import codecs, scanpar
from ..sources.io import local_table

_REAL_FORMATS = ("raw", "q16")
_STUB_FORMATS = ("jpeg", "png", "webp")


def decode_any(data: bytes, h: int, w: int, fmt: str,
               allow_fake: bool = False) -> np.ndarray:
    """Decode a binary payload to a float64 block.

    raw/q16 decode for real; media formats raise NotImplementedError
    (codec libraries unavailable here) unless ``allow_fake``, which
    substitutes a deterministic pseudo-image derived from the payload
    bytes so downstream plumbing can be exercised end-to-end."""
    if fmt in _REAL_FORMATS:
        return codecs.decode_block(data, h, w, fmt)
    if fmt in _STUB_FORMATS:
        if not allow_fake:
            raise NotImplementedError(
                f"{fmt} decode requires an image codec library not present "
                "in this environment; pass allow_fake=True for the "
                "deterministic test double")
        seed = np.frombuffer(data[:8].ljust(8, b"\0"), dtype=np.uint64)[0]
        rng = np.random.default_rng(int(seed))
        return rng.random((h, w))
    raise ValueError(f"unknown format: {fmt}")


def resize_block(block: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-mean resize (real numpy): exact block-mean when dimensions
    divide; otherwise nearest-index gather then 1x pooling."""
    h, w = block.shape
    if h % out_h == 0 and w % out_w == 0:
        return block.reshape(out_h, h // out_h, out_w, w // out_w).mean(axis=(1, 3))
    yi = np.clip((np.arange(out_h) + 0.5) * h / out_h, 0, h - 1).astype(np.int64)
    xi = np.clip((np.arange(out_w) + 0.5) * w / out_w, 0, w - 1).astype(np.int64)
    return block[yi][:, xi]


def resize_images(images: DataFrame, out_h: int, out_w: int,
                  allow_fake: bool = False) -> DataFrame:
    """Batch resize: decode -> area resize -> re-encode raw."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                block = decode_any(row.bytes, row.h, row.w, row.fmt, allow_fake)
                small = resize_block(block, out_h, out_w)
                out.append((row.image_id, codecs.encode_raw(small),
                            out_w, out_h, "raw"))
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h", "fmt"])

    return images.mapInPandas(
        gen, schema="image_id string, bytes binary, w int, h int, fmt string")


def patchify_images(images: DataFrame, patch: int = 8,
                    allow_fake: bool = False) -> DataFrame:
    """ViT-style patch extraction (Dosovitskiy et al. 2021, "An Image
    is Worth 16x16 Words"): decode each image and emit one row per
    non-overlapping ``patch`` x ``patch`` tile — (image_id, pi, pj,
    pixels) with ``pixels`` the row-major flattened float64 patch — the
    patch-embedding input shape for vision-transformer training-data
    pipelines.  Trailing rows/cols not divisible by ``patch`` are
    cropped (the standard ViT rule).

    Scale shape: one Arrow-batched pass, no shuffle — each image row
    fans out to (h//patch)*(w//patch) patch rows inside its own task;
    the reshape/transpose is a single numpy view per image.  Row count
    multiplies by the patch grid, so repartition downstream if patches
    feed a wide aggregation.  Per-patch dyadic-pixel sums are
    SQL-oracled bit-exactly (patchify_stats_synth)."""
    if patch <= 0:
        raise ValueError("patch must be positive")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                block = decode_any(row.bytes, row.h, row.w, row.fmt,
                                   allow_fake)
                ph, pw = row.h // patch, row.w // patch
                if ph == 0 or pw == 0:
                    continue
                core = block[:ph * patch, :pw * patch]
                tiles = core.reshape(ph, patch, pw, patch) \
                            .transpose(0, 2, 1, 3) \
                            .reshape(ph * pw, patch * patch)
                pi, pj = np.divmod(np.arange(ph * pw), pw)
                out.append(pd.DataFrame({
                    "image_id": row.image_id,
                    "pi": pi.astype(np.int32),
                    "pj": pj.astype(np.int32),
                    "pixels": [t for t in tiles],
                }))
            yield (pd.concat(out) if out else pd.DataFrame(
                columns=["image_id", "pi", "pj", "pixels"]))

    return images.mapInPandas(
        gen, schema="image_id string, pi int, pj int, pixels array<double>")


AUG_OPS = ("fliph", "flipv", "rot90", "rot180", "rot270", "crop")


def augment_block(block, op: str, crop=None):
    """One deterministic augmentation on a decoded block. ``crop`` is
    (i0, j0, h, w) for op == 'crop'."""
    if op == "fliph":
        return np.ascontiguousarray(block[:, ::-1])
    if op == "flipv":
        return np.ascontiguousarray(block[::-1, :])
    if op == "rot90":
        return np.ascontiguousarray(np.rot90(block, 1))
    if op == "rot180":
        return np.ascontiguousarray(np.rot90(block, 2))
    if op == "rot270":
        return np.ascontiguousarray(np.rot90(block, 3))
    if op == "crop":
        i0, j0, h, w = crop
        return np.ascontiguousarray(block[i0:i0 + h, j0:j0 + w])
    raise ValueError(f"unknown augmentation: {op} (one of {AUG_OPS})")


def augment_images(images: DataFrame, op: str, crop=None,
                   allow_fake: bool = False) -> DataFrame:
    """Training-data image augmentation over the real decode path:
    deterministic flips/rotations/crops on decoded pixel blocks,
    re-encoded with the row's own codec (raw stays lossless; q16
    re-quantizes). Geo metadata columns pass through unchanged — these
    are ML augmentations, not geodetic transforms. Arrow-batched; the
    output keeps the input schema with updated bytes/w/h."""
    if op not in AUG_OPS:
        raise ValueError(f"unknown augmentation: {op} (one of {AUG_OPS})")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            blobs, ws, hs = [], [], []
            for row in pdf.itertuples(index=False):
                block = decode_any(row.bytes, row.h, row.w, row.fmt, allow_fake)
                aug = augment_block(block, op, crop)
                fmt = row.fmt if row.fmt in _REAL_FORMATS else "raw"
                blobs.append(codecs.encode_block(aug, fmt))
                hs.append(aug.shape[0])
                ws.append(aug.shape[1])
            out["bytes"] = blobs
            out["w"] = np.array(ws, dtype=np.int32)
            out["h"] = np.array(hs, dtype=np.int32)
            yield out

    schema = ", ".join(f"{n} {t}" for n, t in images.dtypes)
    return images.mapInPandas(gen, schema=schema)


def validate_images(a: DataFrame, b: DataFrame, id_col: str = "image_id",
                    min_psnr: float = 40.0,
                    allow_fake: bool = False) -> DataFrame:
    """The input-hint per-row invariant as a first-class operator: join
    two image tables on id and report, per row, decoded-pixel fidelity
    (PSNR, infinite for bit-equal rasters; must be >= min_psnr for
    lossy codecs) and caption equality. Returns
    (image_id, psnr, dims_match, psnr_ok, caption_match) — the
    validation gate a pipeline runs after any re-encode/transcode
    stage. Rows whose rasters differ in shape (e.g. validating against
    a cropped/augmented output) report dims_match=false and
    psnr_ok=false with a NULL psnr instead of misdecoding b with a's
    dimensions."""
    # note: itertuples renames leading-underscore columns, so the
    # joined b-side columns use a plain prefix
    bb = b.select(F.col(id_col).alias("b2_id"),
                  F.col("bytes").alias("b2_bytes"),
                  F.col("w").alias("b2_w"),
                  F.col("h").alias("b2_h"),
                  F.col("fmt").alias("b2_fmt"),
                  F.col("caption").alias("b2_caption"))
    j = a.join(bb, a[id_col] == bb["b2_id"])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                dims_ok = (int(row.h) == int(row.b2_h)
                           and int(row.w) == int(row.b2_w))
                if dims_ok:
                    orig = decode_any(row.bytes, row.h, row.w, row.fmt,
                                      allow_fake)
                    dec = decode_any(row.b2_bytes, row.b2_h, row.b2_w,
                                     row.b2_fmt, allow_fake)
                    p = float(codecs.psnr(orig, dec))
                    p_ok = bool(p >= min_psnr)
                else:
                    p, p_ok = None, False
                out.append((getattr(row, id_col), p, dims_ok, p_ok,
                            bool(row.caption == row.b2_caption)))
            yield pd.DataFrame(out, columns=["image_id", "psnr",
                                             "dims_match", "psnr_ok",
                                             "caption_match"])

    return j.mapInPandas(
        gen, schema="image_id string, psnr double, dims_match boolean, "
                    "psnr_ok boolean, caption_match boolean")


def image_features(images: DataFrame, allow_fake: bool = False) -> DataFrame:
    """Cheap feature extraction per image: mean/std/valid-fraction plus
    an 8x8 intensity thumbnail (the embedding-ish vector)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                block = decode_any(row.bytes, row.h, row.w, row.fmt, allow_fake)
                valid = ~np.isnan(block)
                v = block[valid]
                thumb = resize_block(np.nan_to_num(block), 8, 8).ravel()
                out.append((row.image_id,
                            float(v.mean()) if v.size else None,
                            float(v.std()) if v.size else None,
                            float(valid.mean()),
                            [float(x) for x in thumb]))
            yield pd.DataFrame(out, columns=["image_id", "px_mean", "px_std",
                                             "valid_frac", "thumb"])

    return images.mapInPandas(
        gen, schema=("image_id string, px_mean double, px_std double, "
                     "valid_frac double, thumb array<double>"))


_VIDEO_REAL = ("rawv",)          # concatenated raw <f8 frames
_VIDEO_STUB = ("h264", "vp9", "av1")


def decode_video(data: bytes, n_frames: int, h: int, w: int, fmt: str,
                 allow_fake: bool = False) -> np.ndarray:
    """(n_frames, h, w) float64 frame stack. ``rawv`` (concatenated raw
    frames) decodes for real; compressed codecs are stubbed behind
    NotImplementedError with a deterministic fake (no video library in
    this environment) — the Spark-side plumbing around this seam is
    real and tested either way."""
    if fmt in _VIDEO_REAL:
        return np.frombuffer(data, dtype="<f8",
                             count=n_frames * h * w).reshape(n_frames, h, w)
    if fmt in _VIDEO_STUB:
        if not allow_fake:
            raise NotImplementedError(
                f"{fmt} decode requires a video codec library not present "
                "in this environment; pass allow_fake=True for the test "
                "double")
        seed = np.frombuffer(data[:8].ljust(8, b"\0"), dtype=np.uint64)[0]
        return np.random.default_rng(int(seed)) \
            .standard_normal((n_frames, h, w))
    raise ValueError(f"unknown video format: {fmt}")


def encode_video_raw(frames: np.ndarray) -> bytes:
    """Inverse of the rawv decode path."""
    return np.ascontiguousarray(frames, dtype="<f8").tobytes()


def sample_frames(videos: DataFrame, every_n: int = 30,
                  allow_fake: bool = False) -> DataFrame:
    """Sample every ``every_n``-th frame of each video row into image
    rows (video_id, frame_idx, bytes raw frame, w, h) — the Arrow-
    batched frame-extraction plumbing a multimodal training pipeline
    runs before per-frame featurization. Input schema: (video_id,
    bytes, n_frames, w, h, fmt). Frame 0 is always included; only the
    sampled frames are re-encoded (the decode seam is rawv-real /
    codec-stubbed, see decode_video)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                stack = decode_video(row.bytes, row.n_frames, row.h, row.w,
                                     row.fmt, allow_fake)
                for idx in range(0, int(row.n_frames), every_n):
                    out.append((row.video_id, idx,
                                codecs.encode_raw(stack[idx]),
                                row.w, row.h))
            yield pd.DataFrame(out, columns=["video_id", "frame_idx",
                                             "bytes", "w", "h"])

    return videos.mapInPandas(
        gen, schema="video_id string, frame_idx long, bytes binary, "
                    "w int, h int")


_AUDIO_REAL = ("pcm_f64",)
_AUDIO_STUB = ("opus", "mp3", "flac")


def decode_audio(data: bytes, n_samples: int, fmt: str,
                 allow_fake: bool = False) -> np.ndarray:
    """Waveform decode: raw float64 PCM for real; compressed codecs are
    stubbed behind NotImplementedError with a deterministic fake."""
    if fmt in _AUDIO_REAL:
        return np.frombuffer(data, dtype="<f8", count=n_samples).copy()
    if fmt in _AUDIO_STUB:
        if not allow_fake:
            raise NotImplementedError(
                f"{fmt} decode requires an audio codec library not present "
                "in this environment; pass allow_fake=True for the test double")
        seed = np.frombuffer(data[:8].ljust(8, b"\0"), dtype=np.uint64)[0]
        return np.random.default_rng(int(seed)).standard_normal(n_samples)
    raise ValueError(f"unknown audio format: {fmt}")


def audio_features(audio: DataFrame, frame: int = 1024,
                   allow_fake: bool = False) -> DataFrame:
    """Framewise audio features over decoded waveforms: RMS energy,
    zero-crossing rate, and peak per clip (numpy, Arrow-batched).
    Input schema: (clip_id string, bytes binary, n_samples int,
    sample_rate int, fmt string)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                wav = decode_audio(row.bytes, row.n_samples, row.fmt, allow_fake)
                n = (len(wav) // frame) * frame
                if n == 0:
                    out.append((row.clip_id, None, None, None, 0))
                    continue
                frames = wav[:n].reshape(-1, frame)
                rms = np.sqrt((frames * frames).mean(axis=1))
                zc = (np.diff(np.signbit(frames), axis=1) != 0).mean(axis=1)
                out.append((row.clip_id, float(rms.mean()), float(zc.mean()),
                            float(np.abs(wav).max()), frames.shape[0]))
            yield pd.DataFrame(out, columns=["clip_id", "rms", "zcr",
                                             "peak", "n_frames"])

    return audio.mapInPandas(
        gen, schema="clip_id string, rms double, zcr double, peak double, "
                    "n_frames int")


# ---------------------------------------------------------------------------
# CLIP-style caption <-> image alignment gate
# ---------------------------------------------------------------------------


def image_grid_embedding(images: DataFrame, grid: int = 4, buckets: int = 8,
                         allow_fake: bool = False,
                         carry=()) -> DataFrame:
    """Deterministic image-side embedding for the alignment gate: the
    one-hot of the quantized per-cell mean, dim = grid*grid*buckets,
    position cell*buckets + K with K = floor(cell_mean*buckets*64) %
    buckets (the fine-scale fractional bucket — see
    synth.clip_caption_table for why not the coarse floor). NaN cells
    (all-no-data) contribute no position. One Arrow pass, zero
    shuffles; ``carry`` columns ride through the stage untouched so a
    caller can keep e.g. the caption on the same row (one scan, no
    re-join). A REAL image encoder slots in by replacing this function
    — clip_score_filter takes it as an injection point."""
    dim = grid * grid * buckets
    carry = list(carry)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                block = decode_any(row.bytes, row.h, row.w, row.fmt, allow_fake)
                ch, cw = row.h // grid, row.w // grid
                sub = block[:ch * grid, :cw * grid]
                cells = sub.reshape(grid, ch, grid, cw)
                with np.errstate(invalid="ignore"):
                    means = np.nanmean(cells, axis=(1, 3))
                emb = np.zeros(dim, dtype=np.float64)
                for ci in range(grid):
                    for cj in range(grid):
                        mv = means[ci, cj]
                        if not np.isnan(mv):
                            # floor, not int() (which truncates toward
                            # zero): the docstring + oracle specify the
                            # floor rule, and a real encoder can see
                            # negative cell means (round-7 ADVICE)
                            k = int(np.floor(mv * buckets * 64)) % buckets
                            emb[(ci * grid + cj) * buckets + k] = 1.0
                out.append((row.image_id, emb.tolist(),
                            *(getattr(row, c) for c in carry)))
            cols = ["image_id", "img_emb"] + carry
            yield pd.DataFrame(out, columns=cols)

    carry_schema = "".join(
        f", {c} string" for c in carry)   # caption-ish carries only
    return images.mapInPandas(
        gen, schema=f"image_id string, img_emb array<double>{carry_schema}")


def caption_token_embedding(df: DataFrame, grid: int = 4, buckets: int = 8,
                            text_col: str = "caption",
                            out_col: str = "cap_emb") -> DataFrame:
    """Caption-side embedding: parse ``c<cell>_<K>`` tokens back into
    the same one-hot space as image_grid_embedding. Pure Catalyst
    (split / regexp / transform — no Python): positions are projected
    once per row, then the dense vector is a count-per-position
    transform over sequence(0, dim-1). Unparseable tokens (try_cast
    NULL under ANSI) drop out. A REAL text encoder slots in by
    replacing this function."""
    dim = grid * grid * buckets
    pos = F.expr(
        f"transform(split({text_col}, ' '), t -> "
        f"try_cast(regexp_extract(t, '^c([0-9]+)_([0-9]+)$', 1) AS INT) "
        f"* {buckets} + "
        f"try_cast(regexp_extract(t, '^c([0-9]+)_([0-9]+)$', 2) AS INT))")
    with_pos = df.withColumn("_pos", pos)
    emb = F.expr(
        f"transform(sequence(0, {dim - 1}), "
        f"i -> cast(size(filter(_pos, p -> p = i)) AS DOUBLE))")
    return with_pos.withColumn(out_col, emb).drop("_pos")


def clip_score_filter(images: DataFrame, threshold: float = 0.5,
                      grid: int = 4, buckets: int = 8,
                      text_col: str = "caption",
                      image_embeddings: DataFrame | None = None,
                      caption_embeddings: DataFrame | None = None,
                      id_col: str = "image_id",
                      allow_fake: bool = False) -> DataFrame:
    """CLIP-style caption<->image alignment gate — the LAION curation
    rule (Schuhmann et al. 2021: keep pairs whose image/text embedding
    cosine clears a threshold; LAION-400M used 0.3 with real CLIP).

    Real CLIP inference is not available in this container, so the
    default embedders are the deterministic grid-token pair
    (image_grid_embedding / caption_token_embedding): their cosine is
    exactly matches/(grid*grid) for fixture captions — dyadic, so the
    whole gate is hash-hard against a closed-form SQL oracle. Both
    sides are injection points: pass ``image_embeddings`` /
    ``caption_embeddings`` DataFrames of (id, embedding) from a real
    model and the same score + gate plan runs unchanged.

    Plan shape (default embedders): ONE corpus scan -> one Arrow stage
    (image side, caption string carried through) -> Catalyst caption
    parse + cosine -> projection. Zero shuffles, zero joins — the
    100 TB shape for a per-row gate. With external embedding tables it
    becomes one equi-join on id (AQE/broadcast as sizes dictate).

    Returns (id, clip_score, keep) for EVERY input row — the gate is a
    projection, not a destructive filter (callers join or filter on
    ``keep``). Zero-norm sides (no parseable tokens / all-no-data
    image) score 0.0 and fail the gate.

    The fused default path expects the input_hint image schema
    (image_id, bytes, w, h, fmt, caption); ``id_col`` only renames
    the id on the external-embeddings join path."""
    from . import similarity

    if image_embeddings is None and caption_embeddings is None:
        fused = image_grid_embedding(images, grid, buckets, allow_fake,
                                     carry=(text_col,))
        both = caption_token_embedding(fused, grid, buckets, text_col)
        score = similarity.cosine_expr("img_emb", "cap_emb")
    else:
        img = image_embeddings if image_embeddings is not None else \
            image_grid_embedding(images, grid, buckets, allow_fake) \
            .withColumnRenamed("image_id", id_col)
        if caption_embeddings is not None:
            cap = caption_embeddings
        else:
            # mixed mode: the caller's id_col names the EXTERNAL
            # embedding table's id; the image table may still use the
            # default image_id — resolve whichever exists (r7 ADVICE)
            src_id = id_col if id_col in images.columns else "image_id"
            cap = caption_token_embedding(
                images.select(F.col(src_id).alias(id_col), text_col),
                grid, buckets, text_col) \
                .select(id_col, "cap_emb")
        img = img.select(F.col(id_col), F.col(img.columns[1]).alias("img_emb"))
        cap = cap.select(F.col(id_col), F.col(cap.columns[1]).alias("cap_emb"))
        both = img.join(cap, id_col)
        score = similarity.cosine_expr("img_emb", "cap_emb")

    sc = F.round(F.coalesce(score, F.lit(0.0)), 9)
    return both.select(
        F.col(id_col if image_embeddings is not None or
              caption_embeddings is not None else "image_id").alias(id_col),
        sc.alias("clip_score"),
        (sc >= F.lit(float(threshold))).alias("keep"))


# ---------------------------------------------------------------------------
# aspect-ratio bucketing
# ---------------------------------------------------------------------------

# the SDXL training bucket list (Podell et al. 2023, appendix I —
# multi-aspect buckets around 1024^2 pixels)
SDXL_BUCKETS = (
    (512, 2048), (576, 1664), (640, 1536), (704, 1344), (768, 1280),
    (832, 1216), (896, 1152), (960, 1088), (1024, 1024), (1088, 960),
    (1152, 896), (1216, 832), (1280, 768), (1344, 704), (1536, 640),
    (1664, 576), (2048, 512))


def bucket_by_aspect(images: DataFrame, buckets=SDXL_BUCKETS,
                     id_col: str = "image_id") -> DataFrame:
    """SDXL-style aspect-ratio bucketing (Podell et al. 2023): assign
    every image to the bucket with the nearest aspect ratio, so
    training batches can be formed per bucket without destructive
    center-cropping.

    "Nearest in log-aspect" is computed WITHOUT ln(): minimizing
    |log(w/h) - log(bw/bh)| is equivalent to minimizing
    max(w*bh, bw*h) / min(w*bh, bw*h), a single correctly-rounded
    DOUBLE division of exact integer cross products — ln() is not
    correctly rounded and can differ across engines in the last ulp,
    which would flip near-boundary assignments and break the oracle.
    Ties go to the lower bucket index.

    Pure Catalyst (a transform over the literal bucket array + one
    array_sort), zero shuffles — the per-row 100 TB shape. Returns
    (id, w, h, bucket_id, bucket_w, bucket_h, aspect_dist)."""
    # long cross products: int32 * bucket-side would overflow (and
    # THROW under ANSI) for w or h beyond ~2^31 / 2048
    wl = F.col("w").cast("long")
    hl = F.col("h").cast("long")
    scored = F.array(*[
        F.struct(
            (F.greatest(wl * bh, F.lit(bw) * hl).cast("double")
             / F.least(wl * bh, F.lit(bw) * hl)).alias("d"),
            F.lit(i).alias("i"),
            F.lit(bw).alias("bw"), F.lit(bh).alias("bh"))
        for i, (bw, bh) in enumerate(buckets)])
    best = F.array_sort(scored)[0]
    return images.select(
        F.col(id_col), F.col("w").cast("int").alias("w"),
        F.col("h").cast("int").alias("h"),
        best["i"].alias("bucket_id"),
        best["bw"].alias("bucket_w"), best["bh"].alias("bucket_h"),
        best["d"].alias("aspect_dist"))


def basic_image_filters(images: DataFrame, min_px: int = 64,
                        max_aspect: float = 3.0,
                        min_caption_tokens: int = 2,
                        max_caption_tokens: int = 256,
                        id_col: str = "image_id",
                        text_col: str = "caption") -> DataFrame:
    """The DataComp/LAION "basic filtering" baseline (Gadre et al.
    2023 §4): keep image+caption pairs with both sides above a minimum
    size, aspect ratio within bounds, and a caption length inside a
    token window. Returns (id, w, h, n_tokens, ok_size, ok_aspect,
    ok_caption, keep) for every row — per-rule booleans so curation
    reports can attribute drops to rules, keep = AND of all three.

    Pure Catalyst projection, zero shuffles. The aspect test is
    max(w, h) <= max_aspect * min(w, h) — one multiply of exact
    integers against a dyadic literal, no division, no ln()."""
    wl = F.col("w").cast("long")
    hl = F.col("h").cast("long")
    n_tok = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), " "))
    ok_size = (wl >= min_px) & (hl >= min_px)
    ok_aspect = (F.greatest(wl, hl).cast("double")
                 <= F.lit(float(max_aspect)) * F.least(wl, hl))
    ok_caption = ((n_tok >= min_caption_tokens)
                  & (n_tok <= max_caption_tokens))
    return images.select(
        F.col(id_col), F.col("w").cast("int").alias("w"),
        F.col("h").cast("int").alias("h"),
        n_tok.cast("int").alias("n_tokens"),
        ok_size.alias("ok_size"), ok_aspect.alias("ok_aspect"),
        ok_caption.alias("ok_caption"),
        (ok_size & ok_aspect & ok_caption).alias("keep"))


def assign_shards(images: DataFrame, shard_bytes: int = 1 << 28,
                  id_col: str = "image_id",
                  bytes_col: str = "bytes") -> DataFrame:
    """WebDataset-style shard assignment for a binary corpus: samples
    in id order stream into fixed-byte-budget shards; a sample belongs
    to the shard containing its STARTING byte (shard_id =
    exclusive-cumsum(bytes) div shard_bytes).

    This start-offset rule is deliberately NOT greedy first-fit (the
    tar-writer default): greedy fill is a sequential fold whose carry
    depends on every prior sample, which has no closed form — at
    corpus scale it forces a second pass with per-partition carry
    chains. The div rule is a pure function of the global cumsum (the
    same two-pass zipWithIndex idiom as pack_sequences — one range
    exchange, no single-partition window), at the cost of shards
    overshooting the budget by at most one sample (writers emit the
    straddling sample into its starting shard). Returns
    (id, n_bytes, shard_id, shard_offset, n_shards_spanned)."""
    from . import text

    sized = images.select(
        F.col(id_col),
        F.length(F.col(bytes_col)).cast("long").alias("n_bytes"))
    packed = text.pack_sequences(sized, budget=shard_bytes, id_col=id_col,
                                 count_col="n_bytes")
    return packed.select(
        F.col("doc_id").alias(id_col),
        F.col("n_tokens").alias("n_bytes"),
        F.col("seq_id").alias("shard_id"),
        F.col("seq_offset").alias("shard_offset"),
        F.col("n_seqs").alias("n_shards_spanned"))


def bucket_batches(df: DataFrame, batch_size: int,
                   bucket_col: str = "bucket_id",
                   order_col: str = "shuffle_rank",
                   id_col: str = "image_id",
                   drop_last: bool = True,
                   partitions: int = 64) -> DataFrame:
    """SDXL-style aspect-bucketed batch assembly: every training batch
    must hold same-resolution rows, so batches are cut WITHIN each
    aspect bucket in training order (Podell et al. 2023 train SDXL
    with bucketed batching; NovelAI's aspect-bucketing writeup is the
    origin of the rule). Returns (id, bucket, rank_in_bucket,
    batch_id, pos_in_batch); ``drop_last=True`` (the training-loader
    default) drops each bucket's trailing partial batch. ``batch_id``
    is per-bucket — a loader key is the (bucket, batch_id) pair.

    Scale shape: rank-in-bucket is scanpar.range_rank grouped by
    bucket — ONE range exchange on (bucket, order), per-partition
    windows, broadcast (partition, bucket) offsets — NEVER a
    Window.partitionBy(bucket) over the raw table: buckets are
    categorical (SDXL has 17), so a bucket-keyed global window would
    funnel the whole corpus through <= n_buckets tasks. The driver
    sees only partitions x buckets count rows (bounded collect), and
    range partitioning keeps each bucket's rows contiguous-ordered so
    the per-partition window never crosses bucket boundaries out of
    order. SQL-oracled (bucket_batches_docs)."""
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    ranked, totals = scanpar.range_rank(
        df.select(id_col, bucket_col, order_col), [order_col, id_col],
        group=bucket_col, partitions=partitions)
    ranked = ranked.withColumnRenamed("_rank", "rank_in_bucket")
    if drop_last:
        full_df = local_table(
            df.sparkSession,
            [(b, (n // batch_size) * batch_size)
             for (b,), n in totals.items()] or [(None, 0)],
            f"{bucket_col} {dict(df.dtypes)[bucket_col]}, _nfull long")
        ranked = ranked.join(F.broadcast(full_df), on=bucket_col) \
            .where(F.col("rank_in_bucket") < F.col("_nfull"))
    return ranked.select(
        id_col, bucket_col, "rank_in_bucket",
        F.expr(f"rank_in_bucket div {int(batch_size)}")
        .cast("long").alias("batch_id"),
        (F.col("rank_in_bucket") % batch_size).cast("long")
        .alias("pos_in_batch"))
