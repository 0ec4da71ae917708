"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), runs
one operation as a sequence of the program's public calls (``op``),
and checks one collected operation against the numpy references in
``inputs`` (``verify``). Every call's output ends in a sink that
materialises every column and digests the rows (row count and the XOR
of a 64-bit hash of the key columns), so each timed operation can be
compared with the checked one without collecting anything.

Why these: each layer a later change may optimise does most of its
work in one workload and little or none in another. ``image_tiles``
and ``zonal_curation`` are the two in BENCHMARK.json;
``zonal_curation`` runs the ``aoi_zonal`` operation and then the
``caption_curation`` one, and both halves also run by name (README.md
has the table of which metric each layer should move, and why two
workloads and not three).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from rasters_rs_spark.functions import codecs, geom
from rasters_rs_spark.operators import (celljoin, chunked, dedup, multimodal,
                                        similarity, stats, tiling)
from rasters_rs_spark.sources import io
from rasters_rs_spark.streaming.manifest import CheckpointRunner

import inputs


class Sink:
    """Ends each call's DataFrame in an action and digests its rows.

    With ``collect`` false the action is a ``noop`` write (every
    column computed, nothing kept); with it true the rows are also
    collected into ``frames`` for the output checks."""

    def __init__(self, collect: bool = False):
        self.collect = collect
        self.frames: dict = {}
        self._pending: dict = {}
        self._serial = 0

    def observed(self, name: str, df, keys: list):
        self._serial += 1
        obs = Observation(f"perfbench_{name}_{self._serial}")
        self._pending[name] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("n"),
                          F.bit_xor(F.xxhash64(*keys)).alias("d"))

    def __call__(self, name: str, df, keys: list) -> None:
        df = self.observed(name, df, keys)
        if self.collect:
            self.frames[name] = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()

    def digests(self) -> dict:
        out = {}
        for name, obs in self._pending.items():
            r = obs.get
            out[name] = [int(r["n"]), int(r["d"] or 0)]
        self._pending = {}
        return out


@contextlib.contextmanager
def untimed(name: str):
    yield


class Workload:
    name = ""
    why = ""
    # untimed operations between the checked first one and the timed ones
    settle_ops = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inp = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")

    def path(self, table: str) -> str:
        return os.path.join(self.inp, table)

    def prepare(self) -> None:
        """Remove the previous operation's output (outside any timer)."""
        shutil.rmtree(self.out, ignore_errors=True)


# ---------------------------------------------------------------------------
# image_tiles
# ---------------------------------------------------------------------------


class ImageTiles(Workload):
    name = "image_tiles"
    why = ("the headline pipeline: tile kernel, codecs and the Arrow byte "
           "boundary do most of the work, and it is the only workload "
           "that writes")
    n_images, px, pixel_size = 192, 128, 2.0
    n_aois, aoi_vertices = 32, 12
    zoom = 12
    files = 8
    # operations 2-4 of a fresh JVM are slower while the JIT compiles
    # (README.md, Warm-up); a zonal_curation operation is too long to
    # afford any
    settle_ops = 3

    def props(self) -> dict:
        return {"images": self.n_images, "image_px": self.px,
                "pixel_size_m": self.pixel_size,
                "placement": "jittered grid, AOIs with stratified radii",
                "formats": "raw/q16 alternating", "aois": self.n_aois,
                "edges_per_polygon": self.aoi_vertices,
                "holes": "every 8th AOI, 8 edges", "cell_zoom": self.zoom,
                "join_path": "pandas catalog, broadcast",
                "tiles": "tile_index_manifest(compress=True) -> parquet"}

    @property
    def items(self) -> int:
        return self.n_images

    def generate(self) -> None:
        shutil.rmtree(self.inp, ignore_errors=True)
        self.imgs = inputs.images(self.seed, self.n_images, self.px,
                                  self.pixel_size)
        self.aois = inputs.star_polygons(self.seed, self.n_aois,
                                         self.aoi_vertices, 8, 150.0, 900.0)
        inputs.write_parquet(self.imgs, inputs.IMAGE_SCHEMA,
                             self.path("images"), self.files)
        inputs.write_parquet(self.aois, inputs.AOI_SCHEMA,
                             self.path("aois"), 1)

    def op(self, spark, sink: Sink, call=untimed) -> dict:
        with call("sources.io.read_table"):
            images = io.read_table(spark, self.path("images"))
            aois = io.read_table(spark, self.path("aois")).toPandas()
        with call("operators.celljoin.cell_pip_join"):
            cents = images.select(
                "image_id",
                (F.col("gt")[0] + F.col("gt")[1] * F.col("w") / 2).alias("x"),
                (F.col("gt")[3] + F.col("gt")[5] * F.col("h") / 2).alias("y"))
            sink("join", celljoin.cell_pip_join(cents, aois, zoom=self.zoom),
                 ["image_id", "aoi_id"])
        with call("streaming.manifest.CheckpointRunner.run"):
            runner = CheckpointRunner(spark, self.out)
            runner.run("tiles", lambda: sink.observed(
                "tiles", tiling.tile_index_manifest(images, compress=True),
                ["image_id", "z", "x", "y", "bytes"]))
        res = runner.results[-1]
        return {"stored_bytes": res.bytes, "tiles": res.rows}

    def verify(self, sink: Sink) -> list:
        errs = []
        # join rows: ray-cast every image centroid against every AOI
        gts = np.array(self.imgs["gt"])
        cx = gts[:, 0] + gts[:, 1] * self.px / 2
        cy = gts[:, 3] + gts[:, 5] * self.px / 2
        want = {(iid, a) for iid, s in zip(self.imgs["image_id"],
                                           inputs.containing(cx, cy, self.aois))
                for a in s}
        got = set(zip(sink.frames["join"]["image_id"],
                      sink.frames["join"]["aoi_id"]))
        if got != want or len(sink.frames["join"]) != len(want):
            errs.append(f"join: {len(got ^ want)} pairs differ from ray cast")
        # tiles: decode a sample of written tiles with the benchmark's
        # own decoder; the q16 round trip must be within each row's err
        # of the float tile the tile kernel makes for the same image
        data = os.path.join(self.out, "tiles", "data")
        tiles = pq.read_table(data).to_pandas()
        rng = inputs.rng_for(self.seed, 9)
        for iid in rng.choice(self.imgs["image_id"], size=4, replace=False):
            i = self.imgs["image_id"].index(iid)
            block = inputs.decode_pixels(self.imgs["bytes"][i], self.px,
                                         self.px, self.imgs["fmt"][i])
            cfg, zoom, mz, base = tiling.base_tiles_for_image(
                np.array(block), self.imgs["gt"][i], "EPSG:3857", np.nan)
            ref = {(z, x, y): a for (z, x, y, a, _, _) in
                   tiling.pyramid_local(base, zoom, mz, 256)}
            rows = tiles[tiles["image_id"] == iid]
            if len(rows) != len(ref):
                errs.append(f"tiles: {iid} has {len(rows)} tiles, "
                            f"kernel makes {len(ref)}")
                continue
            for r in rows.itertuples(index=False):
                a = ref.get((r.z, r.x, r.y))
                if a is None:
                    errs.append(f"tiles: unexpected tile {iid} {r.z}/{r.x}/{r.y}")
                    break
                codes = inputs.tile_codes(r.bytes, 256)
                dec = inputs.dequantize(codes, r.min, r.max)
                # the top code is shared by the last two bins, so a
                # pixel at the tile maximum decodes one step low
                step = (r.max - r.min) / inputs.Q16_BINS
                tol = np.where(codes == inputs.Q16_BINS, max(r.err, step),
                               r.err) + 1e-12
                both = ~np.isnan(a)
                if (np.isnan(dec) != np.isnan(a)).any() or (
                        np.abs(dec - a)[both] > tol[both]).any():
                    errs.append(f"tiles: {iid} {r.z}/{r.x}/{r.y} outside err")
                    break
        return errs

    def kernels(self) -> dict:
        """Single-threaded self time of the tile kernels on a sample of
        the same images."""
        sample = range(0, self.n_images, max(self.n_images // 8, 1))
        blocks, t_dec = [], 0.0
        for i in sample:
            t = time.perf_counter()
            b = codecs.decode_block(self.imgs["bytes"][i], self.px, self.px,
                                    self.imgs["fmt"][i])
            t_dec += time.perf_counter() - t
            blocks.append((i, b))
        t_base = t_pyr = t_enc = 0.0
        n_tiles = 0
        for i, b in blocks:
            t = time.perf_counter()
            _, zoom, mz, base = tiling.base_tiles_for_image(
                b, self.imgs["gt"][i], "EPSG:3857", np.nan)
            t_base += time.perf_counter() - t
            t = time.perf_counter()
            levels = list(tiling.pyramid_local(base, zoom, mz, 256))
            t_pyr += time.perf_counter() - t
            t = time.perf_counter()
            for (_, _, _, a, vmin, vmax) in levels:
                tiling.encode_tile_array(a, vmin, vmax)
            t_enc += time.perf_counter() - t
            n_tiles += len(levels)
        n = len(blocks)
        out = {
            "functions.codecs.decode_block.ns_per_px":
                t_dec / (n * self.px * self.px) * 1e9,
            "operators.tiling.base_tiles_for_image.ms_per_image":
                t_base / n * 1e3,
            "operators.tiling.pyramid_local.ms_per_image": t_pyr / n * 1e3,
            "operators.tiling.encode_tile_array.us_per_tile":
                t_enc / n_tiles * 1e6,
        }
        gts = np.array(self.imgs["gt"])
        out["functions.geom.points_in_rings.scattered_ns_per_test"] = \
            pip_ns_per_test(gts[:, 0] + gts[:, 1] * self.px / 2,
                            gts[:, 3] + gts[:, 5] * self.px / 2, self.aois)
        return out


def pip_ns_per_test(px, py, aois: dict, repeat: int = 3) -> float:
    """ns per point-edge test of geom.points_in_rings over all AOIs."""
    tests, best = 0, float("inf")
    for _ in range(repeat):
        t = time.perf_counter()
        tests = 0
        for ro, xs, ys in zip(aois["ring_offsets"], aois["xs"], aois["ys"]):
            geom.points_in_rings(px, py, ro, np.asarray(xs), np.asarray(ys))
            tests += len(px) * len(xs)
        best = min(best, time.perf_counter() - t)
    return best / tests * 1e9


# ---------------------------------------------------------------------------
# aoi_zonal
# ---------------------------------------------------------------------------


class AoiZonal(Workload):
    name = "aoi_zonal"
    why = ("raster-vector joins: points_in_rings over pixel grids dominates "
           "and no tiling runs; the point join takes the shuffled path")
    # 4 x 4 images of 1000 m tile the 4000 m extent exactly, so the pixel
    # work per AOI does not depend on where the seed puts the AOIs
    n_images, px, pixel_size = 16, 128, 7.8125
    n_aois, aoi_vertices = 32, 64
    n_points, zoom = 4000, 16
    strip_bytes = 0x4000
    files = 4

    def props(self) -> dict:
        return {"images": self.n_images, "image_px": self.px,
                "pixel_size_m": self.pixel_size,
                "placement": "images tile the extent, AOIs on a jittered "
                             "grid with stratified radii",
                "aois": self.n_aois, "edges_per_polygon": self.aoi_vertices,
                "holes": "every 4th AOI, 8 edges",
                "points": self.n_points, "cell_zoom": self.zoom,
                "join_path": "AOI DataFrame, shuffled cogroup refine",
                "chunk_min_data_size": self.strip_bytes}

    @property
    def items(self) -> int:
        return self.n_images

    def generate(self) -> None:
        shutil.rmtree(self.inp, ignore_errors=True)
        self.imgs = inputs.images(self.seed, self.n_images, self.px,
                                  self.pixel_size)
        self.aois = inputs.star_polygons(self.seed, self.n_aois,
                                         self.aoi_vertices, 4, 150.0, 700.0)
        rng = inputs.rng_for(self.seed, 5)
        e = inputs.EXTENT
        self.pts = {
            "pt_id": [f"pt_{i:07d}" for i in range(self.n_points)],
            "x": list(e[0] + rng.random(self.n_points) * (e[2] - e[0])),
            "y": list(e[1] + rng.random(self.n_points) * (e[3] - e[1])),
        }
        inputs.write_parquet(self.imgs, inputs.IMAGE_SCHEMA,
                             self.path("images"), self.files)
        inputs.write_parquet(self.aois, inputs.AOI_SCHEMA,
                             self.path("aois"), 1)
        inputs.write_parquet(self.pts, inputs.POINT_SCHEMA,
                             self.path("points"), self.files)

    def op(self, spark, sink: Sink, call=untimed) -> dict:
        with call("sources.io.read_table"):
            images = io.read_table(spark, self.path("images"))
            aoi_df = io.read_table(spark, self.path("aois"))
            aois = aoi_df.toPandas()
            points = io.read_table(spark, self.path("points"))
        with call("operators.stats.zonal_stats"):
            sink("zonal", stats.zonal_stats(images, aois),
                 ["aoi_id", "count", "min", "max"])
        with call("operators.chunked.chunked_zonal_stats"):
            strips = chunked.chunk_images(images,
                                          min_data_size=self.strip_bytes)
            sink("chunked_zonal", chunked.chunked_zonal_stats(strips, aois),
                 ["aoi_id", "count", "min", "max"])
        with call("operators.celljoin.cell_pip_join"):
            sink("points_join",
                 celljoin.cell_pip_join(points, aoi_df, zoom=self.zoom,
                                        broadcast_aois=False),
                 ["pt_id", "aoi_id"])
        return {}

    def verify(self, sink: Sink) -> list:
        errs = []
        rng = inputs.rng_for(self.seed, 9)
        # zonal counts/min/max/sum for a sample of AOIs by ray cast over
        # every pixel centre of every image
        pix = []
        for i in range(self.n_images):
            v = inputs.decode_pixels(self.imgs["bytes"][i], self.px, self.px,
                                     self.imgs["fmt"][i])
            x, y = inputs.pixel_centres(self.imgs["gt"][i], self.px, self.px)
            pix.append((x.ravel(), y.ravel(), v.ravel()))
        X = np.concatenate([p[0] for p in pix])
        Y = np.concatenate([p[1] for p in pix])
        V = np.concatenate([p[2] for p in pix])
        sample = rng.choice(self.n_aois, size=6, replace=False)
        for frame in ("zonal", "chunked_zonal"):
            got = sink.frames[frame].set_index("aoi_id")
            for k in sample:
                aid = self.aois["aoi_id"][k]
                xs, ys = self.aois["xs"][k], self.aois["ys"][k]
                box = ((X >= min(xs)) & (X <= max(xs))
                       & (Y >= min(ys)) & (Y <= max(ys)))
                idx = np.flatnonzero(box)
                inside = idx[inputs.ray_cast(X[idx], Y[idx],
                                             self.aois["ring_offsets"][k],
                                             xs, ys)]
                v = V[inside]
                if v.size == 0:
                    if aid in got.index:
                        errs.append(f"{frame}: {aid} has no pixels but a row")
                    continue
                if aid not in got.index:
                    errs.append(f"{frame}: {aid} missing")
                    continue
                r = got.loc[aid]
                if (r["count"] != v.size or r["min"] != v.min()
                        or r["max"] != v.max()
                        or abs(r["sum"] - v.sum()) > 1e-9 * max(1.0, abs(v).sum())):
                    errs.append(f"{frame}: {aid} stats differ from ray cast")
        # point join on a sample of points
        pj = sink.frames["points_join"]
        pts = rng.choice(self.n_points, size=1000, replace=False)
        ids = [self.pts["pt_id"][i] for i in pts]
        sets = inputs.containing(np.array(self.pts["x"])[pts],
                                 np.array(self.pts["y"])[pts], self.aois)
        want = {(p, a) for p, s in zip(ids, sets) for a in s}
        sub = pj[pj["pt_id"].isin(set(ids))]
        got = set(zip(sub["pt_id"], sub["aoi_id"]))
        if got != want or len(sub) != len(want):
            errs.append(f"points_join: {len(got ^ want)} sampled pairs differ")
        return errs

    def kernels(self) -> dict:
        """Self time of the decode and point-in-polygon kernels on the
        pixel grid of a sample image and on the scattered points."""
        t = time.perf_counter()
        reps = 0
        for i in range(self.n_images):
            codecs.decode_block(self.imgs["bytes"][i], self.px, self.px,
                                self.imgs["fmt"][i])
            reps += 1
        dec = (time.perf_counter() - t) / (reps * self.px * self.px) * 1e9
        x, y = inputs.pixel_centres(self.imgs["gt"][0], self.px, self.px)
        grid = pip_ns_per_test(x.ravel(), y.ravel(), {
            k: self.aois[k][:4] for k in ("ring_offsets", "xs", "ys")})
        n = 4096
        return {
            "functions.codecs.decode_block.ns_per_px": dec,
            "functions.geom.points_in_rings.grid_ns_per_test": grid,
            "functions.geom.points_in_rings.scattered_ns_per_test":
                pip_ns_per_test(np.array(self.pts["x"][:n]),
                                np.array(self.pts["y"][:n]), self.aois),
        }


# ---------------------------------------------------------------------------
# caption_curation
# ---------------------------------------------------------------------------


class CaptionCuration(Workload):
    name = "caption_curation"
    why = ("embedding and caption curation: Arrow list conversion, cosine "
           "folds and driver round trips dominate; no pixels are decoded")
    n_vec, dim = 1024, 64
    n_dups = 32
    n_topk_q, k = 8, 10
    n_eval_q = 32
    threshold = 0.9
    n_caps, n_cap_dups, batch_size = 1024, 32, 16
    # range partitions of bucket_batches: two per core of a 4-core host
    # instead of the default 64 sized for corpus-scale tables
    partitions = 8
    files = 4

    def props(self) -> dict:
        return {"vectors": self.n_vec, "dim": self.dim,
                "planted_near_duplicate_vectors": self.n_dups,
                "topk_queries": self.n_topk_q, "k": self.k,
                "retrieval_queries": self.n_eval_q,
                "semdedup_threshold": self.threshold, "centroids": 8,
                "captions": self.n_caps,
                "planted_duplicate_captions": self.n_cap_dups,
                "aspect_buckets": len(inputs.ASPECTS),
                "batch_size": self.batch_size,
                "batch_partitions": self.partitions}

    @property
    def items(self) -> int:
        return self.n_vec

    def generate(self) -> None:
        import pyarrow as pa
        shutil.rmtree(self.inp, ignore_errors=True)
        rng = inputs.rng_for(self.seed, 6)
        emb = rng.normal(size=(self.n_vec, self.dim))
        perm = rng.permutation(self.n_vec)
        self.dup_pairs = [(int(perm[2 * i]), int(perm[2 * i + 1]))
                          for i in range(self.n_dups)]
        for src, dst in self.dup_pairs:
            emb[dst] = emb[src] + 1e-3 * rng.normal(size=self.dim)
        self.emb = emb
        tq = rng.choice(self.n_vec, size=self.n_topk_q, replace=False)
        self.topk_q = emb[tq] + 0.3 * rng.normal(size=(self.n_topk_q, self.dim))
        self.eval_ids = np.sort(rng.choice(self.n_vec, size=self.n_eval_q,
                                           replace=False))
        self.eval_q = emb[self.eval_ids] + 0.6 * rng.normal(
            size=(self.n_eval_q, self.dim))
        vec = pa.list_(pa.float64())
        inputs.write_parquet(
            {"vec_id": list(range(self.n_vec)), "embedding": emb.tolist()},
            pa.schema([("vec_id", pa.int64()), ("embedding", vec)]),
            self.path("embeddings"), self.files)
        qs = pa.schema([("q_id", pa.int64()), ("q_vec", vec)])
        inputs.write_parquet(
            {"q_id": list(range(self.n_topk_q)), "q_vec": self.topk_q.tolist()},
            qs, self.path("topk_queries"), 1)
        inputs.write_parquet(
            {"q_id": self.eval_ids.tolist(), "q_vec": self.eval_q.tolist()},
            qs, self.path("eval_queries"), 1)
        caps = [inputs.caption(inputs.rng_for(self.seed, 7, i))
                for i in range(self.n_caps)]
        cperm = rng.permutation(self.n_caps)
        self.cap_dups = [(int(cperm[2 * i]), int(cperm[2 * i + 1]))
                         for i in range(self.n_cap_dups)]
        for src, dst in self.cap_dups:
            caps[dst] = caps[src]
        aspect = rng.integers(0, len(inputs.ASPECTS), size=self.n_caps)
        self.caps = {
            "image_id": [f"img_{i:08d}" for i in range(self.n_caps)],
            "caption": caps,
            "w": [inputs.ASPECTS[a][0] for a in aspect],
            "h": [inputs.ASPECTS[a][1] for a in aspect],
            "bucket_id": aspect.astype(int).tolist(),
            "shuffle_rank": rng.permutation(self.n_caps).tolist(),
        }
        inputs.write_parquet(self.caps, pa.schema([
            ("image_id", pa.string()), ("caption", pa.string()),
            ("w", pa.int32()), ("h", pa.int32()), ("bucket_id", pa.int32()),
            ("shuffle_rank", pa.int64())]), self.path("captions"), self.files)

    def op(self, spark, sink: Sink, call=untimed) -> dict:
        with call("sources.io.read_table"):
            embs = io.read_table(spark, self.path("embeddings"))
            topk_q = io.read_table(spark, self.path("topk_queries"))
            eval_q = io.read_table(spark, self.path("eval_queries"))
            caps = io.read_table(spark, self.path("captions"))
        with call("operators.dedup.semantic_dedup"):
            sink("semdedup",
                 dedup.semantic_dedup(embs, similarity.lcg_centroids(8, self.dim),
                                      threshold=self.threshold),
                 ["vec_id", "cluster", "kept"])
        with call("operators.similarity.cosine_topk"):
            sink("topk", similarity.cosine_topk(topk_q, embs, k=self.k),
                 ["q_id", "vec_id", "rank"])
        with call("operators.similarity.retrieval_rank_eval"):
            sink("retrieval", similarity.retrieval_rank_eval(eval_q, embs),
                 ["q_id", "true_rank"])
        with call("operators.dedup.minhash_dedup"):
            sink("minhash", dedup.minhash_dedup(caps, text_col="caption",
                                                id_col="image_id"),
                 ["id_a", "id_b"])
        with call("operators.multimodal.bucket_batches"):
            sink("batches",
                 multimodal.bucket_batches(caps, self.batch_size,
                                           order_col="shuffle_rank",
                                           partitions=self.partitions),
                 ["image_id", "bucket_id", "batch_id", "pos_in_batch"])
        return {}

    def verify(self, sink: Sink) -> list:
        errs = []
        fr = sink.frames
        # top-k against numpy brute force; a returned row must carry its
        # true cosine and the cosine at each rank must be the k-th best
        cos = inputs.cosines(self.topk_q, self.emb)
        for q, g in fr["topk"].groupby("q_id"):
            g = g.sort_values("rank")
            best = np.sort(cos[q])[::-1][:self.k]
            if (list(g["rank"]) != list(range(1, self.k + 1))
                    or np.abs(cos[q, g["vec_id"].to_numpy()]
                              - g["cosine"].to_numpy()).max() > 1e-9
                    or np.abs(best - g["cosine"].to_numpy()).max() > 1e-9):
                errs.append(f"topk: query {q} differs from brute force")
        if fr["topk"]["q_id"].nunique() != self.n_topk_q:
            errs.append("topk: queries missing")
        # retrieval ranks: within the brute-force rank band of +-1e-9
        cos = inputs.cosines(self.eval_q, self.emb)
        got = fr["retrieval"].set_index("q_id")
        for row, qid in enumerate(self.eval_ids):
            c = cos[row]
            true = c[qid]
            lo = 1 + int((c > true + 1e-9).sum())
            hi = int((c >= true - 1e-9).sum())
            if qid not in got.index or not lo <= got.loc[qid, "true_rank"] <= hi:
                errs.append(f"retrieval: query {qid} rank outside [{lo}, {hi}]")
        # semantic dedup: drops only planted near-duplicates, exactly one
        # of each planted pair the program put in one cluster
        sd = fr["semdedup"].set_index("vec_id")
        if len(sd) != self.n_vec:
            errs.append(f"semdedup: {len(sd)} rows for {self.n_vec} vectors")
        else:
            dropped = set(sd.index[~sd["kept"]])
            planted = {v for p in self.dup_pairs for v in p}
            if not dropped <= planted:
                errs.append(f"semdedup: {len(dropped - planted)} unplanted drops")
            for a, b in self.dup_pairs:
                same = sd.loc[a, "cluster"] == sd.loc[b, "cluster"]
                n = (a in dropped) + (b in dropped)
                if (same and n != 1) or (not same and n != 0):
                    errs.append(f"semdedup: planted pair {a},{b} dropped {n}")
        # minhash pairs: every planted duplicate caption pair is found,
        # and reported Jaccards match word 3-shingle sets
        mh = fr["minhash"]
        pairs = {frozenset((a, b)): j for a, b, j in
                 zip(mh["id_a"], mh["id_b"], mh["jaccard"])}
        for s, d in self.cap_dups:
            key = frozenset((self.caps["image_id"][s], self.caps["image_id"][d]))
            if pairs.get(key) != 1.0:
                errs.append(f"minhash: planted pair {sorted(key)} missing")
        shingles = {}
        for iid, c in zip(self.caps["image_id"], self.caps["caption"]):
            t = c.split(" ")
            shingles[iid] = {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}
        for key, j in list(pairs.items())[:200]:
            a, b = tuple(key)
            sa, sb = shingles[a], shingles[b]
            if abs(len(sa & sb) / len(sa | sb) - j) > 1e-9:
                errs.append(f"minhash: jaccard of {a},{b} differs")
        # batches: rank within bucket by (shuffle_rank, image_id), full
        # batches only
        bb = fr["batches"].set_index("image_id")
        want = {}
        for b in set(self.caps["bucket_id"]):
            members = sorted((r, i) for r, i, bk in zip(
                self.caps["shuffle_rank"], self.caps["image_id"],
                self.caps["bucket_id"]) if bk == b)
            full = len(members) // self.batch_size * self.batch_size
            for rank, (_, iid) in enumerate(members[:full]):
                want[iid] = (b, rank // self.batch_size, rank % self.batch_size)
        got = {i: (r.bucket_id, r.batch_id, r.pos_in_batch)
               for i, r in bb.iterrows()}
        if got != want or len(bb) != len(want):
            errs.append("batches: assignment differs from sorted buckets")
        return errs

    def kernels(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# zonal_curation
# ---------------------------------------------------------------------------


class ZonalCuration(Workload):
    """The aoi_zonal operation, then the caption_curation one, as one
    operation on one session, each half on its own inputs."""
    name = "zonal_curation"
    why = ("aoi_zonal then caption_curation in one operation: pixel-grid "
           "point-in-polygon, the shuffled point join, cosine folds and "
           "driver round trips; no tiling runs")

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.zonal = AoiZonal(seed, os.path.join(work, "zonal"))
        self.curation = CaptionCuration(seed, os.path.join(work, "curation"))

    def props(self) -> dict:
        return {"aoi_zonal": self.zonal.props(),
                "caption_curation": self.curation.props()}

    @property
    def items(self) -> int:
        return self.zonal.items

    def generate(self) -> None:
        self.zonal.generate()
        self.curation.generate()

    def op(self, spark, sink: Sink, call=untimed) -> dict:
        self.zonal.op(spark, sink, call)
        return self.curation.op(spark, sink, call)

    def verify(self, sink: Sink) -> list:
        return self.zonal.verify(sink) + self.curation.verify(sink)

    def kernels(self) -> dict:
        return self.zonal.kernels()


WORKLOADS = {w.name: w for w in (ImageTiles, AoiZonal, CaptionCuration,
                                 ZonalCuration)}
