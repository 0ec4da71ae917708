"""Single-threaded timing of the tile kernels on the ``image_tiles``
benchmark inputs (192 128x128 images at 2 m/px, raw and q16
alternating).

Builds the images with ``perfbench/inputs.py`` and the sizes of
``perfbench/workloads.ImageTiles`` (both only imported, nothing is
written) and prints one JSON object:

- ``decode_ms`` / ``base_ms`` / ``pyramid_ms`` / ``encode_ms`` /
  ``deflate_ms``: the best of ``--repeat`` passes over all images of
  each stage of the local tile path: ``codecs.decode_block``,
  ``tiling.base_tiles_for_image``, ``tiling.pyramid_local``,
  ``tiling.encode_tile_array`` per tile and ``zlib.compress`` at
  level 1 (``tile_index_manifest(compress=True)``);
- ``generator_ms``: the best of ``--repeat`` runs of the local
  ``tile_index_manifest`` generator (``tiling._manifest_batches``,
  compressed) over one Arrow batch of all images, which adds the Arrow
  reads and the output batches to the stages;
- ``tiles`` and ``digest``: the tile count and a sha256 of every
  output row (ids, z/x/y, payload, min, max, err) of the generator, so
  two trees can be compared for bit-identical tiles.

    python tools/tile_kernels.py [--seed N] [--repeat N]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
import zlib

import numpy as np
import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import inputs  # noqa: E402
from workloads import ImageTiles  # noqa: E402

from rasters_rs_spark.functions import codecs  # noqa: E402
from rasters_rs_spark.operators import tiling  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()

    wl = ImageTiles
    imgs = inputs.images(args.seed, wl.n_images, wl.px, wl.pixel_size)
    n = len(imgs["image_id"])
    ts = 256

    best = dict.fromkeys(("decode", "base", "pyramid", "encode", "deflate"),
                         float("inf"))
    for _ in range(args.repeat):
        spent = dict.fromkeys(best, 0.0)
        for i in range(n):
            t0 = time.perf_counter()
            block = codecs.decode_block(imgs["bytes"][i], wl.px, wl.px,
                                        imgs["fmt"][i])
            t1 = time.perf_counter()
            _, zoom, mz, base = tiling.base_tiles_for_image(
                block, imgs["gt"][i], "EPSG:3857", np.nan)
            t2 = time.perf_counter()
            levels = list(tiling.pyramid_local(base, zoom, mz, ts))
            t3 = time.perf_counter()
            payloads = [tiling.encode_tile_array(a, vmin, vmax)[0]
                        for (_, _, _, a, vmin, vmax) in levels]
            t4 = time.perf_counter()
            for p in payloads:
                zlib.compress(p, 1)
            t5 = time.perf_counter()
            for k, dt in zip(best, (t1 - t0, t2 - t1, t3 - t2, t4 - t3,
                                    t5 - t4)):
                spent[k] += dt
        best = {k: min(best[k], spent[k]) for k in best}

    batch = pa.RecordBatch.from_pydict(imgs, schema=inputs.IMAGE_SCHEMA)
    gen_best, out = float("inf"), []
    for _ in range(args.repeat):
        t = time.perf_counter()
        out = list(tiling._manifest_batches(iter([batch]), ts, None, None,
                                            True))
        gen_best = min(gen_best, time.perf_counter() - t)

    h = hashlib.sha256()
    tiles = 0
    for b in out:
        cols = b.to_pydict()
        for row in zip(cols["image_id"], cols["z"], cols["x"], cols["y"],
                       cols["bytes"], cols["min"], cols["max"], cols["err"]):
            h.update(repr(row).encode())
            tiles += 1
    res = {"seed": args.seed, "images": n, "tiles": tiles}
    res.update({f"{k}_ms": round(v * 1e3, 1) for k, v in best.items()})
    res["generator_ms"] = round(gen_best * 1e3, 1)
    res["digest"] = h.hexdigest()[:16]
    print(json.dumps(res))


if __name__ == "__main__":
    main()
