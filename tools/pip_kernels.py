"""Single-threaded timing of the zonal point-in-polygon kernels at the
``aoi_zonal`` benchmark geometry (16 128x128 images, 32 star AOIs).

Builds the images and AOIs with ``perfbench/inputs.py`` and the sizes
of ``perfbench/workloads.AoiZonal`` (both only imported, nothing is
written) and prints one JSON object:

- ``dense_mask_ms`` / ``scanline_mask_ms``: the AOI-bbox window masks
  of every (image, AOI) pair through ``geom.points_in_rings`` on the
  window's centres and through ``geom.grid_in_rings`` (absent from
  trees without the scanline kernel);
- ``image_kernel_ms`` / ``strip_kernel_ms`` / ``strip16_kernel_ms``:
  the per-row zonal kernel of ``zonal_stats`` over the 16 images and
  over the strips ``chunk_images`` cuts at
  the benchmark's ``min_data_size`` (one strip per image) and over
  16-row strips (8 per image, 7 of them starting past row 0);
- ``image_kernel_peak_mb``: the ``tracemalloc`` peak of the
  whole-image kernel over one image;
- ``*_partials`` / ``*_digest``: how many partial tuples each kernel
  emits and a sha256 of their repr, so two trees can be compared for
  bit-identical output.

    python tools/pip_kernels.py [--seed N]
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import json
import os
import sys
import time
import tracemalloc

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import inputs  # noqa: E402
from workloads import AoiZonal  # noqa: E402

from rasters_rs_spark.functions import geom  # noqa: E402
from rasters_rs_spark.operators import chunked, stats  # noqa: E402
from rasters_rs_spark.plans.chunking import ChunkPlan  # noqa: E402

# the row kernel of zonal_stats, images and strips alike; older trees
# have a whole-image kernel (_image_zonal_partials, earlier
# _zonal_image_partials) and chunked._strip_zonal_partials for strips
if hasattr(stats, "_strip_zonal_partials"):
    image_kernel = stats._strip_zonal_partials

    def strip_kernel(row, aoi_rows):
        return stats._strip_zonal_partials(row, aoi_rows, False)
else:
    image_kernel = getattr(stats, "_image_zonal_partials", None) \
        or stats._zonal_image_partials
    strip_kernel = chunked._strip_zonal_partials

Row = collections.namedtuple(
    "Row", "image_id bytes w h fmt gt no_val "
           "data_start data_end load_start load_end")


def best_ms(fn, repeat: int = 3) -> float:
    best = float("inf")
    for _ in range(repeat):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best * 1e3


def digest(tuples: list) -> str:
    return hashlib.sha256(repr(tuples).encode()).hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    wl = AoiZonal
    imgs = inputs.images(args.seed, wl.n_images, wl.px, wl.pixel_size)
    aois = pd.DataFrame(inputs.star_polygons(
        args.seed, wl.n_aois, wl.aoi_vertices, 4, 150.0, 700.0))
    aoi_rows = stats._packed_aoi_rows(aois)

    images = [Row(imgs["image_id"][i], imgs["bytes"][i], wl.px, wl.px,
                  imgs["fmt"][i], imgs["gt"][i], imgs["no_val"][i],
                  0, wl.px, 0, wl.px) for i in range(wl.n_images)]

    def strip_rows(plan: ChunkPlan) -> list:
        return [r._replace(
            bytes=chunked._slice_strip_bytes(r.bytes, ls, le, r.w, r.fmt),
            data_start=ds, data_end=de, load_start=ls, load_end=le)
            for r in images for (_, ds, de, ls, le) in plan.chunks()]

    strips = strip_rows(ChunkPlan(wl.px, wl.px)
                        .with_min_data_size(wl.strip_bytes))
    strips16 = strip_rows(ChunkPlan(wl.px, wl.px).with_min_data_height(16))

    # bbox windows of every (image, AOI) pair, as the block kernel cuts them
    windows = []
    for r in images:
        xc, yc = (np.asarray(a) for a in inputs.pixel_centres(r.gt, r.h, r.w))
        xc, yc = xc[0], yc[:, 0]
        for (_, ro, xs, ys, box) in aoi_rows:
            cj = np.flatnonzero((xc >= box[0]) & (xc <= box[2]))
            ri = np.flatnonzero((yc >= box[1]) & (yc <= box[3]))
            if len(cj) and len(ri):
                windows.append((xc[cj], yc[ri], ro, xs, ys))

    def dense():
        for (x, y, ro, xs, ys) in windows:
            jj, ii = np.meshgrid(x, y)
            geom.points_in_rings(jj.ravel(), ii.ravel(), ro, xs, ys)

    def scanline():
        for (x, y, ro, xs, ys) in windows:
            geom.grid_in_rings(x, y, ro, xs, ys)

    partials = {}

    def kernel_all(name, rows, kernel):
        def run():
            partials[name] = [t for r in rows for t in kernel(r)]
        return run

    image_all = kernel_all("image", images,
                           lambda r: image_kernel(r, aoi_rows, False))
    strip_all = kernel_all("strip", strips,
                           lambda r: strip_kernel(r, aoi_rows))
    strip16_all = kernel_all("strip16", strips16,
                             lambda r: strip_kernel(r, aoi_rows))

    out = {"seed": args.seed, "images": len(images), "strips": len(strips),
           "strips16": len(strips16), "aois": len(aoi_rows),
           "windows": len(windows),
           "window_pixels": int(sum(len(w[0]) * len(w[1])
                                    for w in windows)),
           "dense_mask_ms": round(best_ms(dense), 1)}
    if hasattr(geom, "grid_in_rings"):
        out["scanline_mask_ms"] = round(best_ms(scanline), 1)
    out["image_kernel_ms"] = round(best_ms(image_all), 1)
    out["strip_kernel_ms"] = round(best_ms(strip_all), 1)
    out["strip16_kernel_ms"] = round(best_ms(strip16_all), 1)
    tracemalloc.start()
    image_kernel(images[0], aoi_rows, False)
    out["image_kernel_peak_mb"] = round(
        tracemalloc.get_traced_memory()[1] / 2**20, 2)
    tracemalloc.stop()
    for name, tuples in partials.items():
        out[f"{name}_partials"] = len(tuples)
        out[f"{name}_digest"] = digest(tuples)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
