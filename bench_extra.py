"""Extra benchmarks for optimization work (bench.py is frozen for
measurement; this file holds the working instruments).

- Per-query noop-sink timing (guide section 1.4) for an arbitrary subset
  of the declared queries, best-of-N, one JSON line like bench.py.
- A contention sentinel: a fixed single-thread spin loop timed before and
  after the run (``calib_ms_before`` / ``calib_ms_after``). On an idle
  box the loop runs at a stable per-iteration cost; a noisy neighbour
  inflates it, so a reader can separate engine regressions from VM load
  (round-7 VERDICT "Next round" item 1).

Usage:
    python bench_extra.py [query ...]        # default: all bench queries
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_QUERY_ROUNDS (default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from rasters_rs_spark.session import get_spark  # noqa: E402


def calibrate_ms(iters: int = 20_000_000) -> float:
    """Fixed single-thread integer spin loop; returns elapsed ms.
    Pure-python arithmetic so the figure tracks CPU steal/contention,
    not memory bandwidth."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc = (acc + i) & 0xFFFFFFFF
    dt = (time.perf_counter() - t0) * 1000.0
    return round(dt, 1)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = int(os.environ.get("BENCH_QUERY_ROUNDS", "3"))
    names = sys.argv[1:]

    calib_before = calibrate_ms()

    # cores: SPARK_GRAFT_CPUS, else the CPUs this process may run on
    spark = get_spark("bench_extra", cores=None)
    cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    if not names:
        names = sorted(queries)
    # JVM + python-worker warmup outside all timers (same as bench.py)
    from pyspark.sql import functions as F
    spark.range(1000).agg(F.sum("id")).collect()

    timings = {}
    samples = {}
    for name in names:
        best = None
        ss = []
        for _ in range(rounds):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            ss.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 3)
        samples[name] = ss

    calib_after = calibrate_ms()
    print(json.dumps({
        "queries": timings,
        "samples": samples,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "rounds": rounds,
        "calib_ms_before": calib_before,
        "calib_ms_after": calib_after,
    }))


if __name__ == "__main__":
    main()
