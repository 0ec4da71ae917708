"""Spark jobs per public call of one benchmark operation.

Runs a ``perfbench`` workload's operation once to warm up, then once
more with each public call under its own job group, and prints, per
call, the number of jobs and, per job, its wall and each of its
stages' name and task count. Everything comes from Spark's status
tracker and status store, so no event log is needed and the timing
adds nothing to the operation. ``perfbench/workloads.py`` is only
imported.

    python tools/job_census.py zonal_curation [--seed N]
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
# the Python workers import the package too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from rasters_rs_spark.session import get_spark  # noqa: E402

GROUP = "job_census."


def job_rows(spark, job_ids) -> list:
    """(job id, wall s, [(stage name, tasks)]) per job, oldest first."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    rows = []
    for j in sorted(job_ids):
        data = store.job(j)
        start, end = data.submissionTime(), data.completionTime()
        wall = ((end.get().getTime() - start.get().getTime()) / 1e3
                if start.isDefined() and end.isDefined() else float("nan"))
        stages = []
        for s in sorted(sc.statusTracker().getJobInfo(j).stageIds):
            info = sc.statusTracker().getStageInfo(s)
            stages.append((info.name.replace(ROOT + os.sep, ""),
                           info.numCompletedTasks)
                          if info else ("(skipped)", 0))
        rows.append((j, wall, stages))
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"job_census: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="job_census_")
    spark = get_spark("job_census", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    try:
        wl = workloads.WORKLOADS[args.workload](args.seed, work)
        wl.generate()
        sc.setJobGroup(GROUP + "warmup", "warm-up")
        wl.prepare()
        wl.op(spark, workloads.Sink())

        calls: list = []

        @contextlib.contextmanager
        def call(name: str):
            if name not in calls:
                calls.append(name)
            sc.setJobGroup(GROUP + name, name)
            try:
                yield
            finally:
                sc.setJobGroup(GROUP + "between", "between calls")

        wl.prepare()
        wl.op(spark, workloads.Sink(), call)
        sc._jsc.sc().listenerBus().waitUntilEmpty()

        total = 0
        for name in calls + ["between"]:
            rows = job_rows(spark, sc.statusTracker().getJobIdsForGroup(
                GROUP + name))
            if not rows and name == "between":
                continue
            total += len(rows)
            tasks = sum(t for _, _, st in rows for _, t in st)
            print(f"{name}: {len(rows)} jobs, {tasks} tasks, "
                  f"{sum(w for _, w, _ in rows):.3f} s in jobs")
            for j, wall, stages in rows:
                desc = "; ".join(f"{n} [{t}]" for n, t in stages)
                print(f"  job {j:>5}  {wall:6.3f} s  {desc}")
        print(f"total: {total} jobs in one {args.workload} operation "
              f"(seed {args.seed})")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
