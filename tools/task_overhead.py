"""Fixed cost of a Python task: a trivial 4-partition Python job, N times.

Each job is a ``mapInPandas`` over 4 partitions whose UDF only imports
the engine package (as unpickling any engine UDF does) and reports its
worker's pid and ``gc.get_freeze_count()``. Per job the tool prints the
job's wall time and, for every Python worker that ran one of its tasks,
the CPU that worker used per task (utime + stime from
``/proc/<pid>/stat``, differenced against the reading after the previous
job) and its frozen object count. Workers are reused between jobs, so
from the second job on this is the per-task cost of a warm worker,
almost all of it PySpark's task set-up. The summary gives the median
over those reused-worker tasks and the median wall of jobs 3..N, by
which point every worker has frozen its heap. Local mode only (the
workers must be processes of this host).

    python tools/task_overhead.py [N]     # N jobs, default 10
"""

from __future__ import annotations

import collections
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rasters_rs_spark.session import get_spark  # noqa: E402

PARTITIONS = 4
TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float | None:
    """utime + stime of ``pid`` in seconds, or None once it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is field 3 (state); utime and stime are fields 14 and 15
    return (int(fields[11]) + int(fields[12])) * TICK_S


def report_pid(batches):
    import gc
    import os

    import pandas as pd

    import rasters_rs_spark  # noqa: F401 - what an engine UDF's unpickling does

    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "frozen": [gc.get_freeze_count()]})


def main(jobs: int = 10) -> None:
    spark = get_spark("task_overhead", cores=None)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(PARTITIONS, numPartitions=PARTITIONS)
    last: dict[int, float] = {}
    warm = []
    walls = []
    for j in range(1, jobs + 1):
        t0 = time.perf_counter()
        rows = df.mapInPandas(report_pid, "pid long, frozen long").collect()
        wall = time.perf_counter() - t0
        walls.append(wall)
        frozen = {r["pid"]: r["frozen"] for r in rows}
        cells = []
        for pid, tasks in sorted(collections.Counter(r["pid"] for r in rows).items()):
            now = cpu_s(pid)
            if now is None:
                cells.append(f"{pid}: exited")
                continue
            if pid in last:
                per_task = (now - last[pid]) / tasks * 1e3
                warm.append(per_task)
                cells.append(f"{pid}: {per_task:.0f} ms x{tasks} frozen {frozen[pid]}")
            else:
                cells.append(f"{pid}: new x{tasks} frozen {frozen[pid]}")
            last[pid] = now
        print(f"job {j:2d}  {wall * 1e3:6.0f} ms  worker cpu/task  "
              + ", ".join(cells), flush=True)
    if warm:
        print(f"reused workers: median {statistics.median(warm):.0f} ms CPU "
              f"per task over {len(warm)} tasks")
    if len(walls) > 2:
        print(f"jobs 3..{jobs}: median wall {statistics.median(walls[2:]) * 1e3:.0f} ms")
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 10)
