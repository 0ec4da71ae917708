"""Benchmark of the join + tiling engine on seeded workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload image_tiles --seed 1 --seconds 10 --trace 0

One process runs one workload on ``local[N]``, N = the CPUs this
process may use. The load is a closed loop: one driver thread issues
one operation at a time, and an operation is one full pass of the
workload's pipeline (see workloads.py), read back from the parquet
inputs written during set-up.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures
untraced operations for half the time, then restarts the session with
Spark's event log on, runs each public call under its own job group
for the other half, and reports the per-layer metrics the log reduces
to (evlog.py), the kernel self times from direct calls, and the
tracing overhead. Details (host, versions, samples, contention
sentinel, check results) go to one JSON line before the result; the
last line of standard output is the result object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
DEFAULT_SEED = 1

READ = "sources.io.read_table"
RUNNER = "streaming.manifest.CheckpointRunner.run"
TILES = "operators.tiling.tile_index_manifest"
JOIN = "operators.celljoin.cell_pip_join"
WARMUP = "perfbench.warmup"


def metric_spec() -> dict:
    """BENCHMARK.json: the metric names and units the result reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------


def host_fit() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    ram_gb = mem_kb / 2**20
    # local mode runs executors inside the driver JVM; a quarter of the
    # host leaves room for the Python workers and other tenants
    driver_gb = max(1, min(8, int(ram_gb // 4)))
    return {"cores": cores, "ram_gb": round(ram_gb, 2),
            "driver_memory": f"{driver_gb}g"}


def spin_ms(iters: int = 4_000_000) -> float:
    """Single-thread contention sentinel: a fixed pure-Python integer
    loop, timed. It tracks CPU steal on a shared host."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc = (acc + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1e3


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants() -> list:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_workers() -> list:
    pids = []
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    pids.append(pid)
        except OSError:
            continue
    return pids


def reset_peak_rss(pids: list) -> bool:
    ok = True
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            ok = False
    return ok


def peak_rss_mb(pids: list) -> float:
    best = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        best = max(best, int(ln.split()[1]) / 1024.0)
        except OSError:
            continue
    return best


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------


class Calls:
    """Times each public call of an operation and, when traced, runs it
    under a job group named after it."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.walls: dict = {}

    @contextlib.contextmanager
    def __call__(self, name: str):
        if self.traced:
            self.sc.setJobGroup(name, name)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t
            if self.traced:
                self.sc.setJobGroup("perfbench.between", "between calls")


def timed_ops(spark, wl, seconds: float, traced: bool) -> tuple:
    """Closed loop of operations for ``seconds``; returns (records,
    worker peak RSS in MB, whether the RSS peak could be reset)."""
    from workloads import Sink
    workers = python_workers()
    reset_ok = reset_peak_rss(workers)
    peak = 0.0
    recs = []
    end = time.perf_counter() + seconds
    while True:
        wl.prepare()
        sink, calls = Sink(), Calls(spark.sparkContext, traced)
        rec = {}
        t = time.perf_counter()
        try:
            rec["stats"] = wl.op(spark, sink, calls)
            rec["wall"] = time.perf_counter() - t
            rec["digests"] = sink.digests()
        except Exception as e:  # a failed op is counted, the loop goes on
            rec["error"] = repr(e)[:500]
        rec["calls"] = calls.walls
        workers = python_workers()
        peak = max(peak, peak_rss_mb(workers))
        recs.append(rec)
        if time.perf_counter() >= end:
            return recs, peak, reset_ok


def start_session(host: dict, app: str):
    from rasters_rs_spark.session import get_spark
    spark = get_spark(app, cores=host["cores"],
                      shuffle_partitions=host["cores"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(wl, host: dict, spark) -> tuple:
    """Session start plus input generation and the parquet write.
    Returns (session, seconds)."""
    if spark is not None:
        spark.stop()
    t = time.perf_counter()
    spark = start_session(host, f"perfbench-{wl.name}")
    wl.generate()
    return spark, time.perf_counter() - t


def warm_up(spark, wl, collect: bool) -> tuple:
    """One operation on a fresh session, which takes several times as
    long as a steady one; collected for the output checks if
    ``collect``. Returns (seconds, its sink)."""
    from workloads import Sink
    wl.prepare()
    sink = Sink(collect=collect)
    t = time.perf_counter()
    wl.op(spark, sink)
    return time.perf_counter() - t, sink


def settle(spark, wl) -> list:
    """``wl.settle_ops`` more untimed operations after the first. On a
    fresh JVM the JIT keeps compiling for several operations and each
    one is faster than the last; the timed ones should not depend on
    how far that got. Returns their walls."""
    walls = []
    for _ in range(wl.settle_ops):
        walls.append(warm_up(spark, wl, collect=False)[0])
    return walls


def restart(spark, host: dict, wl, app: str):
    """A new session on the same JVM, warmed up by one operation; its
    warm-up jobs run under their own job group. The JIT has settled in
    the untraced half, and a new session does not undo that."""
    spark.stop()
    spark = start_session(host, app)
    spark.sparkContext.setJobGroup(WARMUP, "warm-up")
    warm_up(spark, wl, collect=False)
    return spark


def check(wl, sink, seed: int) -> tuple:
    """Check a collected operation against the numpy references (outside
    every timer). Returns (digests, error list)."""
    digests = sink.digests()
    errs = wl.verify(sink)
    if seed == DEFAULT_SEED:
        with open(os.path.join(HERE, "digests.json")) as f:
            want = json.load(f).get(wl.name)
        if want is not None and want != digests:
            errs.append(f"digests differ from the recorded default-seed "
                        f"digests: {digests}")
    return digests, errs


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(groups: dict, recs: list, wl, untraced: list) -> dict:
    """Per-layer metrics of every public call the traced operations
    made, per operation, from the reduced event log and the call walls;
    ``untraced`` holds the walls of the untraced operations."""
    ok = [r for r in recs if "wall" in r]
    n = max(len(ok), 1)
    op_p50 = median([r["wall"] for r in ok])
    m = {}

    def g(call, key):
        return groups.get(call, {}).get(key, 0.0) / n

    for c in (ok[0]["calls"] if ok else {}):
        wall = median([r["calls"].get(c, 0.0) for r in ok])
        m[f"{c}.wall_s"] = wall
        m[f"{c}.share"] = wall / op_p50 if op_p50 else 0.0
        m[f"{c}.executor_cpu_s"] = g(c, "cpu_ns") / 1e9
        for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes",
                  "python_s", "python_bytes_in", "python_bytes_out"):
            m[f"{c}.{k}"] = g(c, k)
    # the scan runs inside every call's jobs: report it once, summed
    timed = [v for k, v in groups.items() if k != WARMUP]
    m[f"{READ}.scan_bytes"] = sum(v.get("scan_bytes", 0.0) for v in timed) / n
    m[f"{READ}.scan_s"] = sum(v.get("scan_s", 0.0) for v in timed) / n
    if f"{RUNNER}.wall_s" in m:
        # tile_index_manifest is lazy: its Python stage runs inside the
        # runner's write job, so its wall is the runner's wall times the
        # share of the job's task time spent in the tile kernel
        for k in ("python_s", "python_bytes_in", "python_bytes_out"):
            m[f"{TILES}.{k}"] = m.pop(f"{RUNNER}.{k}")
        run_s = g(RUNNER, "run_ms") / 1e3
        runner_wall = m[f"{RUNNER}.wall_s"]
        tile_wall = runner_wall * min(1.0, m[f"{TILES}.python_s"] / run_s) \
            if run_s else 0.0
        m[f"{TILES}.wall_s"] = tile_wall
        m[f"{TILES}.share"] = tile_wall / op_p50 if op_p50 else 0.0
        m[f"{RUNNER}.write_s"] = runner_wall - tile_wall
        m[f"{TILES}.bytes_per_tile"] = median(
            [r["stats"]["stored_bytes"] / r["stats"]["tiles"] for r in ok])
        m[f"{RUNNER}.stored_bytes_per_image"] = median(
            [r["stats"]["stored_bytes"] for r in ok]) / wl.items
    cand = groups.get(JOIN, {}).get("join_rows_out", 0.0)
    if cand:
        m[f"{JOIN}.keep_ratio"] = groups[JOIN].get("python_rows_out", 0.0) / cand
    m.update(wl.kernels())
    m["perfbench.trace.op_s_p50"] = op_p50
    m["perfbench.trace.overhead_s"] = op_p50 - median(untraced)
    m["perfbench.trace.ops"] = len(ok)
    m["perfbench.trace.untraced_ops"] = len(untraced)
    return m


def enable_event_log(spark_jvm, log_dir: str) -> None:
    """Turn the event log on for the next SparkContext of this JVM:
    a new SparkConf loads ``spark.*`` JVM system properties."""
    os.makedirs(log_dir, exist_ok=True)
    sysprops = spark_jvm.java.lang.System
    sysprops.setProperty("spark.eventLog.enabled", "true")
    sysprops.setProperty("spark.eventLog.dir", "file://" + log_dir)
    sysprops.setProperty("spark.eventLog.compress", "false")
    # one plain file per application (Spark 4 rolls the log by default)
    sysprops.setProperty("spark.eventLog.rolling.enabled", "false")


def stop_all(spark) -> None:
    """Stop the session, the JVM and every process they started, and
    wait until each has ended."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants():
        time.sleep(0.1)


def prepare_env(host: dict) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = host["driver_memory"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher included, reads this
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        f"--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile
    tempfile.tempdir = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import numpy
        import pyspark
        import rasters_rs_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    spec = metric_spec()
    host = host_fit()
    shutil.rmtree(WORK, ignore_errors=True)
    prepare_env(host)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(WORK, "data"))
    spin_before = spin_ms()

    spark, setups, traced = None, [], []
    try:
        for _ in range(SETUPS):
            spark, dt = set_up(wl, host, spark)
            setups.append(dt)
        warm_s, sink = warm_up(spark, wl, collect=True)
        digests, errs = check(wl, sink, args.seed)
        settle_s = settle(spark, wl)
        phase = args.seconds / 2 if args.trace else args.seconds
        recs, peak, reset_ok = timed_ops(spark, wl, phase, traced=False)
        if args.trace:
            # the traced half gets a restarted session and the same
            # warm-up as the untraced half
            from evlog import reduce_groups
            log_dir = os.path.join(WORK, "eventlog")
            enable_event_log(spark.sparkContext._jvm, log_dir)
            spark = restart(spark, host, wl, f"perfbench-{wl.name}-traced")
            traced, _, _ = timed_ops(spark, wl, phase, traced=True)
            spark.stop()
            spark = None
            groups = reduce_groups(log_dir)
    finally:
        stop_all(spark)
    spin_after = spin_ms()

    all_recs = recs + traced
    failed = sum(1 for r in all_recs if "error" in r or r["digests"] != digests)
    if errs:
        failed = len(all_recs)
    ok = [r for r in recs if "wall" in r]
    op_p50 = median([r["wall"] for r in ok])
    e2e = {
        "setup_s": median(setups) + warm_s,
        "items_per_s": wl.items / op_p50 if op_p50 else 0.0,
        "op_s_p50": op_p50,
        "worker_peak_rss_mb": peak,
    }
    # a layer the workload does not run reports 0
    values = (layer_metrics(groups, traced, wl, [r["wall"] for r in ok])
              if args.trace else e2e)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}

    details = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "why": wl.why, "inputs": wl.props(),
        "host": {**host, "local": f"local[{host['cores']}]",
                 "python": platform.python_version(),
                 "spark": pyspark.__version__, "numpy": numpy.__version__},
        "spin_ms_before": spin_before, "spin_ms_after": spin_after,
        "setup_s_samples": setups, "warm_up_s": warm_s,
        "settle_op_s_samples": settle_s,
        "op_s_samples": [r.get("wall") for r in recs],
        "traced_op_s_samples": [r.get("wall") for r in traced],
        "op_s_p50_samples": len(ok), "end_to_end": e2e,
        "call_s_samples": {c: [r["calls"].get(c, 0.0) for r in ok]
                           for c in (ok[0]["calls"] if ok else {})},
        "failed_ops_share": failed / len(all_recs),
        "rss_peak_reset": reset_ok, "digests": digests, "check_errors": errs,
        "op_errors": [r["error"] for r in all_recs if "error" in r][:5],
    }
    if args.trace:
        details["layers"] = values
    print(json.dumps(details))
    print(json.dumps({"correct": not errs and failed == 0,
                      "attempted": len(all_recs), "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
