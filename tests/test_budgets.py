"""Job and plan budget of every public call the two benchmark workloads
make (``image_tiles`` and ``zonal_curation``), on a tiny fixed input.

Each call runs under its own job group and ends in a ``noop`` write, as
the benchmark's sink does (``read_table`` alone has no sink: its
budget is what reading costs before anything is computed). Per call it
counts the Spark jobs (``statusTracker().getJobIdsForGroup``: no event
log, no timing) and, in the executed plans of every query the call ran,
the nodes in ``NODES``. The counts are committed in
``plans/budget.json``; the test fails when any of them grows. A change
that lowers one rewrites the file:

    python tests/test_budgets.py [out.json]    # default plans/budget.json
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parents[1]
BUDGET = ROOT / "plans" / "budget.json"
GROUP = "budget."

#: executed-plan node classes counted per call
NODES = ("Exchange", "BroadcastExchange", "BroadcastExchange(LocalTableScan)",
         "Scan parquet", "Python", "BroadcastNestedLoopJoin", "SortAggregate")


def _write(df: pd.DataFrame, path: Path, files: int) -> str:
    path.mkdir(parents=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    for f in range(files):
        lo, hi = len(df) * f // files, len(df) * (f + 1) // files
        pq.write_table(table.slice(lo, hi - lo), path / f"part-{f:05d}.parquet")
    return str(path)


def write_inputs(root: Path) -> tuple:
    """The two workloads' seven tables, a few dozen rows each, as
    parquet under ``root``: ({table: path}, the AOIs as pandas)."""
    from rasters_rs_spark.sources import synth
    rng = np.random.default_rng(7)
    aois = synth.aoi_table(6, seed=10)
    pts = synth.points_table(200, seed=9)[["pt_id", "x", "y"]]
    emb = rng.normal(size=(64, 8))
    emb[1] = emb[0] + 1e-4
    caps = [synth.make_caption(np.random.default_rng(i)) for i in range(64)]
    caps[3] = caps[2]
    return {
        "images": _write(synth.image_table(8, h=32, w=32, pixel_size=20.0),
                         root / "images", 2),
        "aois": _write(aois, root / "aois", 1),
        "points": _write(pts, root / "points", 2),
        "embeddings": _write(pd.DataFrame({
            "vec_id": np.arange(64), "embedding": emb.tolist()}),
            root / "embeddings", 2),
        "topk_queries": _write(pd.DataFrame({
            "q_id": np.arange(4), "q_vec": (emb[:4] + 0.1).tolist()}),
            root / "topk_queries", 1),
        "eval_queries": _write(pd.DataFrame({
            "q_id": np.arange(0, 64, 8), "q_vec": emb[::8].tolist()}),
            root / "eval_queries", 1),
        "captions": _write(pd.DataFrame({
            "image_id": [f"img_{i:08d}" for i in range(64)], "caption": caps,
            "bucket_id": np.arange(64, dtype=np.int32) % 3,
            "shuffle_rank": rng.permutation(64)}), root / "captions", 2),
    }, aois


def calls(spark, paths: dict, aois: pd.DataFrame) -> list:
    """(name, thunk) per public call, in workload order; a thunk returns
    the DataFrame the sink writes, or None."""
    from rasters_rs_spark.operators import (celljoin, chunked, dedup,
                                            multimodal, similarity, stats,
                                            tiling)
    from rasters_rs_spark.sources import io
    t: dict = {}

    def read():
        t.update({k: io.read_table(spark, p) for k, p in paths.items()})

    def centroid_join():
        cents = t["images"].select(
            "image_id",
            (F.col("gt")[0] + F.col("gt")[1] * F.col("w") / 2).alias("x"),
            (F.col("gt")[3] + F.col("gt")[5] * F.col("h") / 2).alias("y"))
        return celljoin.cell_pip_join(cents, aois, zoom=12)

    return [
        ("sources.io.read_table", read),
        ("operators.stats.zonal_stats",
         lambda: stats.zonal_stats(t["images"], aois)),
        ("operators.chunked.chunked_zonal_stats",
         lambda: chunked.chunked_zonal_stats(
             chunked.chunk_images(t["images"], min_data_size=0x400), aois)),
        ("operators.celljoin.cell_pip_join.shuffled",
         lambda: celljoin.cell_pip_join(t["points"], t["aois"], zoom=16,
                                        broadcast_aois=False)),
        ("operators.celljoin.cell_pip_join.broadcast", centroid_join),
        ("operators.dedup.semantic_dedup",
         lambda: dedup.semantic_dedup(t["embeddings"],
                                      similarity.lcg_centroids(4, 8),
                                      threshold=0.9)),
        ("operators.similarity.cosine_topk",
         lambda: similarity.cosine_topk(t["topk_queries"], t["embeddings"],
                                        k=3)),
        ("operators.similarity.retrieval_rank_eval",
         lambda: similarity.retrieval_rank_eval(t["eval_queries"],
                                                t["embeddings"])),
        ("operators.dedup.minhash_dedup",
         lambda: dedup.minhash_dedup(t["captions"], text_col="caption",
                                     id_col="image_id")),
        ("operators.multimodal.bucket_batches",
         lambda: multimodal.bucket_batches(t["captions"], 4,
                                           order_col="shuffle_rank",
                                           partitions=8)),
        ("operators.tiling.tile_index_manifest",
         lambda: tiling.tile_index_manifest(t["images"], compress=True)),
    ]


def _tree(plan: str) -> list:
    """(depth, node name) of the executed plan's tree: the final plan of
    an adaptive query, without its initial plan."""
    lines = plan.split("== Physical Plan ==", 1)[-1].strip("\n").splitlines()
    out, skip = [], None
    for line in lines:
        if not line.strip():
            break
        m = re.match(r"^([\s:|+\-]*)(.*)$", line)
        depth, text = len(m.group(1)), m.group(2)
        # a plan heading sits at the depth of its own children
        if skip is not None and depth >= skip:
            continue
        skip = None
        if text.startswith("== Initial Plan =="):
            skip = depth
            continue
        if text.startswith("=="):
            continue
        name = re.sub(r" \(\d+\).*$", "", text.lstrip("* ")).strip()
        out.append((depth, name))
    return out


def count_nodes(plan: str) -> dict:
    """NODES counts of one executed plan description. A broadcast whose
    subtree reads only ``LocalTableScan`` leaves (a driver-built table)
    counts as ``BroadcastExchange(LocalTableScan)`` instead."""
    tree = _tree(plan)
    n = dict.fromkeys(NODES, 0)
    for i, (depth, name) in enumerate(tree):
        if name == "Exchange":
            n["Exchange"] += 1
        elif name.startswith("BroadcastExchange"):
            below = []
            for d, nm in tree[i + 1:]:
                if d <= depth:
                    break
                below.append((d, nm))
            leaves = [nm for j, (d, nm) in enumerate(below)
                      if j + 1 == len(below) or below[j + 1][0] <= d]
            local = leaves and all(nm == "LocalTableScan" for nm in leaves)
            n["BroadcastExchange(LocalTableScan)" if local
              else "BroadcastExchange"] += 1
        elif name.startswith("Scan parquet"):
            n["Scan parquet"] += 1
        elif (name.endswith(("InPandas", "InArrow"))
              or name == "ArrowEvalPython"):
            n["Python"] += 1
        elif name.startswith("BroadcastNestedLoopJoin"):
            n["BroadcastNestedLoopJoin"] += 1
        elif name == "SortAggregate":
            n["SortAggregate"] += 1
    return n


def _executions(spark) -> list:
    """(execution id, executed plan description) of the SQL executions
    the status store holds, oldest first."""
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    out = []
    while it.hasNext():
        e = it.next()
        out.append((e.executionId(), e.physicalPlanDescription()))
    return out


def measure(spark, root: Path) -> dict:
    """{call: {"jobs": n, node: n ...}} over every call of ``calls``."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    paths, aois = write_inputs(root)
    out = {}
    try:
        for name, thunk in calls(spark, paths, aois):
            bus.waitUntilEmpty()
            seen = max((i for i, _ in _executions(spark)), default=-1)
            sc.setJobGroup(GROUP + name, name)
            df = thunk()
            if df is not None:
                df.write.format("noop").mode("overwrite").save()
            sc.setJobGroup("budget.between", "between calls")
            bus.waitUntilEmpty()
            counts = {"jobs": len(sc.statusTracker().getJobIdsForGroup(
                GROUP + name))}
            counts.update(dict.fromkeys(NODES, 0))
            for i, plan in _executions(spark):
                if i > seen:
                    for k, v in count_nodes(plan).items():
                        counts[k] += v
            out[name] = counts
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out


def test_plan_tree_parser():
    """The parser reads the final plan only and tells a broadcast of a
    driver-built table from one of a scan."""
    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   ResultQueryStage (8)
   +- * BroadcastHashJoin Inner BuildRight (7)
      :- * Scan parquet  (1)
      +- BroadcastQueryStage (6)
         +- BroadcastExchange (5)
            +- * Filter (4)
               +- LocalTableScan (3)
+- == Initial Plan ==
   BroadcastHashJoin Inner BuildRight (12)
   :- Exchange (10)
   +- BroadcastExchange (11)
      +- Scan parquet  (2)


(1) Scan parquet
"""
    n = count_nodes(plan)
    assert n["Scan parquet"] == 1 and n["Exchange"] == 0
    assert n["BroadcastExchange(LocalTableScan)"] == 1
    assert n["BroadcastExchange"] == 0


def test_job_and_plan_budget(spark, tmp_path):
    with open(BUDGET) as f:
        budget = json.load(f)
    got = measure(spark, tmp_path)
    assert sorted(got) == sorted(budget)
    grew = {f"{call}.{k}": (budget[call][k], v)
            for call, counts in got.items() for k, v in counts.items()
            if v > budget[call].get(k, 0)}
    assert not grew, f"counts above plans/budget.json (budget, got): {grew}"


if __name__ == "__main__":
    import tempfile
    sys.path.insert(0, str(ROOT))
    from rasters_rs_spark.session import get_spark
    # the conftest.py session of the test suite
    session = get_spark("tests", cores=8, shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as tmp:
        result = measure(session, Path(tmp))
    session.stop()
    dest = sys.argv[1] if len(sys.argv) > 1 else str(BUDGET)
    with open(dest, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps({k: v["jobs"] for k, v in result.items()}, indent=1))
