"""Checkpoint manifest + idempotent stage resume.

The north rule asks for resumable batch: every stage writes per-partition
lineage (rows, bytes, files) and row/byte metrics to a manifest, and a
re-run skips stages whose manifest is already complete. The reference
has only a progress thread (cli/progress.rs) — this is the
cluster-grade replacement: plain parquet + JSON manifests, no
Structured Streaming needed (the dataflow is batch).

Layout under ``root``:
  <root>/<stage>/data/...parquet     stage output
  <root>/<stage>/manifest.json       status, row/byte totals, per-file lineage
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources import io


@dataclass
class StageResult:
    name: str
    skipped: bool
    rows: int
    bytes: int
    wall_s: float
    files: list = field(default_factory=list)


class CheckpointRunner:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.results: list[StageResult] = []

    def _paths(self, stage: str):
        sd = os.path.join(self.root, stage)
        return sd, os.path.join(sd, "data"), os.path.join(sd, "manifest.json")

    def is_complete(self, stage: str) -> bool:
        _, _, mf = self._paths(stage)
        if not os.path.exists(mf):
            return False
        try:
            return json.load(open(mf)).get("status") == "complete"
        except (json.JSONDecodeError, OSError):
            return False  # torn manifest == incomplete -> stage reruns

    def load(self, stage: str) -> DataFrame:
        """A stage's persisted output; its schema comes from a parquet
        footer (``io.read_table``), so loading runs no Spark job."""
        _, data, _ = self._paths(stage)
        return io.read_table(self.spark, data)

    def run(self, stage: str, df_fn, repartition: int | None = None) -> DataFrame:
        """Execute ``df_fn() -> DataFrame`` once: if the stage's manifest
        is complete, return the persisted output without recomputing
        (idempotent resume); otherwise compute, write parquet, and write
        the manifest with per-file lineage + row/byte counts."""
        sd, data, mf = self._paths(stage)
        if self.is_complete(stage):
            self.results.append(StageResult(stage, True, -1, -1, 0.0))
            return self.load(stage)

        t0 = time.time()
        df = df_fn()
        if repartition:
            df = df.repartition(repartition)
        # A10 analogue: in-flight row metric via observe() so the count
        # costs nothing extra (no second scan)
        from pyspark.sql import functions as F
        from pyspark.sql import Observation
        obs = Observation(f"{stage}_metrics")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        df.write.mode("overwrite").parquet(data)
        wall = time.time() - t0
        observed_rows = int(obs.get.get("rows", -1))

        files = []
        total_bytes = 0
        for fn in sorted(os.listdir(data)):
            if fn.startswith("part-"):
                sz = os.path.getsize(os.path.join(data, fn))
                files.append({"file": fn, "bytes": sz})
                total_bytes += sz
        out = self.load(stage)
        rows = observed_rows if observed_rows >= 0 else out.count()

        manifest = {
            "stage": stage,
            "status": "complete",
            "rows": rows,
            "bytes": total_bytes,
            "wall_s": wall,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "files": files,
        }
        tmp = mf + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mf)  # atomic: readers never see a torn manifest
        self.results.append(StageResult(stage, False, rows, total_bytes, wall, files))
        return out

    def summary(self) -> list[dict]:
        return [
            {"stage": r.name, "skipped": r.skipped, "rows": r.rows,
             "bytes": r.bytes, "wall_s": round(r.wall_s, 3)}
            for r in self.results
        ]
