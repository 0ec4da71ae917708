"""Dump .explain("formatted") for declared bench queries to plans/<tag>/.

Usage:
    python tools/plan_dump.py <outdir> [query ...]

Writes one <query>.txt per query (the caller renames/copies into
plans/r08/<query>_before.txt / _after.txt). Building a query DataFrame can
itself run eager Spark jobs (checkpointed operators), so this is not free;
it shares one session across all queries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from rasters_rs_spark.session import get_spark  # noqa: E402


def main():
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # cores: SPARK_GRAFT_CPUS, else the CPUs this process may run on
    spark = get_spark("plan_dump", cores=None)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    if not names:
        names = sorted(queries)
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001 - record the failure inline
            plan = f"ERROR building/explaining {name}: {e}"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok" if not plan.startswith("ERROR") else "ERROR")


if __name__ == "__main__":
    main()
