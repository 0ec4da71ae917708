"""scanpar.range_rank: the two-pass distributed rank / exclusive cumsum
equals a single-Window rank / cumsum, with no single-partition plan."""

import pytest
from pyspark.sql import Window, functions as F

from rasters_rs_spark.functions.scanpar import range_rank

CASES = ([(mode, parts, 40) for mode in ("rank", "group", "weight")
          for parts in (1, 5)]
         + [(mode, 5, 0) for mode in ("rank", "group", "weight")])


def _table(spark, n):
    # unique order key k (17 is coprime to 40, so k is a permutation of
    # the ids), three groups, integral weights with a few NULLs
    rows = [(i, (i * 17) % max(n, 1), f"g{i % 3}",
             None if i % 11 == 4 else (i * 7) % 5) for i in range(n)]
    return spark.createDataFrame(rows, "id long, k long, g string, w long")


@pytest.mark.parametrize("mode,partitions,n", CASES)
def test_range_rank_matches_single_window(spark, mode, partitions, n):
    df = _table(spark, n)
    group = "g" if mode == "group" else None
    weight = "w" if mode == "weight" else None
    ranked, totals = range_rank(df, "k", group=group, weight=weight,
                                partitions=partitions)
    got = {r["id"]: r["_rank"] for r in ranked.collect()}
    assert set(ranked.columns) == {"id", "k", "g", "w", "_rank"}

    win = (Window.partitionBy("g") if group else Window).orderBy("k")
    if weight:
        frame = win.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)
        expect_col = F.sum("w").over(frame) - F.col("w")
    else:
        expect_col = F.row_number().over(win) - 1
    expect = {r["id"]: r["e"]
              for r in df.select("id", expect_col.alias("e")).collect()}
    assert got == expect and len(got) == n

    if weight:
        want_totals = {(): sum(r["w"] or 0 for r in df.collect())} if n \
            else {}
    else:
        key = (lambda r: (r["g"],)) if group else (lambda r: ())
        want_totals = {}
        for r in df.collect():
            want_totals[key(r)] = want_totals.get(key(r), 0) + 1
    assert totals == want_totals

    # partition-local windows only: no Exchange SinglePartition
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
