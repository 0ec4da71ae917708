"""Scale-adaptive scan parallelism and the distributed range rank.

The driver's testdata tables are single-file, single-row-group parquet,
so every scan — and everything upstream of the first Exchange — runs in
ONE task regardless of cluster size (Spark assigns a parquet row group
to exactly one split). That serializes the expensive per-row stages
(Arrow kernels, md5 shingling, tokenize+explode) on a 32-core box.

``fan_out(df)`` applies the optimization-guide section 2.5 fix ("input
skew: one huge unsplittable file -> repartition immediately after the
read"), but ADAPTIVELY: only when the frame has fewer partitions than
the session's default parallelism. On a real multi-file corpus (the
100 TB layout) the scan already carries >= cores partitions and the
helper is a no-op — no shuffle is added at scale, so per-operator
"corpus never shuffles" plan claims hold where they matter. The
repartition key, when given, must be a deterministic column (guide
2.5: retried round-robin repartitions of nondeterministic input can
lose rows; a hash key sidesteps the sort-before-repartition cost too).

Row placement never affects any operator's RESULT here: the helper is
only applied upstream of row-local kernels / commutative aggregations
(each caller notes why).

``range_rank(df, order)`` is the one home of the two-pass zipWithIndex
idiom behind every global rank and exclusive cumsum in the engine
(aoi ordinals, training-order shuffle, sequence packing, aspect-bucket
batches): no single-partition window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..sources.io import local_table


def fan_out(df: DataFrame, key: str | None = None,
            factor: int = 1) -> DataFrame:
    """Repartition ``df`` to ``factor * defaultParallelism`` partitions
    iff it currently has fewer than that — a no-op on inputs that
    already scan wide (the at-scale case). ``key``: optional column to
    hash-partition by (deterministic; skips round-robin's local
    sort-before-repartition); omit for round-robin."""
    sc = df.sparkSession.sparkContext
    target = max(int(sc.defaultParallelism) * factor, 1)
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 - planning-only probe; never fatal
        return df
    if current >= target:
        return df
    if key is not None:
        return df.repartition(target, key)
    return df.repartition(target)


def _cols(c) -> list:
    if c is None:
        return []
    return [c] if isinstance(c, str) else list(c)


def range_rank(df: DataFrame, order, group=None, weight: str | None = None,
               partitions: int = 64):
    """Global 0-based rank of each row in ``order`` within its ``group``
    value — or, with ``weight``, the exclusive cumsum of that integral
    column in the same order — without a single-partition window.

    Two passes: range-repartition on ``group + order`` (RangePartitioner
    gives ascending key ranges ascending partition ids) and tag each row
    with its partition id; pin the rows with an eager local checkpoint,
    because the id feeds two consumers; collect one count (or weight
    sum) per (partition, group) — a bounded collect, never the data;
    broadcast each (partition, group)'s offset = the total of the same
    group in lower partitions; finish with a partition-local window.
    The weighted window uses an explicit ROWS frame: the default RANGE
    frame would sum all peer rows of a tied order key into each of
    them, so duplicate keys would get overlapping starts. NULL weights
    count as 0 in the offsets.

    ``order``/``group``: a column name or a list of them. Returns
    ``(ranked, totals)``: ``ranked`` is ``df``'s columns plus a long
    ``_rank``; ``totals`` maps each group-value tuple (``()`` without
    a group) to its row count or weight sum."""
    order, group = _cols(order), _cols(group)
    d = (df.repartitionByRange(partitions, *group, *order)
         .withColumn("_pid", F.spark_partition_id())
         .localCheckpoint(eager=True))
    size = F.count("*") if weight is None else F.sum(weight)
    per_part = d.groupBy("_pid", *group).agg(size.alias("_n")).collect()
    totals: dict = {}
    off_rows = []
    for r in sorted(per_part,
                    key=lambda r: (tuple(r[g] for g in group), r["_pid"])):
        key = tuple(r[g] for g in group)
        acc = totals.get(key, 0)
        off_rows.append((int(r["_pid"]), *key, acc))
        totals[key] = acc + int(r["_n"] or 0)
    types = dict(d.dtypes)
    off_df = local_table(
        df.sparkSession, off_rows or [(0, *[None] * len(group), 0)],
        ", ".join(["_pid int", *(f"{g} {types[g]}" for g in group),
                   "_off long"]))
    win = Window.partitionBy("_pid", *group).orderBy(*order)
    if weight is None:
        rank = F.row_number().over(win) - 1
    else:
        win = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rank = F.sum(weight).over(win) - F.col(weight)
    ranked = (d.join(F.broadcast(off_df), on=["_pid", *group])
              .withColumn("_rank", rank + F.col("_off"))
              .drop("_pid", "_off"))
    return ranked, totals
