"""Physical-plan audits: the properties that make the 100 TB plans
right are pinned here so a refactor can't silently regress them —
filter/column pushdown reaching the parquet scan, broadcast joins where
a side is known-small, no cartesian products hiding in LSH/candidate
paths, and map-side partial aggregation in the signature pipelines."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_filter_and_column_pushdown_reach_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_partkey") < 100).select("l_partkey", "l_quantity")
    p = plan(q)
    assert "PushedFilters: [IsNotNull(l_partkey), LessThan(l_partkey,100)]" in p
    # column pruning: the scan reads 2 columns, not the full schema
    assert "ReadSchema: struct<l_partkey:bigint,l_quantity:" in p


def test_minhash_pipeline_has_no_cartesian_and_partial_aggs(spark, docs):
    from rasters_rs_spark.operators import dedup as D
    pairs = D.minhash_dedup(docs.where(F.col("doc_id") < 200),
                            threshold=0.2, shingle_k=3)
    p = plan(pairs)
    assert "CartesianProduct" not in p
    # the signature agg runs partial (map-side) + final
    assert "partial_min" in p or "partial_merge" in p or "HashAggregate" in p


def test_cell_join_small_aoi_side_is_a_closure_lookup(spark, sf_dir):
    import __spark_entry__ as E
    q = E.queries()["zonal_rect_events"](spark, sf_dir)
    p = plan(q)
    # the AOI/cell side is tiny and rides the refine kernel's closure —
    # a shuffle join on the full event table would be the wrong plan at
    # scale, and a broadcast of a driver-built table costs a job
    assert "Join" not in p and "BroadcastExchange" not in p
    assert "MapInArrow" in p


def test_knn_topk_broadcasts_queries(spark, sf_dir):
    import __spark_entry__ as E
    q = E.queries()["knn_topk_embeddings"](spark, sf_dir)
    p = plan(q)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_asof_is_single_shuffle_window(spark, sf_dir):
    from rasters_rs_spark.operators.asof import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where(F.col("event_type") == "error") \
             .select("user_id", "ts", "event_id")
    right = ev.where(F.col("event_type") == "purchase") \
              .select("user_id", "ts", F.col("value").alias("v"))
    p = plan(asof_join(left, right, key="user_id", ts="ts"))
    # no join operator at all: the union-window formulation
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning(user_id") == 1


def test_exact_dedup_uses_single_window_pass(spark, docs):
    from rasters_rs_spark.operators.dedup import exact_dedup
    p = plan(exact_dedup(docs, ["lang", "source"], "doc_id"))
    assert "RunningWindowFunction" in p or "Window" in p
    assert "CartesianProduct" not in p


def test_blocked_hamming_join_is_equi_join(spark):
    """phash/simhash candidates must come from a hash equi-join on
    (block idx, block value) — never a cartesian/bnl pairing."""
    import numpy as np
    from rasters_rs_spark.operators import dedup as D
    pdf = pd.DataFrame({"image_id": [f"i{k}" for k in range(50)],
                        "phash": np.arange(50, dtype=np.int64) * 7919})
    q = D.phash_neardup(spark.createDataFrame(pdf), max_hamming=6)
    p = plan(q)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


@pytest.fixture()
def no_auto_broadcast(spark):
    """Disable size-based auto-broadcast so the audits below see the
    plan the operator CHOSE, not what Catalyst infers from the tiny
    test tables (at sf0.01 everything fits under the threshold)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _embs_and_queries(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .selectExpr("cast(vec_id as bigint) vec_id",
                    "transform(embedding, v -> cast(v as double)) embedding")
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return emb, queries


def test_lsh_topk_adaptive_query_side(spark, sf_dir, no_auto_broadcast):
    """The ANN bucket join must broadcast the probe table when the
    query side is small, but choose a shuffle join (sort-merge or
    shuffled-hash) when the caller feeds a large query table — an
    unconditional broadcast OOMs there (round-2 perf weakness #1)."""
    from rasters_rs_spark.operators import similarity as S
    emb, queries = _embs_and_queries(spark, sf_dir)

    small = S.lsh_topk_det(queries, emb, k=3, dim=64, n_planes=8,
                           broadcast_queries=True)
    assert "BroadcastHashJoin" in plan(small)

    big = S.lsh_topk_det(queries, emb, k=3, dim=64, n_planes=8,
                         broadcast_queries=False)
    pb = plan(big)
    assert "SortMergeJoin" in pb or "ShuffledHashJoin" in pb

    # count-based auto decision: threshold below the query count must
    # pick the shuffle plan; above it, the broadcast plan
    auto_big = S.lsh_topk_det(queries, emb, k=3, dim=64, n_planes=8,
                              max_broadcast_queries=2)
    p = plan(auto_big)
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    auto_small = S.lsh_topk_det(queries, emb, k=3, dim=64, n_planes=8,
                                max_broadcast_queries=1000)
    assert "BroadcastHashJoin" in plan(auto_small)

    # the plan choice must not change the result
    rows_b = sorted(map(tuple, small.collect()))
    rows_s = sorted(map(tuple, big.collect()))
    assert rows_b == rows_s and len(rows_b) > 0


def test_ivf_topk_adaptive_query_side(spark, sf_dir, no_auto_broadcast):
    from rasters_rs_spark.operators import similarity as S
    emb, queries = _embs_and_queries(spark, sf_dir)
    big = S.ivf_topk_det(queries, emb, k=3, dim=64, broadcast_queries=False)
    pb = plan(big)
    assert "SortMergeJoin" in pb or "ShuffledHashJoin" in pb
    small = S.ivf_topk_det(queries, emb, k=3, dim=64, broadcast_queries=True)
    assert "BroadcastHashJoin" in plan(small)
    assert sorted(map(tuple, big.collect())) == \
        sorted(map(tuple, small.collect()))


def test_mosaic_single_shuffle_keyed_by_strip_and_tile(spark):
    """The mosaic merge must be ONE shuffle keyed by (sy, sx) — the
    bounded 2-D merge; no cartesian products, no extra exchanges."""
    import numpy as np
    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators.resample import mosaic
    rows = [{"image_id": f"m{i}",
             "bytes": codecs.encode_raw(np.full((4, 4), float(i))),
             "w": 4, "h": 4, "fmt": "raw",
             "gt": [i * 2.0, 1.0, 0.0, 4.0, 0.0, -1.0],
             "crs": "IDENTITY", "no_val": float("nan")} for i in range(3)]
    tiles = mosaic(spark.createDataFrame(pd.DataFrame(rows)),
                   [0.0, 1.0, 0.0, 4.0, 0.0, -1.0], 10, 4,
                   strip_height=2, tile_width=4, assemble=False)
    p = plan(tiles)
    assert "CartesianProduct" not in p and "Join" not in p
    assert p.count("Exchange hashpartitioning(sy") == 1
    assert "FlatMapGroupsInPandas" in p


def test_salted_bucket_join_plan_shape(spark, docs, no_auto_broadcast):
    """The hot-bucket guard's plan: the over-cap bucket keys attach via
    a BROADCAST left-outer join (they are a tiny aggregate output), the
    main candidate join stays a shuffle equi-join on
    (band, band_key, salt), and no cartesian product appears."""
    from rasters_rs_spark.operators import dedup as D
    bands = D.minhash_bands(docs.where(F.col("doc_id") < 100))
    pairs = D.lsh_candidate_pairs(bands, hot_bucket_rows=5, hot_salt=4)
    p = plan(pairs)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p      # hot-key attach (both sides)
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p  # main join
