"""phash hamming near-dup + caption duplicate groups."""

import numpy as np
import pandas as pd

from rasters_rs_spark.operators import dedup as D
from rasters_rs_spark.sources import synth


def test_phash_neardup_planted(spark):
    pdf = synth.image_table(20, seed=60, h=32, w=32, fmt_cycle=("raw",))
    # plant an exact phash duplicate and a 2-bit-flip near dup
    pdf.loc[len(pdf)] = dict(pdf.iloc[0])
    pdf.loc[len(pdf) - 1, "image_id"] = "img_dup00000"
    near = dict(pdf.iloc[1])
    near["image_id"] = "img_near0000"
    near["phash"] = np.int64(int(near["phash"]) ^ 0b101)
    pdf.loc[len(pdf)] = near
    df = spark.createDataFrame(pdf)

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.phash_neardup(df, max_hamming=3).collect()}
    assert pairs[("img_00000000", "img_dup00000")] == 0
    assert pairs[("img_00000001", "img_near0000")] == 2
    # verify every reported pair against python popcount
    ph = {r.image_id: int(r.phash) for r in pdf.itertuples(index=False)}
    for (a, b), h in pairs.items():
        assert bin((ph[a] ^ ph[b]) & ((1 << 64) - 1)).count("1") == h


def test_phash_recall_beyond_fixed_blocks(spark):
    """Recall is structural for hamming <= max_hamming: a planted pair
    at hamming 8 whose flips hit ALL four 16-bit quarters (round 1's
    fixed blocks=4 pigeonhole missed it) must be found when
    max_hamming=12 derives 13 blocks."""
    pdf = pd.DataFrame({
        "image_id": ["a", "b", "c"],
        "phash": np.array([0x1111222233334444,
                           0x1111222233334444 ^ 0x0101010101010101,  # hamming 8
                           0x7FFFFFFFFFFFFFFF], dtype=np.int64),
    })
    df = spark.createDataFrame(pdf)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.phash_neardup(df, max_hamming=12).collect()}
    assert pairs == {("a", "b"): 8}
    # explicit blocks that cannot guarantee recall are refused
    import pytest
    with pytest.raises(ValueError, match="max_hamming < blocks"):
        D.phash_neardup(df, max_hamming=12, blocks=4)


def test_caption_dup_groups(spark):
    pdf = synth.image_table(10, seed=61, h=16, w=16, fmt_cycle=("raw",))
    pdf.loc[len(pdf)] = dict(pdf.iloc[3])
    pdf.loc[len(pdf) - 1, "image_id"] = "img_capdup00"
    df = spark.createDataFrame(pdf)
    groups = D.duplicate_groups(df, ["caption"], "image_id").collect()
    assert len(groups) == 1
    assert groups[0]["keeper"] == pdf.iloc[3]["image_id"]
    assert groups[0]["n_dups"] == 2
