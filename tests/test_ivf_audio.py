"""Audio/video feature plumbing tests and the cosine_topk query-side
guard (IVF recall lives in test_similarity_text.py)."""

import numpy as np
import pandas as pd
import pytest

from rasters_rs_spark.operators import multimodal as MM


def test_audio_features_real_and_stub(spark):
    sr = 16000
    t = np.arange(sr) / sr
    sine = np.sin(2 * np.pi * 440 * t)  # 440 Hz, 1 s
    pdf = pd.DataFrame([
        {"clip_id": "a0", "bytes": sine.astype("<f8").tobytes(),
         "n_samples": sr, "sample_rate": sr, "fmt": "pcm_f64"},
        {"clip_id": "a1", "bytes": b"\x09\x08\x07\x06\x05\x04\x03\x02",
         "n_samples": 4096, "sample_rate": sr, "fmt": "opus"},
    ])
    df = spark.createDataFrame(pdf)
    feats = {r["clip_id"]: r for r in MM.audio_features(df, allow_fake=True).collect()}
    a0 = feats["a0"]
    assert a0["rms"] == pytest.approx(1 / np.sqrt(2), rel=1e-3)  # sine RMS
    assert a0["peak"] == pytest.approx(1.0, rel=1e-6)
    # 440 Hz -> 880 zero crossings/s -> zcr ~= 880/16000
    assert a0["zcr"] == pytest.approx(880 / sr, rel=0.05)
    assert feats["a1"]["n_frames"] == 4
    with pytest.raises(Exception):
        MM.audio_features(df, allow_fake=False).collect()


def test_sample_frames_raw_roundtrip_and_stub(spark):
    """Frame sampling: the rawv path extracts exactly every-n-th frame
    bit-for-bit; compressed formats raise without allow_fake and
    produce a deterministic fake with it (the honest codec seam with
    REAL Spark plumbing around it)."""
    import numpy as np
    import pandas as pd
    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import multimodal as MM

    rng = np.random.default_rng(13)
    stacks = {f"v{i}": rng.normal(size=(7, 4, 5)) for i in range(2)}
    rows = [{"video_id": vid, "bytes": MM.encode_video_raw(st),
             "n_frames": 7, "w": 5, "h": 4, "fmt": "rawv"}
            for vid, st in stacks.items()]
    df = spark.createDataFrame(pd.DataFrame(rows))

    out = MM.sample_frames(df, every_n=3).collect()
    assert {(r["video_id"], r["frame_idx"]) for r in out} == \
        {(v, i) for v in stacks for i in (0, 3, 6)}
    for r in out:
        got = codecs.decode_raw(bytes(r["bytes"]), 4, 5)
        assert np.array_equal(got, stacks[r["video_id"]][r["frame_idx"]])

    # stubbed codec: raises without allow_fake, deterministic with it
    enc = [{"video_id": "c0", "bytes": b"\x01" * 64, "n_frames": 4,
            "w": 3, "h": 2, "fmt": "h264"}]
    cdf = spark.createDataFrame(pd.DataFrame(enc))
    import pytest as _pt
    with _pt.raises(Exception, match="video codec"):
        MM.sample_frames(cdf, every_n=2).collect()
    a = MM.sample_frames(cdf, every_n=2, allow_fake=True).collect()
    b = MM.sample_frames(cdf, every_n=2, allow_fake=True).collect()
    key = lambda r: (r["video_id"], r["frame_idx"])
    assert sorted(map(key, a)) == sorted(map(key, b)) == \
        [("c0", 0), ("c0", 2)]
    assert {bytes(r["bytes"]) for r in a} == {bytes(r["bytes"]) for r in b}


def test_cosine_topk_refuses_huge_query_side(spark):
    import pandas as pd
    import numpy as np
    import pytest
    from rasters_rs_spark.operators import similarity as S
    rng = np.random.default_rng(6)
    df = spark.createDataFrame(pd.DataFrame({
        "q_id": range(20),
        "q_vec": [rng.normal(size=4).tolist() for _ in range(20)]}))
    corpus = df.selectExpr("q_id as vec_id", "q_vec as embedding")
    with pytest.raises(ValueError, match="max_queries"):
        S.cosine_topk(df, corpus, k=3, max_queries=5)
