"""Codec tests: raw round-trip, q16 reference semantics, PSNR invariant."""

import numpy as np
import pyarrow as pa

from rasters_rs_spark.functions import codecs


def test_raw_roundtrip():
    rng = np.random.default_rng(1)
    block = rng.normal(size=(17, 9))
    out = codecs.decode_raw(codecs.encode_raw(block), 17, 9)
    assert np.array_equal(out, block)


def test_q16_reference_quantization_rule():
    # dem.rs:258-290: disc floor, stored disc+1 when disc<bins, 0 for NaN
    block = np.array([[0.0, 0.5, 1.0], [np.nan, -1.0, 2.0]])
    stored, err = codecs.q16_quantize(block, 0.0, 1.0)
    bins = codecs.Q16_BINS
    assert stored[0, 0] == 1            # disc 0 -> stored 1
    assert stored[0, 2] == bins         # val==max -> disc==bins, un-incremented
    assert stored[1, 0] == 0            # NaN -> 0
    assert stored[1, 1] == 1            # clamped to min -> disc 0 -> 1
    assert stored[1, 2] == bins         # clamped to max
    assert err <= 1.0 / bins + 1e-12


def test_q16_psnr_at_least_40db():
    rng = np.random.default_rng(2)
    block = rng.normal(size=(64, 64))
    data = codecs.encode_q16(block)
    out = codecs.decode_q16(data, 64, 64)
    assert codecs.psnr(block, out) >= 40.0
    # and NaNs survive the codec
    block[3, 5] = np.nan
    out = codecs.decode_q16(codecs.encode_q16(block), 64, 64)
    assert np.isnan(out[3, 5])


def test_dispatch():
    block = np.ones((4, 4))
    for fmt in ("raw", "q16"):
        data = codecs.encode_block(block, fmt)
        out = codecs.decode_block(data, 4, 4, fmt)
        assert np.allclose(out, block, atol=1e-3)


def test_decode_block_takes_any_buffer():
    """An Arrow buffer or a memoryview of a payload decodes like the
    bytes (the tile generators pass Arrow buffers without a copy)."""
    block = np.random.default_rng(3).normal(size=(5, 7))
    block[1, 2] = np.nan
    for fmt in ("raw", "q16", "i32"):
        data = codecs.encode_block(block if fmt != "i32" else
                                   np.nan_to_num(block * 100), fmt)
        want = codecs.decode_block(data, 5, 7, fmt)
        for buf in (pa.py_buffer(data), memoryview(data)):
            got = codecs.decode_block(buf, 5, 7, fmt)
            assert got.dtype == want.dtype
            assert np.array_equal(got, want, equal_nan=True), fmt


def test_cbor_rfc8949_vectors_and_roundtrip():
    """CBOR sink/source (S10, utils.rs:117-128): encodings match the
    RFC 8949 appendix-A test vectors; nested structures round-trip."""
    from rasters_rs_spark.functions import cbor
    vectors = {
        0: "00", 23: "17", 24: "1818", 1000: "1903e8",
        -1: "20", -1000: "3903e7",
        1.1: "fb3ff199999999999a",
        "a": "6161", "IETF": "6449455446",
    }
    for v, hexs in vectors.items():
        assert cbor.dumps(v).hex() == hexs, v
    assert cbor.dumps([1, 2, 3]).hex() == "83010203"
    assert cbor.dumps({"a": 1, "b": [2, 3]}).hex() == "a26161016162820203"
    assert cbor.dumps(b"\x01\x02").hex() == "420102"
    for obj in (0, -99, 2 ** 40, [float("inf"), -0.5],
                {"z": {"y": {"x": [1.5, None, True, b"ab"]}}}):
        assert cbor.loads(cbor.dumps(obj)) == obj
    # serde_cbor may shorten round halves to float16 on the wire
    assert cbor.loads(bytes.fromhex("f93c00")) == 1.0
    assert cbor.loads(bytes.fromhex("f90001")) == 2.0 ** -24
