"""functions/vectors: the strict-fold kernels equal a pure-Python left
fold bit for bit in every shape the operators use, the list-to-matrix
helper rejects null and ragged rows, and no other module keeps a copy."""

import math
import re
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from hypothesis.extra.numpy import arrays
from pyspark.sql import Row

from rasters_rs_spark.functions import vectors
from rasters_rs_spark.operators import dedup as D


def _py_dot(x, y):
    acc = 0.0
    for a, b in zip(x, y):
        acc = acc + a * b
    return acc


def _py_sqdist(x, y):
    acc = 0.0
    for a, b in zip(x, y):
        acc = acc + (a - b) * (a - b)
    return acc


def _py_cosine(x, y):
    denom = math.sqrt(_py_dot(x, x)) * math.sqrt(_py_dot(y, y))
    if denom != 0.0:
        return _py_dot(x, y) / denom, True
    return math.nan, False


def _same_bits(got, want):
    """Equal as IEEE doubles, -0.0 told from 0.0; any NaN equals NaN."""
    got, want = np.asarray(got, np.float64), np.asarray(want, np.float64)
    assert got.shape == want.shape
    nan = np.isnan(want)
    assert (np.isnan(got) == nan).all()
    assert (got[~nan].view(np.int64) == want[~nan].view(np.int64)).all()


_ELEM = st.one_of(st.just(0.0), st.just(math.nan),
                  st.floats(-1e3, 1e3, allow_nan=False))


@st.composite
def _pair_sets(draw):
    d = draw(st.integers(1, 9))
    a = draw(arrays(np.float64, (draw(st.integers(1, 6)), d), elements=_ELEM))
    b = draw(arrays(np.float64, (draw(st.integers(1, 6)), d), elements=_ELEM))
    a[0] = 0.0                      # a zero vector in every draw
    return a, b


def _reference(fn, a, b):
    """(len(a), len(b)) table of fn over all row pairs; fn -> float."""
    return np.array([[fn(x.tolist(), y.tolist()) for y in b] for x in a],
                    dtype=np.float64)


@settings(max_examples=150, deadline=None)
@given(_pair_sets(), st.integers(1, 4))
def test_folds_match_python_left_fold(ab, tile):
    a, b = ab
    for fn, py in ((vectors.dot, _py_dot), (vectors.sqdist, _py_sqdist)):
        table = _reference(py, a, b)
        # all pairs / rows against many (planes, centroids)
        _same_bits(fn(a[:, None], b[None]), table)
        # one row against many
        _same_bits(fn(a[0], b), table[0])
        # row-aligned pairs
        m = min(len(a), len(b))
        _same_bits(fn(a[:m], b[:m]), np.diag(table)[:m])

    want = _reference(lambda x, y: _py_cosine(x, y)[0], a, b)
    want_ok = _reference(lambda x, y: _py_cosine(x, y)[1], a, b) == 1.0
    cos, ok = vectors.cosine(a[:, None], b[None])
    _same_bits(cos, want)
    assert (ok == want_ok).all()
    m = min(len(a), len(b))
    cos, ok = vectors.cosine(a[:m], b[:m])
    _same_bits(cos, np.diag(want)[:m])
    assert (ok == np.diag(want_ok)[:m]).all()

    # the tiled walk covers every pair once with the same bits
    old, vectors.TILE = vectors.TILE, tile
    try:
        got = np.full(want.shape, -1.0)
        got_ok = np.zeros(want.shape, dtype=bool)
        for i, j, c, k in vectors.cosine_tiles(a, b):
            assert c.shape[0] <= tile and c.shape[1] <= tile
            got[i:i + c.shape[0], j:j + c.shape[1]] = c
            got_ok[i:i + c.shape[0], j:j + c.shape[1]] = k
    finally:
        vectors.TILE = old
    _same_bits(got, want)
    assert (got_ok == want_ok).all()


def test_fold_rejects_dimension_mismatch():
    with pytest.raises(ValueError, match="dimension"):
        vectors.dot(np.ones((2, 3)), np.ones((2, 4)))


def _arrow_column(rows, typ=pa.float64()):
    return pa.table({"v": pa.array(rows, type=pa.list_(typ))}) \
        .to_pandas()["v"]


def test_lengths_and_matrix():
    col = _arrow_column([[1.0, 2.0], [3.0], None, []])
    assert vectors.lengths(col).tolist() == [2, 1, -1, 0]
    assert vectors.lengths(col).dtype == np.int64

    m = vectors.matrix(_arrow_column([[1.0, 2.0], [3.0, None]]))
    assert m.shape == (2, 2) and m.dtype == np.float64
    assert m[0].tolist() == [1.0, 2.0] and np.isnan(m[1, 1])

    # float32 Arrow lists widen exactly, as np.asarray(row, float64) does
    f32 = _arrow_column([[0.1, 0.2], [0.3, 0.4]], pa.float32())
    np.testing.assert_array_equal(
        vectors.matrix(f32), np.asarray([np.asarray(v, np.float64)
                                         for v in f32]))

    codes = vectors.matrix(_arrow_column([[1, 2], [3, 4]], pa.int32()),
                           dtype=np.int64)
    assert codes.dtype == np.int64 and codes.tolist() == [[1, 2], [3, 4]]

    # driver Row values (python lists, a None element becomes NaN)
    rows = [Row(v=[1.0, 2.0]), Row(v=[3.0, None])]
    m = vectors.matrix([r["v"] for r in rows])
    assert m[0].tolist() == [1.0, 2.0] and np.isnan(m[1, 1])

    assert vectors.matrix(_arrow_column([[], []])).shape == (2, 0)
    assert vectors.matrix(_arrow_column([])).shape == (0, 0)
    assert vectors.lengths(_arrow_column([])).shape == (0,)

    with pytest.raises(ValueError, match="null or ragged"):
        vectors.matrix(_arrow_column([[1.0, 2.0], None]))
    with pytest.raises(ValueError, match="null or ragged"):
        vectors.matrix(_arrow_column([[1.0, 2.0], [3.0]]))


def test_semdedup_pair_kernel_tiled_equals_untiled(monkeypatch):
    """The all-pairs kernel walks TILE x TILE blocks; a 3-row tile over
    a 23 x 23 group emits the same pair set as one block."""
    rng = np.random.default_rng(7)
    n, d = 23, 8
    vecs = [rng.normal(size=d).tolist() for _ in range(n)]
    for i in range(1, n, 3):                  # near-dups across tiles
        vecs[i] = (np.asarray(vecs[i - 1])
                   + rng.normal(size=d) * 0.05).tolist()
    vecs[4] = [0.0] * d                       # zero norm -> dropped
    vecs[6] = rng.normal(size=d - 2).tolist()  # ragged -> dropped
    vecs[8] = None                            # null -> dropped
    lpdf = pd.DataFrame({"id_a": np.arange(n), "va": vecs,
                         "cs_a": rng.normal(size=n)})
    rpdf = pd.DataFrame({"id_b": np.arange(n), "vb": vecs,
                         "cs_b": rng.normal(size=n)})
    kernel = D._semdedup_pair_kernel(0.5)

    def pairs():
        return set(kernel(lpdf, rpdf).itertuples(index=False, name=None))

    whole = pairs()
    monkeypatch.setattr(vectors, "TILE", 3)
    assert pairs() == whole
    assert len(whole) >= 5
    assert not any({4, 6, 8} & {a, b} for a, b, _, _ in whole)


def test_one_fold_and_one_matrix_helper():
    """Every embedding kernel goes through functions/vectors.py: no other
    module under rasters_rs_spark/ keeps a per-row stack or a fold helper."""
    pkg = Path(__file__).resolve().parents[1] / "rasters_rs_spark"
    own = pkg / "functions" / "vectors.py"
    pattern = re.compile(r"np\.stack\(\[np\.asarray\(|def _fold_")
    hits = [f"{p.relative_to(pkg)}:{i}"
            for p in sorted(pkg.rglob("*.py")) if p != own
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if pattern.search(line)]
    assert hits == []
