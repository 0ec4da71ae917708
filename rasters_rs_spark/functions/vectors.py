"""Embedding columns as matrices, and the strict-fold kernels over them.

Every embedding operator must reproduce its SQL mirror bit for bit: the
Catalyst ``aggregate(zip_with(...), 0.0, ...)`` folds of
``similarity.cosine_expr`` and DuckDB's ``list_reduce``. So each sum here
is a left fold over the last (dimension) axis that starts from 0.0 and
adds in index order. A BLAS matmul or numpy's pairwise ``sum`` would
reassociate the adds and move the last bits.

The kernels broadcast the leading axes, so one function covers every
shape the operators need:

- row-aligned pairs: ``(n, d)`` with ``(n, d)`` gives ``(n,)``;
- rows against planes or centroids: ``a[:, None]`` with ``C[None]``
  gives ``(n, k)``;
- all pairs: ``A[:, None]`` with ``B[None]``; ``cosine_tiles`` walks
  that grid in ``TILE`` x ``TILE`` blocks so memory stays bounded.
"""

from __future__ import annotations

import numpy as np

#: Side of an all-pairs block: every temporary ``cosine_tiles`` makes is
#: at most TILE x TILE float64 (32 MB).
TILE = 2048


def lengths(col) -> np.ndarray:
    """int64 length of each row's vector, -1 for a null row. ``col`` is a
    pandas column of Arrow lists or a list of driver ``Row`` values."""
    return np.fromiter((-1 if v is None else len(v) for v in col),
                       dtype=np.int64, count=len(col))


def matrix(col, dtype=np.float64) -> np.ndarray:
    """The ``(n, d)`` matrix of a column of equal-length vectors (see
    ``lengths`` for the inputs taken). Raises ValueError on a null or
    ragged row; an empty column gives a ``(0, 0)`` matrix."""
    n = len(col)
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    lens = lengths(col)
    if lens.min() < 0 or lens.max() != lens.min():
        raise ValueError("vectors.matrix: null or ragged row")
    # one flat copy instead of a per-row stack (3x faster on 4096 x 64);
    # object input (a null element in a driver list) casts None to NaN,
    # as np.asarray(row, dtype=float) does
    flat = np.concatenate(list(col))
    return flat.astype(dtype, copy=False).reshape(n, int(lens[0]))


def _operands(a, b):
    a, b = np.asarray(a), np.asarray(b)
    if a.shape[-1] != b.shape[-1]:
        raise ValueError(f"vectors: dimension mismatch {a.shape[-1]} "
                         f"vs {b.shape[-1]}")
    return a, b, np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))


def dot(a, b) -> np.ndarray:
    """sum(a[..., i] * b[..., i]) as a left fold from 0.0."""
    a, b, acc = _operands(a, b)
    for i in range(a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc


def sqdist(a, b) -> np.ndarray:
    """sum((a[..., i] - b[..., i]) ** 2) as a left fold from 0.0."""
    a, b, acc = _operands(a, b)
    for i in range(a.shape[-1]):
        diff = a[..., i] - b[..., i]
        acc = acc + diff * diff
    return acc


def cosine(a, b) -> tuple[np.ndarray, np.ndarray]:
    """(cos, ok): ``dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))``,
    where ``ok`` is ``denom != 0.0`` and ``cos`` is NaN where not ok.

    ok marks the pairs cosine_expr gives a value for; the rest are its
    NULLs. A NaN denominator counts as ok (NaN != 0.0 in numpy and in
    Spark), so a NaN element yields a NaN cosine, not a NULL."""
    num = dot(a, b)
    denom = np.sqrt(dot(a, a)) * np.sqrt(dot(b, b))
    ok = denom != 0.0
    cos = np.divide(num, denom, out=np.full(num.shape, np.nan), where=ok)
    return cos, ok


def cosine_tiles(A: np.ndarray, B: np.ndarray):
    """All-pairs ``cosine`` of A's rows against B's rows, one block at a
    time: yields ``(i, j, cos, ok)`` where ``cos[r, c]`` pairs
    ``A[i + r]`` with ``B[j + c]`` and each block is at most TILE x TILE.
    Each pair's fold is the one ``cosine`` runs on that pair alone."""
    for i in range(0, len(A), TILE):
        for j in range(0, len(B), TILE):
            cos, ok = cosine(A[i:i + TILE, None], B[None, j:j + TILE])
            yield i, j, cos, ok
