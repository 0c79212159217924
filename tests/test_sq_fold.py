"""The quantized-search distance kernel (`similarity._sq_fold`): every
probe-based search and its DuckDB twin add squared components as an
ascending left fold, so the kernel must match a scalar Python fold
bit for bit, and must not be numpy's pairwise ``np.sum``."""
from __future__ import annotations

import math

import numpy as np

from var_elasticnet_bigdata_spark.operators.similarity import (
    _sq_fold,
    _unit_rows,
)

# >= 8 components and not a multiple of 8: numpy's pairwise sum
# unrolls 8 partial sums, so this width exercises both its blocks
# and its remainder
C = 13


def _scalar_fold(a, b) -> float:
    t = None
    for x, y in zip(a, b):
        diff = float(x) - float(y)
        dd = diff * diff
        t = dd if t is None else t + dd
    return t


def _inputs():
    rng = np.random.default_rng(20261019)
    return rng.normal(size=(20, C)), rng.normal(size=(30, C))


def test_sq_fold_is_the_scalar_left_fold_bit_for_bit():
    A, B = _inputs()
    got = _sq_fold(A, B)
    want = np.array([[_scalar_fold(a, b) for b in B] for a in A])
    assert got.shape == (len(A), len(B))
    assert (got.view(np.int64) == want.view(np.int64)).all()


def test_np_sum_is_not_the_fold():
    """Contrast: the pairwise ``np.sum`` of the same squares differs
    from the fold in the last ulp somewhere on this input, so an edit
    that swaps the kernel's loop for ``np.sum`` fails the test above."""
    A, B = _inputs()
    pairwise = np.sum((A[:, None, :] - B[None, :, :]) ** 2, axis=-1)
    want = np.array([[_scalar_fold(a, b) for b in B] for a in A])
    assert (pairwise.view(np.int64) != want.view(np.int64)).any()


def test_unit_rows_is_the_sequential_norm():
    A, _ = _inputs()
    A[3] = 0.0  # a zero row stays zero
    got = _unit_rows(A)
    for row, g in zip(A, got):
        s = 0.0
        for x in row:
            s = s + float(x) * float(x)
        n = math.sqrt(s) if s != 0 else 1.0
        want = np.array([float(x) / n for x in row])
        assert (g.view(np.int64) == want.view(np.int64)).all()
