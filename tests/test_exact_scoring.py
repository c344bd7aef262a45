"""The exact scoring layer of operators/similarity.py, checked without
Spark: `_int_dots` must return the exact integer dots on both sides of its
float64/int64 switch, `_cosines` must refuse a zero norm, and the chunked
scorer must give the same cosines whatever its chunk size."""

from __future__ import annotations

import numpy as np
import pytest

from compass_query_optimizer_spark.operators import similarity as sim

DIM = 64


def _exact_dots(x, m):
    """float(Python-int dot) of every row pair: exact, then rounded once."""
    return np.array(
        [[float(sum(int(a) * int(b) for a, b in zip(r, c))) for c in m] for r in x]
    )


def _operands(seed, xmax, mmax):
    """Random int64 (8×DIM, 6×DIM) matrices whose max |·| are exactly
    ``xmax`` and ``mmax``."""
    rng = np.random.RandomState(seed)
    x = rng.randint(-xmax, xmax + 1, size=(8, DIM), dtype=np.int64)
    m = rng.randint(-mmax, mmax + 1, size=(6, DIM), dtype=np.int64)
    x[0, 0], m[0, 0] = xmax, -mmax
    return x, m


@pytest.mark.parametrize(
    "xmax, mmax",
    [
        (2**26 - 1, 2**20),  # DIM·max|x|·max|m| just below 2^52: float64 BLAS
        (2**26, 2**20),  # exactly 2^52: the int64 matmul
        (2**28, 2**28),  # products past 2^53, sums still far below 2^63
    ],
)
def test_int_dots_are_exact_on_both_sides_of_the_switch(xmax, mmax):
    x, m = _operands(5, xmax, mmax)
    got = sim._int_dots(x, sim._int_rhs(m))
    assert got.dtype == np.float64
    assert np.array_equal(got, _exact_dots(x, m))


def test_float64_matmul_alone_is_inexact_far_above_the_switch():
    """The int64 branch is needed: at products past 2^53 a float64 matmul
    rounds, so the test above would catch a kernel that skipped it."""
    x, m = _operands(5, 2**28, 2**28)
    assert not np.array_equal(
        x.astype(np.float64) @ m.astype(np.float64).T, _exact_dots(x, m)
    )


def test_cosines_divide_like_the_jvm_and_refuse_zero_norms():
    dots = np.array([[3.0, -4.0], [5.0, 12.0]])
    na, nb = np.array([9, 25]), np.array([16, 169])
    want = dots / (np.sqrt(na.astype(float))[:, None] * np.sqrt(nb.astype(float))[None, :])
    assert np.array_equal(sim._cosines(dots, na, nb), want)
    with pytest.raises(ValueError, match="zero-norm"):
        sim._cosines(dots, np.array([9, 0]), nb)
    with pytest.raises(ValueError, match="zero-norm"):
        sim._cosines(dots, na, np.array([0, 169]))


def test_cosine_chunks_tile_the_full_matrix(monkeypatch):
    """A chunk of 3 rows × 7 columns must reproduce the one-shot cosine
    matrix row for row, at the offsets it reports."""
    x, m = _operands(9, 10_000, 10_000)
    n2x, n2m = (x * x).sum(axis=1), (m * m).sum(axis=1)
    whole = sim._cosines(sim._int_dots(x, sim._int_rhs(m)), n2x, n2m)
    monkeypatch.setattr(sim, "_SCORE_CELLS", 3 * len(m))
    chunks = list(sim._cosine_chunks(x, n2x, m, n2m))
    assert [lo for lo, _ in chunks] == [0, 3, 6]
    assert np.array_equal(np.vstack([c for _, c in chunks]), whole)
