"""C fast path vs pure-numpy path: bit-exact equality.

Both execute the same per-element IEEE operation sequence (C compiled with
-fno-fast-math -ffp-contract=off), so results must be IDENTICAL, not merely
close.  If gcc were unavailable the C path silently disables and these
tests assert the fallback works.
"""

from __future__ import annotations

import importlib

import numpy as np
import pytest

import modape_spark.ckernel as ck
import modape_spark.kernels as K
from modape_spark.constants import (
    NODATA,
    SRANGE_HIGH_CORR,
    SRANGE_LOW_CORR,
    SRANGE_NAN_CORR,
)
from modape_spark.fixtures import gen_tokens_block


@pytest.fixture(scope="module")
def block():
    Y = gen_tokens_block(np.arange(64, dtype=np.int64), 120).astype(np.float64)
    W = K.weights_from_nodata(Y, NODATA)
    return Y, W


def _numpy_only(fn, *args, **kw):
    """Run fn with the C library disabled."""
    saved_lib, saved_tried = ck._lib, ck._tried
    ck._lib, ck._tried = None, True
    try:
        return fn(*args, **kw)
    finally:
        ck._lib, ck._tried = saved_lib, saved_tried


def test_clib_compiles():
    assert ck.get_lib() is not None, "gcc present but C kernel failed to build"


def test_ws2d_c_equals_numpy_bitexact(block):
    Y, W = block
    lam = np.linspace(0.1, 1000, Y.shape[0])
    zc = K.ws2d_batch(Y, lam, W)
    zn = _numpy_only(K.ws2d_batch, Y, lam, W)
    assert zc.tobytes() == zn.tobytes()


def test_ws2dp_c_equals_numpy_bitexact(block):
    Y, W = block
    zc = K.ws2dp_batch(Y, 10.0, W, 0.90)
    zn = _numpy_only(K.ws2dp_batch, Y, 10.0, W, 0.90)
    assert zc.tobytes() == zn.tobytes()


def test_ws2doptvp_c_equals_numpy_bitexact(block):
    Y, W = block
    zc, lc = K.ws2doptvp_batch(Y, W, SRANGE_HIGH_CORR, 0.90)
    zn, ln = _numpy_only(K.ws2doptvp_batch, Y, W, SRANGE_HIGH_CORR, 0.90)
    assert zc.tobytes() == zn.tobytes()
    assert lc.tobytes() == ln.tobytes()


def test_ws2doptv_c_equals_numpy_bitexact(block):
    Y, W = block
    zc, lc = K.ws2doptv_batch(Y, W, SRANGE_HIGH_CORR)
    zn, ln = _numpy_only(K.ws2doptv_batch, Y, W, SRANGE_HIGH_CORR)
    assert zc.tobytes() == zn.tobytes()
    assert lc.tobytes() == ln.tobytes()


def test_rollup_c_equals_numpy(block):
    from modape_spark.rollup import SmoothConfig, process_length_group

    Y, _ = block
    cfg = SmoothConfig(soptimize=True, p=0.9, tempint=(10, 5))
    rc = K and process_length_group(Y, 120, cfg)
    rn = _numpy_only(process_length_group, Y, 120, cfg)
    assert np.array_equal(rc.smoothed, rn.smoothed)
    assert np.array_equal(rc.interp[10], rn.interp[10])
    assert np.array_equal(rc.interp[5], rn.interp[5])
    assert rc.sopt_log10.tobytes() == rn.sopt_log10.tobytes()


def test_blocked_solver_bitexact_vs_scalar_rows():
    """The row-interleaved (SIMD-lane) C forms must reproduce the scalar
    C row loop BIT-FOR-BIT across lane remainders (R % 8), short series,
    and convergence-skewed blocks (per-lane early exit)."""
    lib = ck.get_lib()
    if lib is None:
        pytest.skip("C kernel unavailable")
    import ctypes

    rng = np.random.default_rng(20260821)
    for R, n in [(1, 16), (7, 31), (8, 742), (9, 742), (64, 120),
                 (128, 16), (33, 5936 // 8)]:
        Y = np.rint(rng.uniform(-2000, 10000, (R, n)))
        Y[rng.uniform(size=(R, n)) < 0.3] = float(NODATA)
        Y = np.ascontiguousarray(Y)
        W = K.weights_from_nodata(Y, NODATA)
        lam = np.ascontiguousarray(10.0 ** rng.uniform(-2, 4, R))
        scratch = np.empty(4 * n)
        Zs = np.empty_like(Y)
        Zb = np.empty_like(Y)
        lib.ws2d_rows(ck._dp(Y), ck._dp(lam), ck._dp(W), ck._dp(Zs),
                      ck._dp(scratch), n, R)
        assert lib.ws2d_rows_blk(ck._dp(Y), ck._dp(lam), ck._dp(W),
                                 ck._dp(Zb), n, R) == 0
        assert Zs.tobytes() == Zb.tobytes(), f"ws2d blk mismatch R={R} n={n}"

        zs = np.zeros_like(Y); wws = np.empty_like(Y)
        zb = np.zeros_like(Y); wwb = np.empty_like(Y)
        lib.envelope_rows(ck._dp(Y), ck._dp(lam), ck._dp(W),
                          ctypes.c_double(0.9), ck._dp(zs), ck._dp(wws),
                          ck._dp(scratch), n, R)
        assert lib.envelope_rows_blk(ck._dp(Y), ck._dp(lam), ck._dp(W),
                                     ctypes.c_double(0.9), ck._dp(zb),
                                     ck._dp(wwb), n, R) == 0
        assert zs.tobytes() == zb.tobytes(), f"env z mismatch R={R} n={n}"
        assert wws.tobytes() == wwb.tobytes(), f"env ww mismatch R={R} n={n}"


def _mixed_block(n: int, seed: int):
    """13 rows (R % 8 != 0) whose lag-1 correlations route them to all
    three adaptive grids: seasonal rows (> 0.5), white noise (<= 0.5) and
    rows with nodata at every other point (no valid pair: NaN)."""
    rng = np.random.default_rng(seed)
    hi = gen_tokens_block(np.arange(5, dtype=np.int64) + seed, n)
    lo = np.rint(rng.uniform(-2000, 10000, (4, n)))
    nan = np.rint(rng.uniform(-2000, 10000, (4, n)))
    nan[:, ::2] = NODATA
    Y = np.ascontiguousarray(np.vstack([hi, lo, nan]), dtype=np.float64)
    return Y, K.weights_from_nodata(Y, NODATA)


def _merged_grid(Y):
    """Per-row grids merged the way rollup.smooth_block merges them:
    shorter grids repeat their last value, ``valid`` masks the pad."""
    lag = K.lag1corr_batch(Y, NODATA)
    grids = [SRANGE_HIGH_CORR if v > 0.5 else
             SRANGE_LOW_CORR if v <= 0.5 else SRANGE_NAN_CORR for v in lag]
    nl = max(SRANGE_HIGH_CORR.size, SRANGE_LOW_CORR.size,
             SRANGE_NAN_CORR.size)
    llas = np.array([np.concatenate([g, np.full(nl - g.size, g[-1])])
                     for g in grids])
    valid = np.array([g.size for g in grids], dtype=np.int64)
    return llas, valid, lag


@pytest.mark.parametrize("n", [16, 31, 120, 742, 742 * 8])
def test_vcurve_sweep_c_equals_numpy_merged_grids(n):
    """The one-call C sweep (every lambda, envelope, fit and penalty sums)
    reproduces the per-lambda numpy path bit for bit, with hi, lo and
    NaN-lag rows sharing one merged grid so the ``valid`` mask matters."""
    if ck.get_lib() is None:
        pytest.skip("C kernel unavailable")
    Y, W = _mixed_block(n, seed=n)
    llas, valid, lag = _merged_grid(Y)
    assert (lag > 0.5).any() and (lag <= 0.5).any() and np.isnan(lag).any()
    assert len(set(valid.tolist())) > 1
    for fn, args in ((K.ws2doptvp_batch, (Y, W, llas, 0.90, valid)),
                     (K.ws2doptv_batch, (Y, W, llas, valid))):
        zc, lc = fn(*args)
        zn, ln = _numpy_only(fn, *args)
        assert zc.tobytes() == zn.tobytes(), (fn.__name__, n)
        assert lc.tobytes() == ln.tobytes(), (fn.__name__, n)


def test_row_sums_blk_equals_np_sum():
    """The sweep's summation helper is np.sum(axis=1) bit for bit: every
    n across the 8-accumulator and 128-element leaf boundaries, plus rows
    longer than numpy's reduction buffer."""
    lib = ck.get_lib()
    if lib is None:
        pytest.skip("C kernel unavailable")
    rng = np.random.default_rng(20261017)
    R = 11
    for n in list(range(1, 1101)) + [8192, 8193, 20000]:
        X = rng.standard_normal((R, n)) * 10.0 ** rng.uniform(-8, 8, (R, n))
        X[0] = -0.0  # the reduction starts from +0.0
        out = np.empty(R)
        assert lib.row_sums_blk(ck._dp(X), n, R, np.getbufsize(),
                                ck._dp(out)) == 0
        assert out.tobytes() == np.sum(X, axis=1).tobytes(), n


def _envelope_iterations(y, w, lam, p):
    """Iterations envelope_rows runs on one row (10 = the cap)."""
    z = np.zeros_like(y)
    for it in range(10):
        ww = w * np.where(y > z, p, 1.0 - p)
        znew = _numpy_only(K.ws2d_batch, y[None], lam, ww[None])[0]
        if np.abs(znew - z).sum() == 0.0:
            return it + 1
        z = znew
    return 10


@pytest.mark.parametrize("n", [16, 31, 120])
def test_envelope_blk_nonfinite_and_capped_lanes(n):
    """Lanes that never stop — a NaN or an overflowing series, and a
    straight line whose ulp-level flips of y > z outlast the 10-iteration
    cap — keep envelope_rows' results next to lanes that converge, so
    the blocked loop only skips solves that cannot change anything."""
    lib = ck.get_lib()
    if lib is None:
        pytest.skip("C kernel unavailable")
    import ctypes

    rng = np.random.default_rng(n)
    Y = np.rint(rng.uniform(-2000, 10000, (11, n)))
    Y[rng.uniform(size=Y.shape) < 0.3] = NODATA
    Y[1] = 100.0 - 7.5 * np.arange(n)       # capped, finite
    Y[4, n // 2] = np.nan                    # non-finite
    Y[6, 3] = np.inf                         # non-finite
    Y = np.ascontiguousarray(Y)
    W = K.weights_from_nodata(Y, NODATA)
    lam = np.ascontiguousarray(10.0 ** rng.uniform(-2, 4, Y.shape[0]))
    lam[1] = 1000.0
    assert _envelope_iterations(Y[1], W[1], lam[1], 0.9) == 10
    zs = np.zeros_like(Y); wws = np.empty_like(Y)
    zb = np.zeros_like(Y); wwb = np.empty_like(Y)
    lib.envelope_rows(ck._dp(Y), ck._dp(lam), ck._dp(W), ctypes.c_double(0.9),
                      ck._dp(zs), ck._dp(wws), ck._dp(np.empty(4 * n)), n,
                      Y.shape[0])
    assert lib.envelope_rows_blk(ck._dp(Y), ck._dp(lam), ck._dp(W),
                                 ctypes.c_double(0.9), ck._dp(zb),
                                 ck._dp(wwb), n, Y.shape[0]) == 0
    assert not np.isfinite(zs[4]).any() and not np.isfinite(zs[6]).all()
    assert zs.tobytes() == zb.tobytes()
    assert wws.tobytes() == wwb.tobytes()
