"""Whittaker-Eilers smoothing kernels, batched over row blocks with numpy.

From-scratch numpy re-derivation of the reference's Cython kernels
(/root/reference/modape/_whittaker.pyx):

- ``lag1corr``   (_whittaker.pyx:22-65)   lag-1 autocorrelation, nodata-masked
- ``ws2d``       (_whittaker.pyx:67-107)  banded LDL^T solve of
                 (diag(w) + lambda * D2^T D2) z = w*y, 2nd-order differences
- ``ws2dp``      (_whittaker.pyx:162-214) asymmetric-envelope iteration
- ``ws2doptv``   (_whittaker.pyx:216-293) V-curve lambda optimization
- ``ws2doptvp``  (_whittaker.pyx:296-423) V-curve + asymmetric envelope

Design: the reference runs a scalar C loop per series.  At cluster scale we
instead vectorize ACROSS rows: every function here takes a 2-D block
``Y (R, n)`` of R series sharing one length n, and runs the identical
element-recurrence sequentially over n while operating on all R rows at once
with numpy.  The per-element operation order matches the reference exactly
(IEEE adds/multiplies in the same sequence), so results agree with a scalar
re-implementation bit-for-bit; agreement with the reference's own
``-O3 -ffast-math`` build is at its published test tolerance
(tests/test_whittaker.py:38, decimal=5) plus exact integer equality after
``np.rint`` (smooth.py:448).

The only intentional numeric deviation: fit/penalty sums in the V-curve use
``np.sum`` (pairwise summation) instead of the reference's sequential
accumulation; differences are O(1e-15 relative) and cannot move results
beyond the contract tolerance (see tests/test_kernels.py for the
scalar-vs-batched cross-check).

No Spark imports here — this module is both the UDF body (hot path) and the
local test oracle.
"""

from __future__ import annotations

import numpy as np

from . import ckernel as _ck

__all__ = [
    "lag1corr_batch",
    "ws2d_batch",
    "ws2dp_batch",
    "ws2doptv_batch",
    "ws2doptvp_batch",
    "weights_from_nodata",
    "coverage_ok",
]


def weights_from_nodata(Y: np.ndarray, nodata: float) -> np.ndarray:
    """0/1 double weights; missing points get weight 0 (smooth.py:393-395)."""
    return (Y != nodata).astype(np.float64)


def coverage_ok(W: np.ndarray, min_frac: float = 0.2) -> np.ndarray:
    """Rows with >= min_frac valid points are smoothed (smooth.py:397-398)."""
    return W.sum(axis=1) >= (W.shape[1] * min_frac)


def lag1corr_batch(Y: np.ndarray, nodata: float) -> np.ndarray:
    """Per-row lag-1 autocorrelation with pairwise nodata masking.

    Mirrors _whittaker.pyx:22-65: pairs where either side equals nodata are
    excluded from all moments; the cross term uses raw products.  Rows with
    zero valid pairs or zero variance yield NaN (the reference's cdivision
    semantics), which callers must route to the NaN lambda range
    (smooth.py:414-415).
    """
    d1 = Y[:, :-1]
    d2 = Y[:, 1:]
    valid = (d1 != nodata) & (d2 != nodata)
    cnt = valid.sum(axis=1).astype(np.float64)
    v1 = np.where(valid, d1, 0.0)
    v2 = np.where(valid, d2, 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        mean1 = v1.sum(axis=1) / cnt
        mean2 = v2.sum(axis=1) / cnt
        var1 = np.where(valid, (d1 - mean1[:, None]) ** 2, 0.0).sum(axis=1)
        var2 = np.where(valid, (d2 - mean2[:, None]) ** 2, 0.0).sum(axis=1)
        cross = np.where(valid, d1 * d2, 0.0).sum(axis=1)
        std1 = (var1 / cnt) ** 0.5
        std2 = (var2 / cnt) ** 0.5
        cross_mean = cross / cnt
        out = (cross_mean - mean1 * mean2) / (std1 * std2)
    return out


def _as_lam(lam, R: int) -> np.ndarray:
    lam = np.asarray(lam, dtype=np.float64)
    if lam.ndim == 0:
        lam = np.full(R, float(lam))
    return lam


class Workspace:
    """Reusable solver buffers.

    The V-curve/envelope paths call the banded solve O(grid x 10) times per
    batch; allocating 4 fresh (n, R) arrays per solve makes the kernel
    allocation/page-fault bound (large numpy allocs are mmap'd and returned
    to the OS on free).  One workspace per (n, R) shape removes that churn;
    Spark Python workers each hold their own (module state is per-process).
    """

    __slots__ = ("shape", "d", "c", "e", "z")

    def __init__(self, n: int, R: int):
        self.shape = (n, R)
        self.d = np.empty((n, R))
        self.c = np.empty((n, R))
        self.e = np.empty((n, R))
        self.z = np.empty((n, R))


_WS_CACHE: dict[tuple[int, int], Workspace] = {}
_SCRATCH: dict[int, np.ndarray] = {}


def _row_scratch(n: int) -> np.ndarray:
    """4n-double scratch for the C row solver/envelope (d, c, e, znew)."""
    buf = _SCRATCH.get(n)
    if buf is None:
        if len(_SCRATCH) > 16:
            _SCRATCH.clear()
        buf = np.empty(4 * n)
        _SCRATCH[n] = buf
    return buf


def get_workspace(n: int, R: int) -> Workspace:
    ws = _WS_CACHE.get((n, R))
    if ws is None:
        # keep the cache tiny: distinct (n, R) pairs per worker are few
        if len(_WS_CACHE) > 8:
            _WS_CACHE.clear()
        ws = Workspace(n, R)
        _WS_CACHE[(n, R)] = ws
    return ws


def ws2d_batch(Y: np.ndarray, lam, W: np.ndarray,
               work: Workspace | None = None) -> np.ndarray:
    """Batched Whittaker smoother, 2nd-order differences, fixed lambda.

    Solves (diag(w) + lambda * D2^T D2) z = w*y for each row via the banded
    LDL^T factorization recurrence of _whittaker.pyx:67-107 (bandwidth-2
    stencil 1,5,6,...,6,5,1 on the diagonal, -2l/-4l first off-diagonal,
    l second off-diagonal), vectorized across rows.

    Args:
        Y:   (R, n) float64 series block, n >= 4.
        lam: scalar or (R,) per-row lambda.
        W:   (R, n) float64 weights.

    Returns:
        (R, n) float64 smoothed block.
    """
    Y = np.ascontiguousarray(Y, dtype=np.float64)
    W = np.ascontiguousarray(W, dtype=np.float64)
    R, n = Y.shape
    if n < 4:
        raise ValueError(f"ws2d requires series length >= 4, got {n}")
    lam = _as_lam(lam, R)

    lib = _ck.get_lib()
    if lib is not None:
        Z = np.empty_like(Y)
        scratch = _row_scratch(n)
        _ck.ws2d_rows_c(Y, np.ascontiguousarray(lam), W, Z, scratch)
        return Z
    m = n - 1

    ws = work if work is not None and work.shape == (n, R) else get_workspace(n, R)
    d, c, e, z = ws.d, ws.c, ws.e, ws.z
    # column-major over time so each recurrence step touches contiguous rows
    Yt = Y.T
    Wt = W.T
    # precomputed lambda multiples / products: identical single ops to the
    # reference's per-step `6 * lmda` etc., hoisted out of the loop
    lam2n = -2 * lam
    lam4n = -4 * lam
    lam5 = 5 * lam
    lam6 = 6 * lam
    np.multiply(Wt, Yt, out=z)  # z[i] starts as w[i]*y[i] (same product)

    d[0] = Wt[0] + lam
    c[0] = lam2n / d[0]
    e[0] = lam / d[0]
    d[1] = Wt[1] + lam5 - d[0] * (c[0] * c[0])
    c[1] = (lam4n - d[0] * c[0] * e[0]) / d[1]
    e[1] = lam / d[1]
    z[1] -= c[0] * z[0]
    for i in range(2, m - 1):
        d[i] = Wt[i] + lam6 - (c[i - 1] * c[i - 1]) * d[i - 1] - (e[i - 2] * e[i - 2]) * d[i - 2]
        c[i] = (lam4n - d[i - 1] * c[i - 1] * e[i - 1]) / d[i]
        e[i] = lam / d[i]
        # two sequential subtractions — same rounding order as the reference
        z[i] -= c[i - 1] * z[i - 1]
        z[i] -= e[i - 2] * z[i - 2]
    d[m - 1] = Wt[m - 1] + lam5 - (c[m - 2] * c[m - 2]) * d[m - 2] - (e[m - 3] * e[m - 3]) * d[m - 3]
    c[m - 1] = (lam2n - d[m - 2] * c[m - 2] * e[m - 2]) / d[m - 1]
    z[m - 1] -= c[m - 2] * z[m - 2]
    z[m - 1] -= e[m - 3] * z[m - 3]
    d[m] = Wt[m] + lam - (c[m - 1] * c[m - 1]) * d[m - 1] - (e[m - 2] * e[m - 2]) * d[m - 2]
    z[m] = (z[m] - c[m - 1] * z[m - 1] - e[m - 2] * z[m - 2]) / d[m]
    z[m - 1] = z[m - 1] / d[m - 1] - c[m - 1] * z[m]
    for i in range(m - 2, -1, -1):
        z[i] = z[i] / d[i] - c[i] * z[i + 1] - e[i] * z[i + 2]
    # a copy, never a view: at R == 1 z.T is already contiguous, and a view
    # into the cached workspace would change under the next solve
    return z.T.copy()


def _envelope_iterate(
    Y: np.ndarray,
    lam: np.ndarray,
    W: np.ndarray,
    p: float,
    z0: np.ndarray,
    ww0: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """The <=10-iteration asymmetric-envelope loop shared by ws2dp/ws2doptvp.

    Mirrors _whittaker.pyx:191-211 / :338-357 / :400-420: per point weight p
    if y > z else 1-p, multiplied into w; re-solve; stop when
    sum(|z_new - z|) == 0 EXACTLY.  Rows that converge stop updating (their
    last computed ww is retained for the caller's final solve,
    _whittaker.pyx:213/:422).

    Returns (z, ww) after the loop, WITHOUT the final extra solve.
    ``z0``/``ww0`` are taken over (mutated in place) — callers own them.
    """
    R, n = Y.shape
    p1 = 1.0 - p
    z = z0
    ww = np.empty_like(W) if ww0 is None else ww0
    lib = _ck.get_lib()
    if lib is not None:
        Yc = np.ascontiguousarray(Y)
        Wc = np.ascontiguousarray(W)
        lamc = np.ascontiguousarray(lam, dtype=np.float64)
        zc = z if z.flags.c_contiguous else np.ascontiguousarray(z)
        wwc = ww if ww.flags.c_contiguous else np.ascontiguousarray(ww)
        _ck.envelope_rows_c(Yc, lamc, Wc, p, zc, wwc, _row_scratch(n))
        if zc is not z:
            z[...] = zc
        if wwc is not ww:
            ww[...] = wwc
        return z, ww
    # w[j]*p / w[j]*(1-p) hoisted: identical single multiplications to the
    # reference's per-point w[j]*wa[j]
    pW = W * p
    p1W = W * p1
    active = np.ones(R, dtype=bool)
    n_active = R
    for _ in range(10):
        if n_active == 0:
            break
        if n_active == R:
            # fast path: no fancy-index copies of the full block
            mask = Y > z
            np.copyto(ww, p1W)
            np.copyto(ww, pW, where=mask)
            znew = ws2d_batch(Y, lam, ww)
            delta = np.abs(znew - z).sum(axis=1)
            conv = delta == 0.0
            nc = ~conv
            z[nc] = znew[nc]
            active = nc
            n_active = int(nc.sum())
        else:
            idx = np.where(active)[0]
            Ya = Y[idx]
            za = z[idx]
            wwa = np.where(Ya > za, pW[idx], p1W[idx])
            ww[idx] = wwa
            znew = ws2d_batch(Ya, lam[idx], wwa)
            delta = np.abs(znew - za).sum(axis=1)
            conv = delta == 0.0
            upd = idx[~conv]
            z[upd] = znew[~conv]
            active[idx[conv]] = False
            n_active = int(active.sum())
    return z, ww


def ws2dp_batch(Y: np.ndarray, lam, W: np.ndarray, p: float) -> np.ndarray:
    """Batched asymmetric Whittaker smoother, fixed lambda
    (_whittaker.pyx:162-214)."""
    Y = np.ascontiguousarray(Y, dtype=np.float64)
    W = np.ascontiguousarray(W, dtype=np.float64)
    R, n = Y.shape
    lam = _as_lam(lam, R)
    z0 = np.zeros_like(Y)
    _, ww = _envelope_iterate(Y, lam, W, p, z0, None)
    # final solve with the last computed ww (_whittaker.pyx:213)
    return ws2d_batch(Y, lam, ww)


def _vcurve(
    fits: np.ndarray, pens: np.ndarray, llas: np.ndarray,
    valid: np.ndarray | None = None,
) -> np.ndarray:
    """Pick per-row optimal lambda from fit/penalty curves.

    _whittaker.pyx:270-293: v_i = sqrt(dfit^2 + dpen^2) / (ln10 * step) at
    grid midpoints; first argmin wins; lopt = 10^midpoint.

    ``llas`` may be a shared (nl,) grid or a per-row (R, nl) matrix (merged
    adaptive grids); ``valid`` gives per-row valid grid lengths — midpoints
    at or beyond valid-1 are excluded from the argmin (they belong to pad
    entries appended purely so differently-sized grids batch together).
    """
    if llas.ndim == 1:
        llastep = llas[1] - llas[0]
        lamids = (llas[:-1] + llas[1:]) / 2
        dfit = np.diff(fits, axis=1)
        dpen = np.diff(pens, axis=1)
        v = np.sqrt(dfit * dfit + dpen * dpen) / (np.log(10) * llastep)
        k = np.argmin(v, axis=1)  # first occurrence of the minimum
        return np.power(10.0, lamids[k])
    llastep = llas[:, 1] - llas[:, 0]
    lamids = (llas[:, :-1] + llas[:, 1:]) / 2
    dfit = np.diff(fits, axis=1)
    dpen = np.diff(pens, axis=1)
    v = np.sqrt(dfit * dfit + dpen * dpen) / (np.log(10) * llastep)[:, None]
    if valid is not None:
        cols = np.arange(v.shape[1])[None, :]
        v = np.where(cols >= (valid[:, None] - 1), np.inf, v)
    k = np.argmin(v, axis=1)
    rows = np.arange(v.shape[0])
    return np.power(10.0, lamids[rows, k])


def _sweep_sums(
    Y: np.ndarray, W: np.ndarray, lams: np.ndarray, p: float | None,
) -> tuple[np.ndarray, np.ndarray]:
    """numpy form of ckernel.vcurve_sweep_c, its oracle and fallback: raw
    fit and penalty sums, (nl, R) each, one lambda row of ``lams`` at a
    time."""
    nl, R = lams.shape
    fit = np.empty((nl, R))
    pen = np.empty((nl, R))
    z = np.zeros_like(Y)
    ww = np.empty_like(W)
    for lix in range(nl):
        if p is None:
            z = ws2d_batch(Y, lams[lix], W)
        else:
            z, ww = _envelope_iterate(Y, lams[lix], W, p, z, ww)
        fit[lix] = np.sum((W * (Y - z)) ** 2, axis=1)
        d1 = z[:, 1:] - z[:, :-1]
        d2 = d1[:, 1:] - d1[:, :-1]
        pen[lix] = np.sum(d2 * d2, axis=1)
    return fit, pen


def _vcurve_curves(
    Y: np.ndarray, W: np.ndarray, llas: np.ndarray, p: float | None,
) -> tuple[np.ndarray, np.ndarray]:
    """log fit and log penalty, (R, nl) each, over the whole lambda grid
    (_whittaker.pyx:253-268): fit = sum((w*(y-z))^2), penalty =
    sum((diff2 z)^2).  With ``p`` each grid point runs the envelope loop,
    starting from the previous grid point's z (z initialised to zero only
    once, _whittaker.pyx:326-335); without it each point is one solve.
    The compiled path sweeps the whole grid in one C call.
    """
    R = Y.shape[0]
    nl = llas.shape[-1]
    lams = np.empty((nl, R))
    for lix in range(nl):
        lams[lix] = 10.0 ** llas[:, lix] if llas.ndim == 2 else 10.0 ** llas[lix]
    sums = _ck.vcurve_sweep_c(Y, W, lams, p) if _ck.get_lib() is not None else None
    fit, pen = sums if sums is not None else _sweep_sums(Y, W, lams, p)
    fits = np.empty((R, nl))
    pens = np.empty((R, nl))
    with np.errstate(divide="ignore"):
        for lix in range(nl):
            fits[:, lix] = np.log(fit[lix])
            pens[:, lix] = np.log(pen[lix])
    return fits, pens


def ws2doptv_batch(
    Y: np.ndarray, W: np.ndarray, llas: np.ndarray,
    valid: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Batched V-curve lambda optimization (_whittaker.pyx:216-293).

    ``llas``: shared (nl,) grid, or per-row (R, nl) matrix with ``valid``
    per-row grid lengths (grids padded by repeating their last value — pad
    solves are wasted work but keep ALL rows in one vectorized batch, which
    beats splitting the batch three ways by adaptive range).

    Returns (Z, lopt): smoothed block and per-row optimized lambda (linear,
    not log10).
    """
    Y = np.ascontiguousarray(Y, dtype=np.float64)
    W = np.ascontiguousarray(W, dtype=np.float64)
    llas = np.asarray(llas, dtype=np.float64)
    fits, pens = _vcurve_curves(Y, W, llas, None)
    lopt = _vcurve(fits, pens, llas, valid)
    Z = ws2d_batch(Y, lopt, W)
    return Z, lopt


def ws2doptvp_batch(
    Y: np.ndarray, W: np.ndarray, llas: np.ndarray, p: float,
    valid: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Batched V-curve optimization with asymmetric envelope
    (_whittaker.pyx:296-423).

    Exactness notes mirrored from the reference:
    - z is NOT reset between lambda grid points; each grid point's envelope
      loop starts from the previous grid point's result (z initialised to
      zero only once, _whittaker.pyx:326-335).
    - after picking lopt, z IS reset to zero (:397-398) and the envelope loop
      reruns at lopt, followed by one extra solve with the final ww (:422).
    - per-row grids (llas (R, nl) + valid) are padded by REPEATING the last
      grid value; padding comes after a row's true grid, so its recorded
      fits/pens at valid positions are untouched, pad positions are masked
      out of the v-curve, and the final phase restarts from z=0 — identical
      results to running that row in its own sub-batch.
    """
    Y = np.ascontiguousarray(Y, dtype=np.float64)
    W = np.ascontiguousarray(W, dtype=np.float64)
    llas = np.asarray(llas, dtype=np.float64)
    fits, pens = _vcurve_curves(Y, W, llas, p)
    lopt = _vcurve(fits, pens, llas, valid)
    _, ww = _envelope_iterate(Y, lopt, W, p, np.zeros_like(Y), None)
    Z = ws2d_batch(Y, lopt, ww)
    return Z, lopt
