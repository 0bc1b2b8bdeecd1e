"""Optional C fast path for the Whittaker solver core.

The numpy batched kernel (kernels.py) dispatches ~16 numpy ops per
time-step; at n=742 that is ~12k dispatches per solve and the kernel
becomes dispatch/memory bound.  This module compiles a small C library at
first use (gcc is present in the image; nothing is installed) and loads it
with ctypes.  The C code executes the IDENTICAL per-element operation
sequence as kernels.ws2d_batch / _envelope_iterate / the V-curve fit and
penalty sums — compiled with ``-fno-fast-math -ffp-contract=off`` so every
double op rounds exactly like numpy's — and tests/test_ckernel.py asserts
bit-equality between the two paths.  If compilation fails for any reason
the engine silently keeps the pure-numpy path.

Layout: rows are solved in blocks of 8, transposed to time-major so each
recurrence step is one packed op across the block's rows (GCC vector
types).  A block's working set (~9 planes of n x 8 doubles, ~430 KiB at
n=742) stays cache-resident for a row's whole lambda sweep
(``vcurve_sweep``: every grid lambda, the envelope loop and the fit and
penalty sums in one call per batch).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SOURCE = r"""
#include <math.h>
#include <stdlib.h>

/* Whittaker 2nd-order banded LDL^T solve for one row.
   Identical element-op order to the engine's numpy kernel (and the
   recurrence of the reference implementation it re-derives):
   d/c/e forward factorization, z forward substitution, back substitution.
   Caller provides workspace wd/wc/we of length n. */
static void ws2d_row(const double* y, double lam, const double* w,
                     double* z, double* wd, double* wc, double* we, long n)
{
    long m = n - 1, i;
    double lam2n = -2.0 * lam, lam4n = -4.0 * lam;
    double lam5 = 5.0 * lam, lam6 = 6.0 * lam;

    for (i = 0; i < n; i++) z[i] = w[i] * y[i];

    wd[0] = w[0] + lam;
    wc[0] = lam2n / wd[0];
    we[0] = lam / wd[0];
    wd[1] = w[1] + lam5 - wd[0] * (wc[0] * wc[0]);
    wc[1] = (lam4n - wd[0] * wc[0] * we[0]) / wd[1];
    we[1] = lam / wd[1];
    z[1] -= wc[0] * z[0];
    for (i = 2; i < m - 1; i++) {
        wd[i] = w[i] + lam6 - (wc[i-1] * wc[i-1]) * wd[i-1] - (we[i-2] * we[i-2]) * wd[i-2];
        wc[i] = (lam4n - wd[i-1] * wc[i-1] * we[i-1]) / wd[i];
        we[i] = lam / wd[i];
        z[i] -= wc[i-1] * z[i-1];
        z[i] -= we[i-2] * z[i-2];
    }
    wd[m-1] = w[m-1] + lam5 - (wc[m-2] * wc[m-2]) * wd[m-2] - (we[m-3] * we[m-3]) * wd[m-3];
    wc[m-1] = (lam2n - wd[m-2] * wc[m-2] * we[m-2]) / wd[m-1];
    z[m-1] -= wc[m-2] * z[m-2];
    z[m-1] -= we[m-3] * z[m-3];
    wd[m] = w[m] + lam - (wc[m-1] * wc[m-1]) * wd[m-1] - (we[m-2] * we[m-2]) * wd[m-2];
    z[m] = (z[m] - wc[m-1] * z[m-1] - we[m-2] * z[m-2]) / wd[m];
    z[m-1] = z[m-1] / wd[m-1] - wc[m-1] * z[m];
    for (i = m - 2; i >= 0; i--)
        z[i] = z[i] / wd[i] - wc[i] * z[i+1] - we[i] * z[i+2];
}

/* Solve R rows: Y/W/Z row-major (R x n), lam per row. */
void ws2d_rows(const double* Y, const double* lam, const double* W,
               double* Z, double* work, long n, long R)
{
    long r;
    for (r = 0; r < R; r++) {
        ws2d_row(Y + r * n, lam[r], W + r * n, Z + r * n,
                 work, work + n, work + 2 * n, n);
    }
}

/* Asymmetric-envelope loop for R rows (<=10 iterations, per-row exact
   early exit).  z/ww updated in place; z must hold the starting curve.
   Matches kernels._envelope_iterate semantics:
     wa = p if y > z else 1-p; ww = w*wa; znew = solve; stop when
     sum|znew - z| == 0 (z keeps its pre-iteration value on the stopping
     pass, which equals znew anyway); ww retains the stopping iteration's
     weights for the caller's final solve. */
void envelope_rows(const double* Y, const double* lam, const double* W,
                   double p, double* z, double* ww, double* work,
                   long n, long R)
{
    double p1 = 1.0 - p;
    long r, i, it;
    double* znew = work + 3 * (size_t)n;
    for (r = 0; r < R; r++) {
        const double* y = Y + r * n;
        const double* w = W + r * n;
        double* zr = z + r * n;
        double* wwr = ww + r * n;
        for (it = 0; it < 10; it++) {
            for (i = 0; i < n; i++)
                wwr[i] = w[i] * (y[i] > zr[i] ? p : p1);
            ws2d_row(y, lam[r], wwr, znew, work, work + n, work + 2 * n, n);
            double delta = 0.0;
            for (i = 0; i < n; i++)
                delta += fabs(znew[i] - zr[i]);
            if (delta == 0.0)
                break;
            for (i = 0; i < n; i++) zr[i] = znew[i];
        }
    }
}


/* --- blocked (row-interleaved) solver forms ---------------------------
   Lanes of MODAPE_BS rows run the IDENTICAL per-row operation sequence
   side by side in a transposed (time-major) layout.  Each time step is a
   handful of packed ops on a GCC vector of MODAPE_BS doubles: the time
   recurrence is sequential per row, but rows are independent, so one
   packed divide serves the whole block.  (gcc does not auto-vectorize
   the same loops written over plain double arrays: it cannot prove the
   lane pointers don't alias, and the divides stay scalar.)
   Per-lane results are bit-identical to ws2d_row/envelope_rows: the same
   IEEE add/mul/div sequence per row (no reassociation, and the build pins
   -ffp-contract=off so no FMA merging), and packed add/mul/div round
   exactly like their scalar forms.  Pad lanes (block tail past R) run on
   benign inputs (y=0, w=1, lam=1) and are discarded. */
#define MODAPE_BS 8
typedef double vd __attribute__((vector_size(MODAPE_BS * sizeof(double))));
typedef long long vl __attribute__((vector_size(MODAPE_BS * sizeof(long long))));

static vd* alloc_planes(long n, int k)
{
    void* p = 0;
    if (posix_memalign(&p, sizeof(vd), (size_t)n * k * sizeof(vd)) != 0)
        return 0;
    return (vd*)p;
}

/* rows r0..r0+B-1 of the row-major (R x n) X into time-major xt */
static void load_block(const double* X, long r0, int B, long n,
                       double pad, vd* xt)
{
    long i; int j;
    for (i = 0; i < n; i++) {
        for (j = 0; j < B; j++) xt[i][j] = X[(r0 + j) * n + i];
        for (j = B; j < MODAPE_BS; j++) xt[i][j] = pad;
    }
}

static void store_block(const vd* xt, long r0, int B, long n, double* X)
{
    long i; int j;
    for (i = 0; i < n; i++)
        for (j = 0; j < B; j++) X[(r0 + j) * n + i] = xt[i][j];
}

static vd splat(double x)
{
    vd v; int j;
    for (j = 0; j < MODAPE_BS; j++) v[j] = x;
    return v;
}

static vd lam_block(const double* lam, long r0, int B)
{
    vd v; int j;
    for (j = 0; j < MODAPE_BS; j++) v[j] = j < B ? lam[r0 + j] : 1.0;
    return v;
}

static int any_lane(vl v)
{
    int j;
    for (j = 0; j < MODAPE_BS; j++)
        if (v[j]) return 1;
    return 0;
}

/* ws2d_row on MODAPE_BS lanes at once: the same statements over vectors */
static void ws2d_block(const vd* restrict yt, vd lam, const vd* restrict wt,
                       vd* restrict zt, vd* restrict wd, vd* restrict wc,
                       vd* restrict we, long n)
{
    long m = n - 1, i;
    vd lam2n = -2.0 * lam, lam4n = -4.0 * lam;
    vd lam5 = 5.0 * lam, lam6 = 6.0 * lam;

    for (i = 0; i < n; i++) zt[i] = wt[i] * yt[i];

    wd[0] = wt[0] + lam;
    wc[0] = lam2n / wd[0];
    we[0] = lam / wd[0];
    wd[1] = wt[1] + lam5 - wd[0] * (wc[0] * wc[0]);
    wc[1] = (lam4n - wd[0] * wc[0] * we[0]) / wd[1];
    we[1] = lam / wd[1];
    zt[1] -= wc[0] * zt[0];
    for (i = 2; i < m - 1; i++) {
        wd[i] = wt[i] + lam6 - (wc[i-1] * wc[i-1]) * wd[i-1] - (we[i-2] * we[i-2]) * wd[i-2];
        wc[i] = (lam4n - wd[i-1] * wc[i-1] * we[i-1]) / wd[i];
        we[i] = lam / wd[i];
        zt[i] -= wc[i-1] * zt[i-1];
        zt[i] -= we[i-2] * zt[i-2];
    }
    wd[m-1] = wt[m-1] + lam5 - (wc[m-2] * wc[m-2]) * wd[m-2] - (we[m-3] * we[m-3]) * wd[m-3];
    wc[m-1] = (lam2n - wd[m-2] * wc[m-2] * we[m-2]) / wd[m-1];
    zt[m-1] -= wc[m-2] * zt[m-2];
    zt[m-1] -= we[m-3] * zt[m-3];
    wd[m] = wt[m] + lam - (wc[m-1] * wc[m-1]) * wd[m-1] - (we[m-2] * we[m-2]) * wd[m-2];
    zt[m] = (zt[m] - wc[m-1] * zt[m-1] - we[m-2] * zt[m-2]) / wd[m];
    zt[m-1] = zt[m-1] / wd[m-1] - wc[m-1] * zt[m];
    for (i = m - 2; i >= 0; i--)
        zt[i] = zt[i] / wd[i] - wc[i] * zt[i+1] - we[i] * zt[i+2];
}

/* Asymmetric-envelope loop on one block, per lane exactly envelope_rows:
   wa = p if y > z else 1-p; ww = w*wa; znew = solve; stop when
   sum|znew - z| == 0, i.e. when every znew[i] - z[i] == 0 (z then keeps
   its pre-iteration value, ww the stopping iteration's weights).  Only
   lanes j < B run; converged lanes ride the block's remaining solves
   with their results discarded.
   The confirming solve is skipped: from iteration 1 on, each active
   lane's z IS the solve with its current ww, so when no active lane's
   new weights differ bit for bit from its old ones, the solve would
   return z exactly and every lane whose z is finite would stop.  A lane
   with a non-finite z never stops (its delta is NaN), so it forces the
   solve and keeps envelope_rows' 10-iteration behaviour. */
static void envelope_block(const vd* yt, const vd* wt, vd lam, double p,
                           vd* zt, vd* wwt, vd* znt, vd* wd, vd* wc,
                           vd* we, long n, int B)
{
    const vd pv = splat(p), p1v = splat(1.0 - p), zero = splat(0.0);
    const vl expo = (vl)splat(INFINITY);  /* exponent bits all ones */
    vl active;
    long i; int j, it;
    for (j = 0; j < MODAPE_BS; j++) active[j] = j < B ? -1 : 0;
    for (it = 0; it < 10 && any_lane(active); it++) {
        vl changed = (vl){0}, nonfinite = (vl){0}, moved = (vl){0};
        for (i = 0; i < n; i++) {
            vl gt = yt[i] > zt[i];
            vl wnew = (vl)(wt[i] * (vd)((gt & (vl)pv) | (~gt & (vl)p1v)));
            vl wold = (vl)wwt[i];
            changed |= wnew ^ wold;
            nonfinite |= ((vl)zt[i] & expo) == expo;
            wwt[i] = (vd)((active & wnew) | (~active & wold));
        }
        if (it > 0 && !any_lane(active & (changed | nonfinite)))
            break;
        ws2d_block(yt, lam, wwt, znt, wd, wc, we, n);
        for (i = 0; i < n; i++)
            moved |= ~(znt[i] - zt[i] == zero);
        active &= moved;
        for (i = 0; i < n; i++)
            zt[i] = (vd)((active & (vl)znt[i]) | (~active & (vl)zt[i]));
    }
}

/* Blocked ws2d over R rows.  Returns 0 ok, -1 on alloc failure (caller
   falls back to the scalar path). */
long ws2d_rows_blk(const double* Y, const double* lam, const double* W,
                   double* Z, long n, long R)
{
    vd* buf = alloc_planes(n, 6);
    long r0;
    if (!buf) return -1;
    {
        vd* yt = buf;          vd* wt = buf + n;
        vd* zt = buf + 2 * n;  vd* wd = buf + 3 * n;
        vd* wc = buf + 4 * n;  vd* we = buf + 5 * n;
        for (r0 = 0; r0 < R; r0 += MODAPE_BS) {
            int B = (int)((R - r0 < MODAPE_BS) ? (R - r0) : MODAPE_BS);
            load_block(Y, r0, B, n, 0.0, yt);
            load_block(W, r0, B, n, 1.0, wt);
            ws2d_block(yt, lam_block(lam, r0, B), wt, zt, wd, wc, we, n);
            store_block(zt, r0, B, n, Z);
        }
    }
    free(buf);
    return 0;
}

/* Blocked asymmetric-envelope loop: identical per-lane results to
   envelope_rows (z in/out, ww out).  Returns 0 ok, -1 on alloc
   failure. */
long envelope_rows_blk(const double* Y, const double* lam, const double* W,
                       double p, double* z, double* ww, long n, long R)
{
    vd* buf = alloc_planes(n, 8);
    long r0;
    if (!buf) return -1;
    {
        vd* yt  = buf;          vd* wt  = buf + n;
        vd* zt  = buf + 2 * n;  vd* wwt = buf + 3 * n;
        vd* wd  = buf + 4 * n;  vd* wc  = buf + 5 * n;
        vd* we  = buf + 6 * n;  vd* znt = buf + 7 * n;
        for (r0 = 0; r0 < R; r0 += MODAPE_BS) {
            int B = (int)((R - r0 < MODAPE_BS) ? (R - r0) : MODAPE_BS);
            long i;
            load_block(Y, r0, B, n, 0.0, yt);
            load_block(W, r0, B, n, 1.0, wt);
            load_block(z, r0, B, n, 0.0, zt);
            for (i = 0; i < n; i++) wwt[i] = splat(1.0);
            envelope_block(yt, wt, lam_block(lam, r0, B), p, zt, wwt, znt,
                           wd, wc, we, n, B);
            store_block(zt, r0, B, n, z);
            store_block(wwt, r0, B, n, ww);
        }
    }
    free(buf);
    return 0;
}

/* numpy's pairwise_sum order (8 accumulators, 128-element leaves, split
   at n/2 rounded down to a multiple of 8), per lane */
static vd pairwise_block(const vd* a, long n)
{
    long i;
    if (n < 8) {
        vd res = splat(0.0);
        for (i = 0; i < n; i++) res += a[i];
        return res;
    }
    if (n <= 128) {
        vd r0 = a[0], r1 = a[1], r2 = a[2], r3 = a[3];
        vd r4 = a[4], r5 = a[5], r6 = a[6], r7 = a[7], res;
        for (i = 8; i < n - (n % 8); i += 8) {
            r0 += a[i];     r1 += a[i + 1]; r2 += a[i + 2]; r3 += a[i + 3];
            r4 += a[i + 4]; r5 += a[i + 5]; r6 += a[i + 6]; r7 += a[i + 7];
        }
        res = ((r0 + r1) + (r2 + r3)) + ((r4 + r5) + (r6 + r7));
        for (; i < n; i++) res += a[i];
        return res;
    }
    {
        long n2 = n / 2;
        n2 -= n2 % 8;
        return pairwise_block(a, n2) + pairwise_block(a + n2, n - n2);
    }
}

/* np.sum(x, axis=1) of a C-contiguous block, per lane: the reduction
   starts from the identity 0.0 and takes the row in chunks of numpy's
   buffer size (np.getbufsize()), one pairwise sum per chunk. */
static vd row_sum_block(const vd* a, long n, long chunk)
{
    vd res = splat(0.0);
    long s;
    for (s = 0; s < n; s += chunk)
        res += pairwise_block(a + s, n - s < chunk ? n - s : chunk);
    return res;
}

/* np.sum(X, axis=1) for a row-major (R x n) X, in the blocked layout the
   sweep sums in.  Returns 0 ok, -1 on alloc failure. */
long row_sums_blk(const double* X, long n, long R, long chunk, double* out)
{
    vd* xt = alloc_planes(n, 1);
    long r0;
    if (!xt) return -1;
    for (r0 = 0; r0 < R; r0 += MODAPE_BS) {
        int B = (int)((R - r0 < MODAPE_BS) ? (R - r0) : MODAPE_BS), j;
        vd s;
        load_block(X, r0, B, n, 0.0, xt);
        s = row_sum_block(xt, n, chunk);
        for (j = 0; j < B; j++) out[r0 + j] = s[j];
    }
    free(xt);
    return 0;
}

/* The whole V-curve lambda sweep of ws2doptv/ws2doptvp in one call.
   lams is (nl x R): row k holds every row's k-th grid lambda.  For each
   block of rows and each lambda in order: solve (envelope=0) or run the
   envelope loop from the previous lambda's z (envelope=1, z starts at 0,
   _whittaker.pyx:326-357), then write the raw sums of kernels._fit_pen:
   fit[k*R+r] = sum((w*(y-z))^2), pen[k*R+r] = sum((diff2 z)^2), each in
   np.sum's order.  Returns 0 ok, -1 on alloc failure. */
long vcurve_sweep(const double* Y, const double* W, const double* lams,
                  long nl, double p, long envelope, double* fit, double* pen,
                  long n, long R, long chunk)
{
    vd* buf = alloc_planes(n, 9);
    long r0, k, i;
    if (!buf) return -1;
    {
        vd* yt  = buf;          vd* wt  = buf + n;
        vd* zt  = buf + 2 * n;  vd* wwt = buf + 3 * n;
        vd* wd  = buf + 4 * n;  vd* wc  = buf + 5 * n;
        vd* we  = buf + 6 * n;  vd* znt = buf + 7 * n;
        vd* sq  = buf + 8 * n;
        for (r0 = 0; r0 < R; r0 += MODAPE_BS) {
            int B = (int)((R - r0 < MODAPE_BS) ? (R - r0) : MODAPE_BS), j;
            load_block(Y, r0, B, n, 0.0, yt);
            load_block(W, r0, B, n, 1.0, wt);
            for (i = 0; i < n; i++) {
                zt[i] = splat(0.0);
                wwt[i] = splat(1.0);
            }
            for (k = 0; k < nl; k++) {
                vd lam = lam_block(lams + k * R, r0, B), f, q;
                if (envelope)
                    envelope_block(yt, wt, lam, p, zt, wwt, znt, wd, wc, we,
                                   n, B);
                else
                    ws2d_block(yt, lam, wt, zt, wd, wc, we, n);
                for (i = 0; i < n; i++) {
                    vd r = wt[i] * (yt[i] - zt[i]);
                    sq[i] = r * r;
                }
                f = row_sum_block(sq, n, chunk);
                for (i = 0; i < n - 2; i++) {
                    vd d = (zt[i+2] - zt[i+1]) - (zt[i+1] - zt[i]);
                    sq[i] = d * d;
                }
                q = row_sum_block(sq, n - 2, chunk);
                for (j = 0; j < B; j++) {
                    fit[k * R + r0 + j] = f[j];
                    pen[k * R + r0 + j] = q[j];
                }
            }
        }
    }
    free(buf);
    return 0;
}

/* --- delta-of-delta bitstream decoder (compression.py format) ---------
   Buckets: '0' | '10'+7b(-63) | '110'+9b(-255) | '1110'+12b(-2047) |
   '11110'+36b zigzag.  Mirrors compression.decode_dod bit-for-bit; the
   read path of the compact tier tables.  Returns 0 ok, -1 on overrun.
   rd_bits is bounded by nbits: positions past the buffer read as 0 and
   never index it, so a corrupt/truncated payload cannot over-read the
   heap mid-code — the post-code pos > nbits check then reports -1. */
static long long rd_bits(const unsigned char* buf, long* pos, int nb,
                         long nbits)
{
    long long v = 0; long p = *pos; int k;
    for (k = 0; k < nb; k++) {
        v = (v << 1) | (p < nbits ? ((buf[p >> 3] >> (7 - (p & 7))) & 1) : 0);
        p++;
    }
    *pos = p; return v;
}

long dod_decode_stream(const unsigned char* buf, long nbytes,
                       long long first, long long* out, long n)
{
    long long prev = first, prev_d = 0, dod, u;
    long pos = 0, nbits = nbytes * 8, i;
    out[0] = first;
    for (i = 1; i < n; i++) {
        if (pos >= nbits) return -1;
        if (rd_bits(buf, &pos, 1, nbits) == 0) dod = 0;
        else if (rd_bits(buf, &pos, 1, nbits) == 0) dod = rd_bits(buf, &pos, 7, nbits) - 63;
        else if (rd_bits(buf, &pos, 1, nbits) == 0) dod = rd_bits(buf, &pos, 9, nbits) - 255;
        else if (rd_bits(buf, &pos, 1, nbits) == 0) dod = rd_bits(buf, &pos, 12, nbits) - 2047;
        else {
            rd_bits(buf, &pos, 1, nbits);    /* trailing 0 of '11110' */
            u = rd_bits(buf, &pos, 36, nbits);
            dod = (u >> 1) ^ -(u & 1);       /* unzigzag */
        }
        if (pos > nbits) return -1;
        prev_d += dod;
        prev += prev_d;
        out[i] = prev;
    }
    return 0;
}

/* --- delta-of-delta encoder (mirror of compression.encode_dod) --------
   Encodes R same-length rows (row-major int64, length n) into out with
   ``stride`` bytes reserved per row, zero-padded to a byte boundary like
   np.packbits; lens[r] = bytes written for row r.  Byte-identical to the
   numpy encoder (tests/test_compression.py asserts it).  Returns 0 ok,
   -1 if any |dod| >= 2^34 (the python encoder's range check). */
long dod_encode_rows(const long long* V, long R, long n,
                     unsigned char* out, long stride, long long* lens)
{
    long r, i;
    for (r = 0; r < R; r++) {
        const long long* v = V + r * n;
        unsigned char* o = out + r * stride;
        unsigned long long acc = 0;
        int nacc = 0;
        long nb_out = 0;
        long long prev_d = 0;
        for (i = 1; i < n; i++) {
            long long d = v[i] - v[i-1];
            long long dod = d - prev_d;
            unsigned long long code; int nb;
            prev_d = d;
            if (dod == 0) { code = 0; nb = 1; }
            else if (dod >= -63 && dod <= 64) {
                code = (2ULL << 7) | (unsigned long long)(dod + 63); nb = 9; }
            else if (dod >= -255 && dod <= 256) {
                code = (6ULL << 9) | (unsigned long long)(dod + 255); nb = 12; }
            else if (dod >= -2047 && dod <= 2048) {
                code = (14ULL << 12) | (unsigned long long)(dod + 2047); nb = 16; }
            else {
                unsigned long long z;
                if (dod >= (1LL << 34) || dod <= -(1LL << 34)) return -1;
                z = ((unsigned long long)dod << 1)
                    ^ (unsigned long long)(dod >> 63);
                code = (30ULL << 36) | (z & ((1ULL << 36) - 1)); nb = 41; }
            /* nacc <= 7 here and nb <= 41, so acc never overflows 64 */
            acc = (acc << nb) | code;
            nacc += nb;
            while (nacc >= 8) {
                o[nb_out++] = (unsigned char)((acc >> (nacc - 8)) & 0xFF);
                nacc -= 8;
            }
        }
        if (nacc)
            o[nb_out++] = (unsigned char)((acc << (8 - nacc)) & 0xFF);
        lens[r] = nb_out;
    }
    return 0;
}

/* --- batched payload decoder (compact tier read path) -----------------
   R complete payloads (13-byte header + bitstream, compression.py
   format) concatenated in buf; boffs[r]..boffs[r+1] delimit payload r.
   ooffs[r] gives the output start for row r, precomputed by the caller
   from the payload headers; the header n is re-validated against
   ooffs[r+1]-ooffs[r].  One call decodes the whole Arrow batch.
   Returns 0 ok, -(r+1) for the first bad row (magic/length/overrun). */
long dod_decode_rows(const unsigned char* buf, const long long* boffs,
                     const long long* ooffs, long R, long long* out)
{
    long r, k;
    for (r = 0; r < R; r++) {
        const unsigned char* p = buf + boffs[r];
        long nbytes = (long)(boffs[r+1] - boffs[r]);
        long long n, first;
        long long* o = out + ooffs[r];
        if (nbytes < 5 || p[0] != 0xD0) return -(r+1);
        n = ((long long)p[1] << 24) | ((long long)p[2] << 16)
          | ((long long)p[3] << 8) | p[4];
        if (n != ooffs[r+1] - ooffs[r]) return -(r+1);
        if (n == 0) continue;
        if (nbytes < 13) return -(r+1);
        first = 0;
        for (k = 0; k < 8; k++) first = (first << 8) | p[5 + k];
        o[0] = first;
        if (n == 1) continue;
        if (dod_decode_stream(p + 13, nbytes - 13, first, o, (long)n) != 0)
            return -(r+1);
    }
    return 0;
}

/* --- per-row-position batched positional decode -------------------------
   For each payload, walk the first ks[r] codes WITHOUT materializing the
   prefix and emit only value #ks[r] (1-based; ks[r] < 1 => NULL row,
   skipped).  valid[r]=0 with no error when the stored array is shorter
   than ks[r] (NULL export contract).  The per-row POSITION VECTOR is what
   lets a calendar-date export over a mixed-length table resolve every
   length's (different) grid position in ONE scan instead of one filtered
   scan per distinct length; the scalar (constant-position) export goes
   through this same walk with a constant vector — one decoder, never two
   to keep in sync.  Returns 0 ok, -(r+1) first bad row. */
long dod_value_at_rows_vec(const unsigned char* buf, const long long* boffs,
                           long R, const long long* ks, long long* out,
                           unsigned char* valid)
{
    long r, i;
    for (r = 0; r < R; r++) {
        const unsigned char* p = buf + boffs[r];
        long nbytes = (long)(boffs[r+1] - boffs[r]);
        long long k = ks[r];
        long long n, first, prev, prev_d, dod, u;
        long pos, nbits;
        valid[r] = 0;
        if (k < 1) continue;   /* date not on this row's grid: NULL */
        if (nbytes < 5 || p[0] != 0xD0) return -(r+1);
        n = ((long long)p[1] << 24) | ((long long)p[2] << 16)
          | ((long long)p[3] << 8) | p[4];
        if (k > n) continue;   /* past the array: NULL */
        if (nbytes < 13) return -(r+1);
        first = 0;
        for (i = 0; i < 8; i++) first = (first << 8) | p[5 + i];
        prev = first; prev_d = 0;
        pos = 0; nbits = (nbytes - 13) * 8;
        for (i = 1; i < k; i++) {
            const unsigned char* s = p + 13;
            if (pos >= nbits) return -(r+1);
            if (rd_bits(s, &pos, 1, nbits) == 0) dod = 0;
            else if (rd_bits(s, &pos, 1, nbits) == 0)
                dod = rd_bits(s, &pos, 7, nbits) - 63;
            else if (rd_bits(s, &pos, 1, nbits) == 0)
                dod = rd_bits(s, &pos, 9, nbits) - 255;
            else if (rd_bits(s, &pos, 1, nbits) == 0)
                dod = rd_bits(s, &pos, 12, nbits) - 2047;
            else {
                rd_bits(s, &pos, 1, nbits);
                u = rd_bits(s, &pos, 36, nbits);
                dod = (u >> 1) ^ -(u & 1);
            }
            if (pos > nbits) return -(r+1);
            prev_d += dod;
            prev += prev_d;
        }
        out[r] = prev;
        valid[r] = 1;
    }
    return 0;
}

/* --- PNG scanline unfilter (multimodal.py decode path) ----------------
   raw: inflated IDAT, h scanlines of (1 filter byte + w samples).
   All five RFC 2083 filters; the Average and Paeth recurrences are
   intra-row sequential and were the decoder's interpreted-Python
   hotspot.  Returns 0 ok, -1 on an unknown filter type. */
long png_unfilter(const unsigned char* raw, long h, long w,
                  unsigned char* px)
{
    long y, x;
    const unsigned char* prev = 0;
    for (y = 0; y < h; y++) {
        const unsigned char* fl = raw + y * (w + 1) + 1;
        unsigned char* row = px + y * w;
        int ft = raw[y * (w + 1)];
        switch (ft) {
        case 0:
            for (x = 0; x < w; x++) row[x] = fl[x];
            break;
        case 1: {
            unsigned char a = 0;
            for (x = 0; x < w; x++) { a = (unsigned char)(fl[x] + a); row[x] = a; }
            break; }
        case 2:
            for (x = 0; x < w; x++)
                row[x] = (unsigned char)(fl[x] + (prev ? prev[x] : 0));
            break;
        case 3: {
            int a = 0;
            for (x = 0; x < w; x++) {
                int b = prev ? prev[x] : 0;
                a = (fl[x] + ((a + b) >> 1)) & 0xFF;
                row[x] = (unsigned char)a;
            }
            break; }
        case 4:
            for (x = 0; x < w; x++) {
                int a = x ? row[x - 1] : 0;
                int b = prev ? prev[x] : 0;
                int c = (x && prev) ? prev[x - 1] : 0;
                int p = a + b - c;
                int pa = abs(p - a), pb = abs(p - b), pc = abs(p - c);
                int pred = (pa <= pb && pa <= pc) ? a : (pb <= pc ? b : c);
                row[x] = (unsigned char)((fl[x] + pred) & 0xFF);
            }
            break;
        default:
            return -1;
        }
        prev = row;
    }
    return 0;
}
"""

# -O3 -march=native: the blocked solver's GCC vector types lower to the
# host's widest packed double ops.  Exactness is NOT traded away:
# -fno-fast-math keeps IEEE semantics, -ffp-contract=off forbids FMA
# merging, and packed add/mul/div round identically to their scalar forms —
# per-row results are bit-equal under any lane width (asserted by
# tests/test_ckernel.py).  The .so is compiled at first use on the machine
# that runs it, so native is always the running host's ISA.
_CFLAGS = ["-O3", "-march=native", "-fno-fast-math", "-ffp-contract=off",
           "-fPIC", "-shared"]

_lib = None
_tried = False


def _host_isa_tag() -> str:
    """Host CPU feature string folded into the .so cache key: with
    -march=native the binary is host-specific, and a cached build reused
    on a CPU lacking those extensions would SIGILL (CDLL load itself
    succeeds, so no fallback would trigger).  The cpuinfo flags line
    changes exactly when the ISA does; absence degrades to a
    platform-machine tag."""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("flags"):
                    return line
    except OSError:
        pass
    import platform

    return platform.machine()


def _build() -> str | None:
    cache = os.path.join(tempfile.gettempdir(), "modape_spark_ckernel")
    os.makedirs(cache, exist_ok=True)
    tag = hashlib.sha256((_C_SOURCE + " ".join(_CFLAGS)
                          + _host_isa_tag()).encode()).hexdigest()[:16]
    so_path = os.path.join(cache, f"ws2d_{tag}.so")
    if os.path.exists(so_path):
        return so_path
    src = os.path.join(cache, f"ws2d_{tag}.c")
    tmp_so = so_path + f".tmp{os.getpid()}"
    try:
        with open(src, "w") as f:
            f.write(_C_SOURCE)
        subprocess.run(["gcc", *_CFLAGS, src, "-o", tmp_so, "-lm"],
                       check=True, capture_output=True, timeout=120)
        os.replace(tmp_so, so_path)  # atomic: concurrent workers race safely
        return so_path
    except Exception:
        return None


def get_lib():
    """Compile-once, load-once.  Returns None when unavailable."""
    global _lib, _tried
    if _lib is not None or _tried:
        return _lib
    _tried = True
    if os.environ.get("MODAPE_SPARK_NO_CKERNEL"):
        return None
    path = _build()
    if path is None:
        return None
    try:
        lib = ctypes.CDLL(path)
        dp = ctypes.POINTER(ctypes.c_double)
        lib.ws2d_rows.argtypes = [dp, dp, dp, dp, dp, ctypes.c_long, ctypes.c_long]
        lib.ws2d_rows.restype = None
        lib.envelope_rows.argtypes = [dp, dp, dp, ctypes.c_double, dp, dp, dp,
                                      ctypes.c_long, ctypes.c_long]
        lib.envelope_rows.restype = None
        lib.ws2d_rows_blk.argtypes = [dp, dp, dp, dp,
                                      ctypes.c_long, ctypes.c_long]
        lib.ws2d_rows_blk.restype = ctypes.c_long
        lib.envelope_rows_blk.argtypes = [dp, dp, dp, ctypes.c_double, dp, dp,
                                          ctypes.c_long, ctypes.c_long]
        lib.envelope_rows_blk.restype = ctypes.c_long
        lib.row_sums_blk.argtypes = [dp, ctypes.c_long, ctypes.c_long,
                                     ctypes.c_long, dp]
        lib.row_sums_blk.restype = ctypes.c_long
        lib.vcurve_sweep.argtypes = [dp, dp, dp, ctypes.c_long,
                                     ctypes.c_double, ctypes.c_long, dp, dp,
                                     ctypes.c_long, ctypes.c_long,
                                     ctypes.c_long]
        lib.vcurve_sweep.restype = ctypes.c_long
        lib.dod_decode_stream.argtypes = [
            ctypes.POINTER(ctypes.c_ubyte), ctypes.c_long, ctypes.c_longlong,
            ctypes.POINTER(ctypes.c_longlong), ctypes.c_long]
        lib.dod_decode_stream.restype = ctypes.c_long
        lib.dod_encode_rows.argtypes = [
            ctypes.POINTER(ctypes.c_longlong), ctypes.c_long, ctypes.c_long,
            ctypes.POINTER(ctypes.c_ubyte), ctypes.c_long,
            ctypes.POINTER(ctypes.c_longlong)]
        lib.dod_encode_rows.restype = ctypes.c_long
        lib.dod_decode_rows.argtypes = [
            ctypes.POINTER(ctypes.c_ubyte),
            ctypes.POINTER(ctypes.c_longlong),
            ctypes.POINTER(ctypes.c_longlong), ctypes.c_long,
            ctypes.POINTER(ctypes.c_longlong)]
        lib.dod_decode_rows.restype = ctypes.c_long
        lib.dod_value_at_rows_vec.argtypes = [
            ctypes.POINTER(ctypes.c_ubyte),
            ctypes.POINTER(ctypes.c_longlong), ctypes.c_long,
            ctypes.POINTER(ctypes.c_longlong),
            ctypes.POINTER(ctypes.c_longlong),
            ctypes.POINTER(ctypes.c_ubyte)]
        lib.dod_value_at_rows_vec.restype = ctypes.c_long
        lib.png_unfilter.argtypes = [
            ctypes.POINTER(ctypes.c_ubyte), ctypes.c_long, ctypes.c_long,
            ctypes.POINTER(ctypes.c_ubyte)]
        lib.png_unfilter.restype = ctypes.c_long
        _lib = lib
    except Exception:
        _lib = None
    return _lib


def _dp(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_double))


def ws2d_rows_c(Y: np.ndarray, lam: np.ndarray, W: np.ndarray,
                Z: np.ndarray, work: np.ndarray) -> None:
    """Blocked (8-row vector) solve; bit-identical scalar row loop as the
    fallback when the blocked form cannot allocate its transpose
    scratch."""
    lib = get_lib()
    R, n = Y.shape
    if lib.ws2d_rows_blk(_dp(Y), _dp(lam), _dp(W), _dp(Z), n, R) != 0:
        lib.ws2d_rows(_dp(Y), _dp(lam), _dp(W), _dp(Z), _dp(work), n, R)


def envelope_rows_c(Y: np.ndarray, lam: np.ndarray, W: np.ndarray, p: float,
                    z: np.ndarray, ww: np.ndarray, work: np.ndarray) -> None:
    lib = get_lib()
    R, n = Y.shape
    if lib.envelope_rows_blk(_dp(Y), _dp(lam), _dp(W), ctypes.c_double(p),
                             _dp(z), _dp(ww), n, R) != 0:
        lib.envelope_rows(_dp(Y), _dp(lam), _dp(W), ctypes.c_double(p),
                          _dp(z), _dp(ww), _dp(work), n, R)


def vcurve_sweep_c(Y: np.ndarray, W: np.ndarray, lams: np.ndarray,
                   p: float | None):
    """Raw V-curve sums for every lambda row of ``lams`` (nl, R), in one
    call: (fit, pen), each (nl, R), with fit = sum((w*(y-z))^2) and
    pen = sum((diff2 z)^2) summed in np.sum's order.  ``p`` runs the
    envelope loop with z carried across lambdas; None solves plainly.
    None when the sweep cannot allocate its scratch."""
    lib = get_lib()
    R, n = Y.shape
    nl = lams.shape[0]
    fit = np.empty((nl, R))
    pen = np.empty((nl, R))
    if lib.vcurve_sweep(_dp(Y), _dp(W), _dp(lams), nl,
                        ctypes.c_double(0.0 if p is None else p),
                        0 if p is None else 1, _dp(fit), _dp(pen), n, R,
                        np.getbufsize()) != 0:
        return None
    return fit, pen


def png_unfilter_c(raw: bytes, h: int, w: int) -> np.ndarray | None:
    """Unfilter PNG scanlines in C.  None when the lib is unavailable
    (callers keep the pure-Python path); raises on an unknown filter."""
    lib = get_lib()
    if lib is None:
        return None
    buf = np.frombuffer(raw, dtype=np.uint8)
    px = np.empty((h, w), dtype=np.uint8)
    up = ctypes.POINTER(ctypes.c_ubyte)
    rc = lib.png_unfilter(buf.ctypes.data_as(up), h, w,
                          px.ctypes.data_as(up))
    if rc != 0:
        raise ValueError(f"unknown filter (rc={rc})")
    return px
