"""In-process, single-core costs of the kernel layers on a fixed seeded
block of 742-point sequences (the dominant row shape), in microseconds
per sequence.  No Spark: these time the module functions the rollup
worker calls, so a kernel change shows here before it shows in a build."""

from __future__ import annotations

import time
from dataclasses import replace

import numpy as np

from harness import median

PROBE_ROWS = 128
LENGTH = 742


def _block_ids(seed: int, rows: int) -> np.ndarray:
    from modape_spark.fixtures import row_lengths

    from inputs import id_start

    ids = np.arange(id_start(seed), id_start(seed) + 8 * rows, dtype=np.int64)
    return ids[row_lengths(ids) == LENGTH][:rows]


def arrow_batch(seed: int, rows: int = PROBE_ROWS):
    """The ``tokens``/``n_tok`` Arrow batch a rollup worker receives."""
    import pyarrow as pa

    from inputs import local_rows

    pdf = local_rows(_block_ids(seed, rows))
    flat = np.concatenate(pdf["tokens"].to_list()).astype(np.int16)
    off = np.zeros(len(pdf) + 1, dtype=np.int32)
    np.cumsum(pdf["n_tok"].to_numpy(), out=off[1:])
    return pa.RecordBatch.from_arrays(
        [pa.array(pdf["doc_id"]),
         pa.ListArray.from_arrays(pa.array(off), pa.array(flat)),
         pa.array(pdf["n_tok"].to_numpy()),
         pa.array(pdf["source"].to_list())],
        names=["doc_id", "tokens", "n_tok", "source"])


def _us_per_row(fn, rows: int, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return 1e6 * median(times) / rows


def calibrate_us(batch, reps: int = 3) -> float:
    """One compact-store kernel batch, microseconds per sequence: the host
    speed reference taken before and after every run."""
    from modape_spark.rollup import CFG_ALL
    from modape_spark.tiers import process_rollup_arrow

    return _us_per_row(
        lambda: process_rollup_arrow(batch, CFG_ALL, True, "compact"),
        batch.num_rows, reps)


def kernel_layers(seed: int, reps: int = 3) -> dict[str, float]:
    from modape_spark import kernels as K
    from modape_spark.compression import (
        decode_dod_rows,
        decode_dod_values_at,
        encode_dod_rows,
    )
    from modape_spark.constants import NODATA, STRES_DEKAD, STRES_PENTAD
    from modape_spark.rollup import (
        CFG_ALL,
        process_length_group,
        smooth_block,
        tinterpolate_multi,
    )
    from modape_spark.tiers import process_rollup_arrow

    batch = arrow_batch(seed)
    R = batch.num_rows
    Y = (batch.column(1).values.to_numpy().astype(np.float64)
         .reshape(R, LENGTH))
    Z, _, covered = smooth_block(Y, CFG_ALL)
    res = process_length_group(Y, LENGTH, CFG_ALL)
    blocks = [res.smoothed, res.interp[STRES_DEKAD], res.interp[STRES_PENTAD]]
    payloads = encode_dod_rows(res.smoothed)
    data = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    boffs = np.zeros(R + 1, dtype=np.int64)
    np.cumsum([len(p) for p in payloads], out=boffs[1:])
    ks = np.random.default_rng(seed).integers(1, LENGTH + 1, R)
    windowed = replace(CFG_ALL, nsmooth=16, nupdate=1)
    Yc = Y[covered]

    out = {
        "rollup.smooth_us": _us_per_row(
            lambda: smooth_block(Y, CFG_ALL), R, reps),
        "kernels.lag1corr_us": _us_per_row(
            lambda: K.lag1corr_batch(Yc, NODATA), R, reps),
        "rollup.interp_us": _us_per_row(
            lambda: tinterpolate_multi(Z, covered, LENGTH,
                                       (STRES_DEKAD, STRES_PENTAD)), R, reps),
        "compression.encode_us": _us_per_row(
            lambda: [encode_dod_rows(b) for b in blocks], R, reps),
        "tiers.batch_us": _us_per_row(
            lambda: process_rollup_arrow(batch, CFG_ALL, True, "compact"),
            R, reps),
        "rollup.window_us": _us_per_row(
            lambda: process_length_group(Y, LENGTH, windowed), R, reps),
        "compression.decode_us": _us_per_row(
            lambda: decode_dod_rows(data, boffs), R, reps),
        "compression.decode_at_us": _us_per_row(
            lambda: decode_dod_values_at(data, boffs, ks), R, reps),
        "rollup.covered_ratio": float(covered.mean()),
    }
    return out
