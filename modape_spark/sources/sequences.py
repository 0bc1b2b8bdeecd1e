"""Distributed source for the synthetic ``sequences`` table.

Spark analogue of the reference's granule ingest (modis_collect,
/root/reference/modape/modis/collect.py) with the driver-synthesized input
mandated by BASELINE.json: each ``spark.range`` partition generates its own
rows via the stateless hash in fixtures.py, so the table is identical for
any partition count — generation is embarrassingly parallel, shuffle-free,
and reproducible (the property the resume/oracle tests rely on).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..fixtures import gen_tokens_block, local_sequences, row_lengths, row_sources

# tokens are smallint: values lie in the VIM valid range [-2000, 10000]
# (fixtures.gen_tokens_block clips there) plus the -3000 nodata sentinel,
# so int16 holds every value exactly.  Half-width tokens halve the
# JVM->Python Arrow feed of every kernel pass — the headline's measured
# fixed feed cost dropped ~2x in a feed-only A/B (1.95 s -> 0.92 s warm
# at 100k rows) — while parquet size is unchanged (bit-packed either
# way).  Kernel math is unaffected: the kernel widens to float64 on entry
# (tiers._rollup_core), and SQL aggregates over tokens accumulate in
# bigint as before.
SEQUENCES_SCHEMA = ("doc_id string, tokens array<smallint>, n_tok int, "
                    "source string")


def _gen_partition(batches) -> Iterator:
    """Arrow-native generation: token blocks scatter into one contiguous
    (values, offsets) buffer per batch — the same zero-object boundary
    the rollup kernel uses (tiers.py), so neither generation nor feed
    ever materializes a per-row array object."""
    import pyarrow as pa

    for batch in batches:
        if not batch.num_rows:
            continue
        ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        lens = row_lengths(ids).astype(np.int64)
        srcs = row_sources(ids)
        off = np.zeros(ids.size + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        flat = np.empty(int(off[-1]), dtype=np.int16)
        for n in np.unique(lens):
            sel = np.where(lens == n)[0]
            n = int(n)
            block = gen_tokens_block(ids[sel], n)
            idx = (off[:-1][sel][:, None] + np.arange(n)).ravel()
            flat[idx] = block.ravel()
        # np.char.zfill TRUNCATES strings longer than its width, so it is
        # only applied where padding is actually needed; ids >= 10^12
        # keep their natural digits — f"{i:012d}" semantics, collision-free
        # at any int64 id
        s = ids.astype("U19")
        doc_id = np.char.add("doc", np.where(np.char.str_len(s) >= 12, s,
                                             np.char.zfill(s, 12)))
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_id),
             pa.ListArray.from_arrays(pa.array(off.astype(np.int32)),
                                      pa.array(flat)),
             pa.array(lens.astype(np.int32)),
             pa.array(srcs)],
            names=["doc_id", "tokens", "n_tok", "source"])


def sequences_df(
    spark: SparkSession,
    n_rows: int,
    partitions: int | None = None,
    start: int = 0,
) -> DataFrame:
    """Synthesize the sequences table as a distributed DataFrame."""
    if partitions is None:
        cores = spark.sparkContext.defaultParallelism
        # ~3 task waves per core slot keep the straggler tail short while
        # tasks stay >= ~1024 rows — fewer, fuller tasks beat many small
        # ones here (measured 8.0 s vs 10.7 s at 25k rows: per-task python
        # feed overhead outweighs the extra parallelism)
        partitions = max(1, min(3 * cores, max(n_rows // 1024, 1)))
    rng = spark.range(start, start + n_rows, 1, partitions)
    return rng.mapInArrow(_gen_partition, SEQUENCES_SCHEMA)


def sequences_local_pandas(n_rows: int, start: int = 0) -> pd.DataFrame:
    """Driver-side identical copy, for oracle comparisons in tests."""
    cols = local_sequences(n_rows, start)
    return pd.DataFrame(cols)
