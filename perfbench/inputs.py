"""Seeded inputs.  The engine only ever sees what these functions
generate; the seed picks id ranges, batch keys, export dates and query
order, never a code path.  The operator queries instead read fixed,
byte-identical copies of the sf0.01 synthetic test tables (TESTDATA.md)
kept under ``perfbench/data/sf0.01``."""

from __future__ import annotations

import os

import numpy as np


def id_start(seed: int) -> int:
    """First sequence id of a run: disjoint million-id blocks per seed."""
    return (int(seed) % 100_000) * 1_000_000


def local_rows(ids: np.ndarray):
    """Driver-side copy of the sequences rows for ``ids`` (any order),
    built from the same stateless generator the Spark source uses."""
    import pandas as pd

    from modape_spark.fixtures import gen_tokens_block, row_lengths, row_sources

    ids = np.asarray(ids, dtype=np.int64)
    lens = row_lengths(ids)
    tokens = np.empty(ids.size, dtype=object)
    for n in np.unique(lens):
        sel = np.where(lens == n)[0]
        block = gen_tokens_block(ids[sel], int(n))
        for j, r in enumerate(sel):
            tokens[r] = block[j]
    return pd.DataFrame({
        "doc_id": [f"doc{i:012d}" for i in ids],
        "tokens": tokens,
        "n_tok": lens.astype(np.int32),
        "source": row_sources(ids),
    })


def write_raw_table(spark, path: str, n_rows: int, start: int,
                    n_buckets: int) -> None:
    """Bucket-partitioned raw sequences table (the catalog layout
    ``materialize_rollup(pre_bucketed=True)`` reads), one file per
    bucket."""
    from pyspark.sql import functions as F

    from modape_spark.sources.sequences import sequences_df
    from modape_spark.tiers import with_bucket

    with_bucket(sequences_df(spark, n_rows, start=start), n_buckets) \
        .repartition(n_buckets, F.col("bucket")) \
        .write.mode("overwrite").partitionBy("bucket").parquet(path)


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs
               if f.endswith(suffix))


def suffix_batch(rng: np.random.Generator, ids: np.ndarray,
                 n_tok: np.ndarray, batch_id: int):
    """A 2-token suffix per key in ``ids``, starting at each key's current
    logical length (the append watermark)."""
    import pandas as pd

    tok = rng.integers(-2000, 10000, size=(ids.size, 2)).astype(np.int16)
    tok[rng.random((ids.size, 2)) < 0.1] = -3000
    return pd.DataFrame({
        "doc_id": [f"doc{i:012d}" for i in ids],
        "batch_id": np.full(ids.size, f"b{batch_id}"),
        "proc_ts": np.full(ids.size, batch_id + 1, dtype=np.int64),
        "tokens_suffix": list(tok),
        "start_offset": n_tok.astype(np.int32),
    })


BATCH_SCHEMA = ("doc_id string, batch_id string, proc_ts long, "
                "tokens_suffix array<smallint>, start_offset int")

