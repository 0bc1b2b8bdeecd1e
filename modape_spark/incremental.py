"""Incremental append/update semantics (the reference's streaming contract).

Reproduces modis_collect's update path and modis_smooth's windowed forward
run (SURVEY.md §2.8) on DataFrames:

- ST1 append-only watermark: new batches must be strictly AFTER stored data;
  late/out-of-order batches are rejected, not merged
  (/root/reference/modape/modis/collect.py:362-370)
- J3 duplicate resolution: among conflicting batches for the same key/offset,
  the latest processing timestamp wins (collect.py:106-142)
- ST2/ST3 nsmooth/nupdate: recompute only the trailing ``nsmooth`` raw
  points, rewrite only the trailing ``nupdate`` output points
  (smooth.py:305,336-352; io.py:108-122,189-202)

Batch table shape (FIXTURES.md §4): ``(doc_id, batch_id, proc_ts,
tokens_suffix array<smallint>, start_offset int)`` where start_offset is the
position in the full series at which the suffix begins (the date-axis
watermark in positional form — position k <-> a julian date, grids.py).
``tokens_suffix`` has the raw table's smallint element type; an
``array<int>`` batch is accepted, and ``concat``'s type coercion then widens
the appended ``tokens`` to ``array<int>``.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .constants import STRES_DEKAD, STRES_PENTAD
from .rollup import SmoothConfig
from .tiers import rollup_dataframe

__all__ = [
    "LateDataError",
    "dedup_batches",
    "validate_append",
    "append_suffixes",
    "incremental_rollup",
    "interleave_sources",
    "watermarks",
]


def interleave_sources(df_a: DataFrame, df_b: DataFrame,
                       min_offset: int = 0) -> DataFrame:
    """J2: interleave two batch streams into one series, as the reference
    merges MOD+MYD 16-day satellites into one 8-day MXD series
    (collect.py:159-189): union + epoch cut (positions before ``min_offset``
    dropped — the Aqua-epoch filter) + J3 latest-timestamp dedup per
    (doc_id, start_offset)."""
    merged = df_a.unionByName(df_b).filter(F.col("start_offset") >= min_offset)
    return dedup_batches(merged)


def watermarks(raw_df: DataFrame) -> DataFrame:
    """W4 last_collected analogue: the resume/idempotency watermark per
    source — max stored position + row count (smooth.py:522-546 reads the
    trailing date; ours is positional)."""
    return raw_df.groupBy("source").agg(
        F.max("n_tok").alias("max_position"),
        F.min("n_tok").alias("min_position"),
        F.count("*").alias("n_docs"),
    )


class LateDataError(ValueError):
    """Raised when an update batch is not strictly after stored data
    (collect.py:367-370: 'Files to be collected need to be sequential')."""


def dedup_batches(batches: DataFrame) -> DataFrame:
    """J3/W2: latest proc_ts wins per (doc_id, start_offset)
    (collect.py:106-142)."""
    w = Window.partitionBy("doc_id", "start_offset").orderBy(
        F.desc("proc_ts"), F.desc("batch_id")
    )
    return (
        batches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def validate_append(raw_df: DataFrame, batches: DataFrame) -> DataFrame:
    """ST1: every suffix must start exactly at the stored watermark
    (n_tok); anything earlier is late data -> reject the whole batch, as the
    reference refuses out-of-order collects.

    Scale shape: the batch key set (the small side of any append) is
    BROADCAST against the stored table, so the 10^12-key raw side is
    scanned once — column-pruned to (doc_id, n_tok) — and never shuffled.
    The happy path is a single inner broadcast-hash-join + one partial
    aggregation; offender samples are only materialized on the error path.
    Returns the joined keys DataFrame so tests can assert the plan shape.
    """
    stored = raw_df.select("doc_id", "n_tok")
    b = batches.select("doc_id", "start_offset")
    joined = stored.join(F.broadcast(b), "doc_id")  # inner: BuildRight bcast
    mismatch = F.col("start_offset") != F.col("n_tok")
    # ONE action for both checks: the join stats and the batch count are
    # unioned into a single 2-row job instead of two serial driver actions
    # (two jobs measured ~2x the latency on the windowed-forward path;
    # guide §5 — keep driver round trips off the hot path).  The final agg
    # collapses the union so row order never matters.
    stats = (
        joined.agg(
            F.count("*").alias("matched"),
            F.sum(mismatch.cast("long")).alias("n_bad"),
            F.lit(None).cast("long").alias("n_batches"),
        )
        .unionByName(b.agg(
            F.lit(None).cast("long").alias("matched"),
            F.lit(None).cast("long").alias("n_bad"),
            F.count("*").alias("n_batches"),
        ))
        .agg(F.max("matched").alias("matched"),
             F.max("n_bad").alias("n_bad"),
             F.max("n_batches").alias("n_batches"))
        .collect()[0]
    )
    if stats["n_bad"]:
        sample = joined.filter(mismatch).limit(5).collect()
        raise LateDataError(
            "non-sequential update batches (late or gapped data rejected, "
            f"collect.py:367-370 semantics); first offenders: {sample}"
        )
    if stats["matched"] != stats["n_batches"]:
        missing = (
            b.join(joined.select("doc_id"), "doc_id", "left_anti")
            .limit(5).collect()
        )
        raise LateDataError(
            "update batches for unknown doc_ids (no stored series to append "
            f"to); first offenders: {missing}"
        )
    return joined


def append_suffixes(raw_df: DataFrame, batches: DataFrame,
                    validate: bool = True) -> DataFrame:
    """Merge deduplicated suffix batches onto the raw table
    (collect.py:332-438 update path): tokens <- tokens || suffix.

    Returns the updated raw DataFrame (caller persists it — with Iceberg
    this is a MERGE INTO; with parquet tables an overwrite of the affected
    buckets).
    """
    b = dedup_batches(batches)
    # The deduped batch side (small by contract — it is broadcast below)
    # is otherwise re-computed per consumer: validation's broadcast build,
    # its count, and the final append join each re-ran the dedup window
    # (3 window shuffles measured on the forward path).  Persist it via
    # the entry-query cache tracker so _release_caches() frees it at the
    # next query; plain library callers just hold a small cached DF.
    try:
        from .entry_queries import _track_cache
    except ImportError:
        pass
    else:
        b = _track_cache(b)
    if validate:
        validate_append(raw_df, b)
    b = b.select("doc_id", F.col("tokens_suffix"))
    # suffix batches are the small side of any append: broadcast them so the
    # stored table is never shuffled (left-outer + BuildRight broadcast)
    joined = raw_df.join(F.broadcast(b), "doc_id", "left")
    return (
        joined.withColumn(
            "tokens",
            F.when(
                F.col("tokens_suffix").isNotNull(),
                F.concat(F.col("tokens"), F.col("tokens_suffix")),
            ).otherwise(F.col("tokens")),
        )
        # LOGICAL length advances by the suffix size.  (Not size(tokens):
        # on a retention-trimmed table — retention.py — the stored array
        # is a suffix of the logical series and n_tok is the date-axis
        # identity; for untrimmed tables the two are identical since
        # n_tok == size(tokens) held before the append.)
        .withColumn(
            "n_tok",
            F.when(F.col("tokens_suffix").isNotNull(),
                   F.col("n_tok") + F.size("tokens_suffix"))
            .otherwise(F.col("n_tok")).cast("int"),
        )
        .drop("tokens_suffix")
    )


def incremental_rollup(
    updated_raw: DataFrame,
    nsmooth: int,
    nupdate: int,
    cfg: SmoothConfig | None = None,
) -> DataFrame:
    """Forward run: smooth only the trailing ``nsmooth`` raw points and emit
    only the trailing ``nupdate`` points per tier (smooth.py:336-352).

    The heavy lifting happens inside the same rollup UDF with a windowed
    config; the output is the recomputed TAIL, to be spliced onto existing
    tier arrays by merge_tier_tail().  nsmooth bounds state like a sliding
    window: a 10^12-sequence forward run reads only nsmooth points per key.
    """
    if nsmooth and nupdate and nsmooth < nupdate:
        raise ValueError("nsmooth must be >= nupdate (scripts/modis_smooth.py:142-144)")
    base = cfg or SmoothConfig(soptimize=True, p=0.90, tempint=(STRES_DEKAD, STRES_PENTAD))
    wcfg = replace(base, nsmooth=nsmooth, nupdate=nupdate)
    return rollup_dataframe(updated_raw, wcfg)


def merge_tier_tail(
    existing: DataFrame,
    tail: DataFrame,
    value_col: str,
    nupdate: int,
    total_col: str | None = None,
    nodata: int = -3000,
) -> DataFrame:
    """ST3 update-tail materialization: splice the recomputed trailing
    ``nupdate`` points onto the stored tier arrays (io.py:189-202 semantics,
    xoffset write).

    When the target grid grew (appended tokens extend the dekad/pentad
    axis), the stored array is first padded with nodata to the new total
    length — the analogue of the reference's dataset resize with fillvalue
    (smooth.py:322-333) — using ``total_col`` from the recomputed tail.

    Expressed relationally so Iceberg MERGE INTO can take over when a real
    catalog is attached; with parquet tables this feeds an overwrite of the
    affected buckets.
    """
    u = int(nupdate)
    sel = ["doc_id", F.col(value_col).alias("_tail")]
    if total_col:
        sel.append(F.col(total_col).alias("_total"))
    t = tail.select(*sel)
    joined = existing.join(t, "doc_id", "left")
    if total_col:
        padded = F.expr(
            f"concat({value_col}, array_repeat({int(nodata)}, "
            f"greatest(_total - size({value_col}), 0)))"
        )
    else:
        padded = F.col(value_col)
    spliced = F.when(
        F.col("_tail").isNull(), F.col(value_col)
    ).otherwise(
        F.concat(
            # retained prefix of the (grid-resized) stored array ...
            F.expr(f"slice(_padded, 1, size(_padded) - {u})"),
            # ... plus the LAST nupdate recomputed points of the tail
            F.expr(f"slice(_tail, size(_tail) - {u} + 1, {u})"),
        )
    )
    out = (
        joined.withColumn("_padded", padded)
        .withColumn(value_col, spliced)
        .drop("_tail", "_padded")
    )
    return out.drop("_total") if total_col else out
