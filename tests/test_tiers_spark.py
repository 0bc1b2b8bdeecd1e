"""Spark tier materialization vs the identical-code local oracle.

The contract (BASELINE.json north_rule): reconstructed token arrays at every
tier equal the oracle's EXACTLY.  Because the UDF body IS the oracle
(rollup.process_length_group), this test proves the Spark plumbing —
Arrow round-trip, batching, length grouping, partitioning — changes nothing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modape_spark.compression import decode_dod
from modape_spark.rollup import SmoothConfig, process_length_group
from modape_spark.sources.sequences import sequences_df, sequences_local_pandas
from modape_spark.tiers import (
    materialize_rollup,
    rollup_dataframe,
    tier_view,
    with_bucket,
    write_tier_tables,
)

N_ROWS = 300
CFG = SmoothConfig(soptimize=True, p=0.90, tempint=(10, 5))


@pytest.fixture(scope="module")
def oracle():
    pdf = sequences_local_pandas(N_ROWS)
    out = {}
    lens = pdf["n_tok"].to_numpy()
    tok = pdf["tokens"].to_numpy()
    for n in np.unique(lens):
        sel = np.where(lens == n)[0]
        Y = np.stack(list(tok[sel])).astype(np.float64)
        res = process_length_group(Y, int(n), CFG)
        for j, r in enumerate(sel):
            out[pdf["doc_id"].iloc[r]] = {
                "smoothed": res.smoothed[j],
                "dekad": res.interp[10][j],
                "pentad": res.interp[5][j],
                "sopt": res.sopt_log10[j],
                "covered": bool(res.covered[j]),
            }
    return out


@pytest.fixture(scope="module")
def rolled_rows(spark):
    df = rollup_dataframe(sequences_df(spark, N_ROWS, partitions=7), CFG)
    return {r["doc_id"]: r for r in df.collect()}


def test_source_generation_matches_local(spark):
    got = sequences_df(spark, 50, partitions=5).orderBy("doc_id").collect()
    exp = sequences_local_pandas(50)
    assert len(got) == 50
    for i, row in enumerate(got):
        assert row["doc_id"] == exp["doc_id"].iloc[i]
        assert row["n_tok"] == exp["n_tok"].iloc[i]
        assert row["source"] == exp["source"].iloc[i]
        assert np.array_equal(np.array(row["tokens"]), exp["tokens"].iloc[i])


def test_tokens_fit_int16_with_exact_sentinel(spark):
    """Every generated token is in the VIM valid range [-2000, 10000] or
    is the -3000 nodata sentinel, so the smallint ``tokens`` column holds
    each value exactly and the kernel's float nodata test still matches
    the sentinel after the round trip through int16."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ShortType

    from modape_spark.constants import NODATA
    from modape_spark.fixtures import LENGTHS, gen_tokens_block

    assert float(np.int16(NODATA)) == NODATA
    ids = np.arange(2000, dtype=np.int64)
    for n in LENGTHS:
        block = gen_tokens_block(ids, n)
        in_range = (block >= -2000) & (block <= 10000)
        assert (in_range | (block == NODATA)).all(), n
        assert (block == NODATA).any(), n
        assert np.array_equal(block.astype(np.int16), block), n

    rows = 400
    df = sequences_df(spark, rows, partitions=3)
    assert df.schema["tokens"].dataType.elementType == ShortType()
    t = F.col("t")
    got = df.select(F.explode("tokens").alias("t")).agg(
        F.count(F.when(t == int(NODATA), 1)).alias("sentinel"),
        F.count(F.when((t != int(NODATA)) & ((t < -2000) | (t > 10000)),
                       1)).alias("outside"),
    ).collect()[0]
    local = np.concatenate(list(sequences_local_pandas(rows)["tokens"]))
    assert got["outside"] == 0
    assert got["sentinel"] == int((local == NODATA).sum()) > 0


def test_partition_count_invariance(spark):
    a = sequences_df(spark, 40, partitions=2).orderBy("doc_id").collect()
    b = sequences_df(spark, 40, partitions=11).orderBy("doc_id").collect()
    for ra, rb in zip(a, b):
        assert ra == rb


def test_all_tiers_exact_vs_oracle(rolled_rows, oracle):
    assert len(rolled_rows) == N_ROWS
    n_match = 0
    for doc_id, row in rolled_rows.items():
        exp = oracle[doc_id]
        assert row["covered"] == exp["covered"], doc_id
        assert np.array_equal(np.array(row["smoothed"]), exp["smoothed"]), doc_id
        assert np.array_equal(np.array(row["dekad"]), exp["dekad"]), doc_id
        assert np.array_equal(np.array(row["pentad"]), exp["pentad"]), doc_id
        if exp["covered"]:
            assert row["sopt_log10"] == pytest.approx(float(exp["sopt"]), abs=0)
        n_match += 1
    assert n_match == N_ROWS  # tier-exact match rate 100%


def test_compressed_payloads_roundtrip(rolled_rows, oracle):
    for doc_id, row in rolled_rows.items():
        exp = oracle[doc_id]
        assert np.array_equal(decode_dod(bytes(row["smoothed_dod"])), exp["smoothed"])
        assert np.array_equal(decode_dod(bytes(row["dekad_dod"])), exp["dekad"])


def test_materialize_partitioned_and_tier_views(spark, tmp_path):
    out = str(tmp_path / "combined")
    materialize_rollup(sequences_df(spark, 120, partitions=4), out, CFG, n_buckets=8)
    df = spark.read.parquet(out)
    assert df.count() == 120
    assert set(df.select("bucket").distinct().toPandas()["bucket"]) <= set(range(8))
    sm = tier_view(spark, out, "smoothed")
    assert sm.count() == 120
    assert "dekad" not in sm.columns
    tiers = write_tier_tables(spark, out, str(tmp_path / "tiers"), ("dekad",))
    dk = spark.read.parquet(tiers["dekad"])
    assert dk.count() == 120


def test_bucket_filter_prunes_input(spark, tmp_path):
    out = str(tmp_path / "partial")
    raw = sequences_df(spark, 100, partitions=4)
    materialize_rollup(raw, out, CFG, n_buckets=4, bucket_filter=[0, 1])
    got = spark.read.parquet(out)
    assert set(got.select("bucket").distinct().toPandas()["bucket"]) <= {0, 1}
    expected = with_bucket(raw, 4).filter("bucket in (0,1)").count()
    assert got.count() == expected


def test_sgrid_state_reuse(spark):
    """ST5: persisted sopt consumed by a fixed-from-grid run (smooth.py:430)."""
    raw = sequences_df(spark, 60, partitions=3)
    first = rollup_dataframe(raw, SmoothConfig(soptimize=True, tempint=()))
    state = first.select("doc_id", "sopt_log10")
    joined = raw.join(state, "doc_id")  # bucket-colocatable in table form
    second = rollup_dataframe(joined, SmoothConfig(soptimize=False, svalue=None, tempint=()))
    rows = {r["doc_id"]: r for r in second.collect()}
    frows = {r["doc_id"]: r for r in first.collect()}
    # fixed-from-grid smoothing at the optimized lambda reproduces the
    # symmetric smooth of the optimizing run
    for doc_id, r in rows.items():
        if frows[doc_id]["covered"]:
            a = np.array(r["smoothed"])
            b = np.array(frows[doc_id]["smoothed"])
            # same lambda, same solver -> identical ints
            assert np.array_equal(a, b), doc_id


def test_export_tier_slice(spark, tmp_path):
    from modape_spark.tiers import export_tier_slice

    out = str(tmp_path / "exp")
    materialize_rollup(sequences_df(spark, 40, partitions=2), out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,)),
                       n_buckets=4)
    sl = export_tier_slice(spark, out, "dekad", 1)
    rows = sl.collect()
    assert len(rows) == 40
    assert {"doc_id", "source", "value"} == set(sl.columns)


def test_export_tier_slice_clip_valid(spark, tmp_path):
    """P3 export-time valid-range clip (window.py:382-384): values clipped
    into [vmin, vmax] EXCEPT nodata sentinels, which pass through."""
    from modape_spark.tiers import export_tier_slice

    out = str(tmp_path / "expc")
    materialize_rollup(sequences_df(spark, 40, partitions=2), out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,)),
                       n_buckets=4)
    raw = {r["doc_id"]: r["value"]
           for r in export_tier_slice(spark, out, "dekad", 1).collect()}
    vmin, vmax = 0, 120
    clipped = {r["doc_id"]: r["value"]
               for r in export_tier_slice(spark, out, "dekad", 1,
                                          clip_valid=(vmin, vmax)).collect()}
    assert set(raw) == set(clipped)
    for k, v in raw.items():
        want = v if v == -3000 else min(max(v, vmin), vmax)
        assert clipped[k] == want, (k, v, clipped[k])
    # the clip actually binds somewhere (tokens exceed 120 in the fixture)
    assert any(v != raw[k] for k, v in clipped.items())


def test_compact_tier_roundtrip_and_size(spark, tmp_path):
    """Compact (dod-only) tier tables reconstruct the EXACT integer arrays
    through the C bit reader and are materially smaller on disk."""
    import os

    from modape_spark.tiers import (
        materialize_rollup,
        read_tier_compact,
        tier_view,
        write_tier_tables,
    )

    comb = str(tmp_path / "comb")
    materialize_rollup(sequences_df(spark, 60, partitions=2), comb,
                       SmoothConfig(soptimize=False, svalue=1.0,
                                    tempint=(10,)),
                       n_buckets=4)
    plain = write_tier_tables(spark, comb, str(tmp_path / "plain"),
                              tiers=("dekad",))
    compact = write_tier_tables(spark, comb, str(tmp_path / "compact"),
                                tiers=("dekad",), compact=True)

    want = {r["doc_id"]: list(r["dekad"])
            for r in tier_view(spark, comb, "dekad").collect()}
    got = {r["doc_id"]: list(r["dekad"])
           for r in read_tier_compact(spark, compact["dekad"], "dekad").collect()}
    assert got == want  # exact token equality through encode->disk->decode

    def du(path):
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(path) for f in fs)

    assert du(compact["dekad"]) < 0.7 * du(plain["dekad"])


def test_export_compact_slice_matches_plain(spark, tmp_path):
    """Per-date export from the compact table (prefix decode) equals the
    plain-array export at every probe position, clip included."""
    from modape_spark.tiers import (
        export_compact_slice,
        export_tier_slice,
        materialize_rollup,
        write_tier_tables,
    )

    comb = str(tmp_path / "comb")
    materialize_rollup(sequences_df(spark, 50, partitions=2), comb,
                       SmoothConfig(soptimize=False, svalue=1.0,
                                    tempint=(10,)),
                       n_buckets=4)
    compact = write_tier_tables(spark, comb, str(tmp_path / "c"),
                                tiers=("dekad",), compact=True)["dekad"]
    # 999 probes past every stored array: both paths must yield NULL
    for pos, clip in ((1, None), (7, None), (3, (0, 120)), (999, None)):
        want = {r["doc_id"]: r["value"]
                for r in export_tier_slice(spark, comb, "dekad", pos,
                                           clip_valid=clip).collect()}
        got = {r["doc_id"]: r["value"]
               for r in export_compact_slice(spark, compact, "dekad", pos,
                                             clip_valid=clip).collect()}
        assert got == want, (pos, clip)


def test_bucket_filter_prunes_partitioned_input(spark, tmp_path):
    """Resume over a bucket-partitioned raw table prunes partition dirs at
    the scan (PartitionFilters) AND produces the identical tier rows as
    the hash-recompute path over unpartitioned input."""
    from pyspark.sql import functions as F

    from modape_spark.tiers import materialize_rollup, with_bucket

    raw_flat = str(tmp_path / "flat")
    raw_bkt = str(tmp_path / "bkt")
    df = sequences_df(spark, 60, partitions=2)
    df.write.parquet(raw_flat)
    with_bucket(df, 4).write.partitionBy("bucket").parquet(raw_bkt)

    cfg = SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,))
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    materialize_rollup(spark.read.parquet(raw_flat), out_a, cfg,
                       n_buckets=4, bucket_filter=[1, 3])
    materialize_rollup(spark.read.parquet(raw_bkt), out_b, cfg,
                       n_buckets=4, bucket_filter=[1, 3])
    rows_a = {r["doc_id"]: list(r["dekad"])
              for r in spark.read.parquet(out_a).collect()}
    rows_b = {r["doc_id"]: list(r["dekad"])
              for r in spark.read.parquet(out_b).collect()}
    assert rows_a == rows_b and rows_a

    # the partitioned path must prune at the scan
    pruned = spark.read.parquet(raw_bkt).filter(F.col("bucket").isin([1, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]


def test_export_tier_date_matches_position_and_nulls(spark, tmp_path):
    """Date export resolves per-length grid positions: an early dekad
    date shared by every length equals the position-1 slice; a late date
    beyond the short grids yields values for long rows and NULL for the
    rest; both compact and plain paths agree."""
    from modape_spark.grids import grid_for_length
    from modape_spark.tiers import (
        export_compact_date,
        export_tier_date,
        export_tier_slice,
        write_tier_tables,
    )

    out = str(tmp_path / "exp")
    raw = sequences_df(spark, 120, partitions=2)
    materialize_rollup(raw, out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,)),
                       n_buckets=4)

    # every length's dekad grid starts 2002186 -> identical to position 1
    by_date = {r["doc_id"]: r["value"]
               for r in export_tier_date(spark, out, "dekad", "2002186").collect()}
    by_pos = {r["doc_id"]: r["value"]
              for r in export_tier_slice(spark, out, "dekad", 1).collect()}
    assert by_date == by_pos and len(by_date) == 120

    # a date only the length-742 grid contains
    late = grid_for_length(742, 10).target_dates[200]
    lens = {r["doc_id"]: r["n_tok"] for r in
            spark.read.parquet(out).select("doc_id", "n_tok").collect()}
    got = {r["doc_id"]: r["value"]
           for r in export_tier_date(spark, out, "dekad", late).collect()}
    pos742 = grid_for_length(742, 10).target_dates.index(late) + 1
    want742 = {r["doc_id"]: r["value"] for r in
               export_tier_slice(spark, out, "dekad", pos742).collect()}
    for d, v in got.items():
        if lens[d] == 742:
            assert v == want742[d], d
        else:
            assert v is None, d

    # compact path agrees with the plain path on both dates
    compact = write_tier_tables(spark, out, str(tmp_path / "tiers"),
                                tiers=("dekad",), compact=True)["dekad"]
    for date in ("2002186", late):
        plain = {r["doc_id"]: r["value"] for r in
                 export_tier_date(spark, out, "dekad", date).collect()}
        comp = {r["doc_id"]: r["value"] for r in
                export_compact_date(spark, compact, "dekad", date).collect()}
        assert comp == plain, date


def test_export_tier_range_one_dir_per_date(spark, tmp_path):
    """Range export == union of per-date exports, keyed by date; rows
    whose grid lacks an in-range date are absent for that date (inner
    join), matching the reference's per-date raster semantics."""
    from modape_spark.tiers import export_tier_date, export_tier_range

    out = str(tmp_path / "exp")
    materialize_rollup(sequences_df(spark, 80, partitions=2), out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,)),
                       n_buckets=4)
    begin, end = "2002186", "2002215"   # first three dekads of every grid
    rng = export_tier_range(spark, out, "dekad", begin, end)
    by_date = {}
    for r in rng.collect():
        by_date.setdefault(r["date"], {})[r["doc_id"]] = r["value"]
    assert sorted(by_date) == ["2002186", "2002196", "2002206"]
    for date, vals in by_date.items():
        single = {r["doc_id"]: r["value"] for r in
                  export_tier_date(spark, out, "dekad", date).collect()
                  if r["value"] is not None}
        assert vals == single, date


def test_export_compact_range_matches_plain(spark, tmp_path):
    from modape_spark.tiers import (
        export_compact_range,
        export_tier_range,
        write_tier_tables,
    )

    out = str(tmp_path / "exp")
    materialize_rollup(sequences_df(spark, 60, partitions=2), out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,)),
                       n_buckets=4)
    compact = write_tier_tables(spark, out, str(tmp_path / "tiers"),
                                tiers=("dekad",), compact=True)["dekad"]
    begin, end = "2002186", "2002215"
    plain = {(r["doc_id"], r["date"]): r["value"] for r in
             export_tier_range(spark, out, "dekad", begin, end).collect()}
    comp = {(r["doc_id"], r["date"]): r["value"] for r in
            export_compact_range(spark, compact, "dekad", begin, end).collect()}
    assert comp == plain and len(plain) == 180   # 60 docs x 3 dekads


def test_export_tier_range_plan_single_scan_broadcast(spark, tmp_path):
    """The range export is ONE file scan + a broadcast dim join no matter
    how many dates the range covers."""
    from modape_spark.tiers import export_tier_range

    out = str(tmp_path / "exp")
    materialize_rollup(sequences_df(spark, 40, partitions=2), out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,)),
                       n_buckets=4)
    df = export_tier_range(spark, out, "dekad", "2002186", "2003005")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") == 1


def test_export_compact_date_single_scan_plan(spark, tmp_path):
    """The compact calendar-date export is ONE scan regardless of how
    many distinct lengths the table holds (the per-row position vector
    replaces the old union of per-length filtered scans)."""
    from modape_spark.tiers import export_compact_date, write_tier_tables

    out = str(tmp_path / "exp")
    raw = sequences_df(spark, 120, partitions=2)  # mixed lengths 16/64/128/742
    materialize_rollup(raw, out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,)),
                       n_buckets=4)
    compact = write_tier_tables(spark, out, str(tmp_path / "tiers"),
                                tiers=("dekad",), compact=True)["dekad"]
    df = export_compact_date(spark, compact, "dekad", "2002186")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan


def test_export_compact_date_empty_table(spark, tmp_path):
    """An empty compact tier table exports as an empty DataFrame (the old
    per-length union raised IndexError on zero distinct lengths)."""
    from modape_spark.tiers import export_compact_date, write_tier_tables

    out = str(tmp_path / "exp")
    raw = sequences_df(spark, 40, partitions=2)
    materialize_rollup(raw, out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,)),
                       n_buckets=4)
    compact = write_tier_tables(spark, out, str(tmp_path / "tiers"),
                                tiers=("dekad",), compact=True)["dekad"]
    empty = spark.read.parquet(compact).filter("n_tok < 0")
    edir = str(tmp_path / "empty")
    empty.write.parquet(edir)
    got = export_compact_date(spark, edir, "dekad", "2002186")
    assert got.count() == 0
    assert got.columns == ["doc_id", "source", "value"]


def test_export_compact_range_smoothed_matches_plain(spark, tmp_path):
    """The compact range export supports the smoothed tier (raw rtres
    axis dates), matching the plain path row-for-row."""
    from modape_spark.tiers import (
        export_compact_range,
        export_tier_range,
        write_tier_tables,
    )

    out = str(tmp_path / "exp")
    materialize_rollup(sequences_df(spark, 60, partitions=2), out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=()),
                       n_buckets=4)
    compact = write_tier_tables(spark, out, str(tmp_path / "tiers"),
                                tiers=("smoothed",), compact=True)["smoothed"]
    begin, end = "2002185", "2002225"   # first six raw dates
    plain = {(r["doc_id"], r["date"]): r["value"] for r in
             export_tier_range(spark, out, "smoothed", begin, end).collect()}
    comp = {(r["doc_id"], r["date"]): r["value"] for r in
            export_compact_range(spark, compact, "smoothed", begin, end).collect()}
    assert comp == plain and plain


def test_lengths_meta_sidecar(spark, tmp_path):
    """materialize/write_tier_tables persist the distinct lengths as a
    `_`-prefixed sidecar; table_lengths serves from it (no Spark job),
    falls back to the distinct probe when absent, and exports stay
    correct either way."""
    import json
    import os

    from modape_spark.tiers import export_tier_date, table_lengths

    out = str(tmp_path / "exp")
    materialize_rollup(sequences_df(spark, 120, partitions=2), out,
                       SmoothConfig(soptimize=False, svalue=1.0, tempint=(10,)),
                       n_buckets=4)
    meta = os.path.join(out, "_modape_meta.json")
    assert os.path.exists(meta)
    real = sorted(r[0] for r in spark.read.parquet(out)
                  .select("n_tok").distinct().collect())
    assert table_lengths(spark, out) == real

    # prove the sidecar is the source: plant a marker set and read it back
    with open(meta, "w") as f:
        json.dump({"lengths": [7, 9]}, f)
    assert table_lengths(spark, out) == [7, 9]

    # fallback: remove the sidecar -> distinct probe
    os.remove(meta)
    assert table_lengths(spark, out) == real

    # export correctness with a restored (real) sidecar
    with open(meta, "w") as f:
        json.dump({"lengths": real}, f)
    got = {r["doc_id"]: r["value"] for r in
           export_tier_date(spark, out, "dekad", "2002186").collect()}
    assert len(got) == 120


def test_stale_sidecar_fails_loud(spark, tmp_path):
    """A sidecar MISSING a length the data contains must raise at export
    time, never silently drop that length's rows: the (n_tok, date, pos)
    dim joins inner, so without the guard a stale sidecar would make
    whole lengths vanish from range exports with no error anywhere."""
    import json
    import os

    from modape_spark.tiers import (export_compact_range, export_tier_date,
                                    export_tier_range, write_tier_tables)

    out = str(tmp_path / "stale")
    materialize_rollup(sequences_df(spark, 80, partitions=2), out,
                       SmoothConfig(soptimize=False, svalue=1.0,
                                    tempint=(10,)),
                       n_buckets=4)
    meta = os.path.join(out, "_modape_meta.json")
    real = sorted(r[0] for r in spark.read.parquet(out)
                  .select("n_tok").distinct().collect())
    assert len(real) > 1
    # plant a sidecar that lacks one REAL length
    with open(meta, "w") as f:
        json.dump({"lengths": real[:-1]}, f)
    with pytest.raises(Exception, match="lengths sidecar"):
        export_tier_range(spark, out, "dekad", "2002185", "2002365").collect()
    with pytest.raises(Exception, match="lengths sidecar"):
        export_tier_date(spark, out, "dekad", "2002186").collect()
    compact = write_tier_tables(spark, out, str(tmp_path / "stale_t"),
                                tiers=("dekad",), compact=True)["dekad"]
    cmeta = os.path.join(compact, "_modape_meta.json")
    with open(cmeta, "w") as f:
        json.dump({"lengths": real[:-1]}, f)
    with pytest.raises(Exception, match="lengths sidecar"):
        export_compact_range(spark, compact, "dekad",
                             "2002185", "2002365").collect()
    # restored sidecar: exports run clean again
    with open(meta, "w") as f:
        json.dump({"lengths": real}, f)
    assert export_tier_date(spark, out, "dekad", "2002186").count() == 80


def test_export_invalid_tier_raises_at_call_time(spark, tmp_path):
    """An unknown tier is a caller error and must raise ValueError BEFORE
    any Spark job runs (not a PythonException from inside an executor,
    and never a silent alias to the smoothed column)."""
    from modape_spark.tiers import (export_compact_date,
                                    export_compact_range,
                                    export_compact_slice, export_tier_date,
                                    export_tier_range, read_tier_compact)

    d = str(tmp_path / "nonexistent")
    for fn, args in [
        (export_tier_date, (spark, d, "weekly", "2002186")),
        (export_tier_range, (spark, d, "weekly", "2002185", "2002365")),
        (export_compact_date, (spark, d, "weekly", "2002186")),
        (export_compact_range, (spark, d, "weekly", "2002185", "2002365")),
        (export_compact_slice, (spark, d, "weekly", 1)),
        (read_tier_compact, (spark, d, "weekly")),
    ]:
        with pytest.raises(ValueError, match="weekly"):
            fn(*args)
