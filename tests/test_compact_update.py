"""Incremental tail splice INTO the compact (dod-only) store.

Contract: update_tier_compact is byte-equivalent to the plain-path
``merge_tier_tail`` (decode(spliced.dod) == merge(plain stored, tail) for
every row), unmatched rows' payload bytes pass through untouched, the
exports' grid keys (n_tok, tier totals) advance with the tail, and the
write-back form swaps the directory and refreshes the lengths sidecar.
Reference analogue: the forward-update write (io.py:189-202 xoffset,
smooth.py:322-333 grid resize) applied to the long-retention layout.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from modape_spark.compression import decode_dod
from modape_spark.incremental import (
    append_suffixes,
    incremental_rollup,
    merge_tier_tail,
)
from modape_spark.rollup import SmoothConfig
from modape_spark.sources.sequences import sequences_df
from modape_spark.tiers import (
    _matched_int64,
    apply_tier_compact_update,
    materialize_rollup,
    read_tier_compact,
    rollup_dataframe,
    table_lengths,
    update_tier_compact,
    write_tier_tables,
)

N_DOCS = 40
NUPDATE = 4
CFG = SmoothConfig(soptimize=True, p=0.90, tempint=(10, 5))
CFG_FWD = SmoothConfig(soptimize=True, p=0.90, tempint=(10, 5))


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    """init raw (last 2 tokens held back) -> compact tier tables on disk,
    plus the appended raw and the recomputed plain tail."""
    base = tmp_path_factory.mktemp("cupd")
    full = sequences_df(spark, N_DOCS).filter(F.col("n_tok") >= 40)
    init = (
        full.withColumn("tokens_full", F.col("tokens"))
        .withColumn("tokens", F.expr("slice(tokens, 1, n_tok - 2)"))
        .withColumn("n_tok", (F.col("n_tok") - 2).cast("int"))
    )
    init_raw = init.drop("tokens_full").cache()
    init_raw.count()
    comb = str(base / "comb")
    materialize_rollup(init_raw, comb, CFG, n_buckets=4, store="compact")
    tiers = write_tier_tables(spark, comb, str(base / "tiers"), compact=True)
    batches = init.select(
        "doc_id",
        F.lit("fwd").alias("batch_id"),
        F.lit(1).cast("long").alias("proc_ts"),
        F.expr("slice(tokens_full, n_tok + 1, 2)").alias("tokens_suffix"),
        F.col("n_tok").cast("int").alias("start_offset"),
    )
    updated = append_suffixes(init_raw, batches)
    tail = incremental_rollup(updated, nsmooth=16, nupdate=NUPDATE,
                              cfg=CFG_FWD).cache()
    tail.count()
    # plain-path ground truth: the full stored tiers from the SAME init run
    stored_plain = rollup_dataframe(init_raw, CFG).cache()
    stored_plain.count()
    yield {"tiers": tiers, "tail": tail, "stored": stored_plain}
    init_raw.unpersist()
    tail.unpersist()
    stored_plain.unpersist()


def _expected(state, tier):
    # the smoothed axis grows with the append: its total IS n_tok
    total_col = f"{tier}_total" if tier != "smoothed" else "n_tok"
    stored = state["stored"].select("doc_id", tier)
    merged = merge_tier_tail(
        stored, state["tail"].select("doc_id", tier, total_col), tier,
        nupdate=NUPDATE, total_col=total_col)
    return {r["doc_id"]: list(r[tier]) for r in merged.collect()}


@pytest.mark.parametrize("tier", ["smoothed", "dekad", "pentad"])
def test_splice_matches_plain_merge(spark, state, tier):
    out = update_tier_compact(
        spark, state["tiers"][tier], tier, state["tail"], NUPDATE)
    want = _expected(state, tier)
    got = out.collect()
    assert len(got) == len(want)
    new_ntok = {r["doc_id"]: r["n_tok"] for r in state["tail"].collect()}
    for r in got:
        vals = list(decode_dod(bytes(r[f"{tier}_dod"])))
        assert vals == want[r["doc_id"]], r["doc_id"]
        # the exports' grid key advanced with the tail
        assert r["n_tok"] == new_ntok[r["doc_id"]]
        if tier != "smoothed":
            assert r[f"{tier}_total"] == len(vals)


def test_unmatched_rows_pass_through(spark, state):
    tier = "dekad"
    half = state["tail"].filter(
        F.abs(F.xxhash64("doc_id")) % 2 == 0)
    touched = {r["doc_id"] for r in half.select("doc_id").collect()}
    assert 0 < len(touched) < N_DOCS
    before = {r["doc_id"]: (bytes(r["dekad_dod"]), r["n_tok"],
                            r["dekad_total"])
              for r in spark.read.parquet(state["tiers"][tier]).collect()}
    out = update_tier_compact(spark, state["tiers"][tier], tier, half,
                              NUPDATE).collect()
    for r in out:
        if r["doc_id"] not in touched:
            b = before[r["doc_id"]]
            assert bytes(r["dekad_dod"]) == b[0]
            assert r["n_tok"] == b[1] and r["dekad_total"] == b[2]
        else:
            assert bytes(r["dekad_dod"]) != before[r["doc_id"]][0] or \
                r["dekad_total"] == before[r["doc_id"]][2]


def test_matched_int64_casts_only_matched_rows():
    """Unmatched rows carry a null ``_total``; casting the whole column
    before selecting the matched rows cast NaN to int64 (undefined, and a
    RuntimeWarning on every forward update)."""
    import warnings

    import pyarrow as pa

    col = pa.array([742, None, 745, None], type=pa.int32())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = _matched_int64(col, pa.array([0, 2]))
    assert got.dtype == np.int64
    assert got.tolist() == [742, 745]


def test_apply_write_back_and_sidecar(spark, state):
    tier = "pentad"
    want = _expected(state, tier)
    apply_tier_compact_update(
        spark, state["tiers"][tier], tier, state["tail"], NUPDATE)
    back = read_tier_compact(spark, state["tiers"][tier], tier).collect()
    assert {r["doc_id"]: list(r[tier]) for r in back} == want
    # sidecar refreshed: only POST-update lengths remain
    new_lengths = {r["n_tok"] for r in back}
    assert set(table_lengths(spark, state["tiers"][tier])) == new_lengths


def test_nupdate_exceeding_tail_raises(spark, state):
    out = update_tier_compact(
        spark, state["tiers"]["dekad"], "dekad", state["tail"], 99)
    with pytest.raises(Exception, match="nupdate"):
        out.collect()


def test_plain_table_raises(spark, state, tmp_path):
    plain_dir = str(tmp_path / "plainish")
    # a compact-layout table whose payload column is NULL (compress=False
    # analogue): the splice must fail loudly, not silently corrupt
    spark.read.parquet(state["tiers"]["dekad"]) \
        .withColumn("dekad_dod", F.lit(None).cast("binary")) \
        .write.partitionBy("bucket").parquet(plain_dir)
    out = update_tier_compact(spark, plain_dir, "dekad", state["tail"],
                              NUPDATE)
    with pytest.raises(Exception, match="compress=False"):
        out.collect()


def test_splice_plan_shape(spark, state, tmp_path):
    """The compact splice is ONE mapInArrow stage directly above the
    doc_id join: the only Exchanges in the plan are the two join-key
    hash partitionings (store side + tail side) — no shuffle above the
    join, no extra scan of either side.  Broadcast is disabled so the
    SortMergeJoin shape itself is what's pinned (at deployment scale the
    tail has the store's cardinality and would never broadcast)."""
    tail_dir = str(tmp_path / "tail_store")
    state["tail"].write.parquet(tail_dir)   # deployment shape: stored tail
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = update_tier_compact(
            spark, state["tiers"]["dekad"], "dekad",
            spark.read.parquet(tail_dir), NUPDATE)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "MapInArrow" in plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 2
    assert plan.count("Exchange") == 2          # nothing else shuffles
    # the splice sits ABOVE the join — no exchange between map and join
    assert "Exchange" not in plan[
        plan.index("MapInArrow"):plan.index("SortMergeJoin")]
    assert plan.count("FileScan parquet") == 2  # each side scanned once


def test_plain_layout_splices_both_representations(spark, state,
                                                   tmp_path_factory):
    """A PLAIN tier table (TIER_COLUMNS layout: value array + payload)
    must have BOTH representations spliced — updating only the payload
    would leave plain-path exports reading stale values."""
    base = tmp_path_factory.mktemp("cupd_plain")
    # rebuild the same init state in the PLAIN layout
    full = sequences_df(spark, N_DOCS).filter(F.col("n_tok") >= 40)
    init_raw = (
        full.withColumn("tokens", F.expr("slice(tokens, 1, n_tok - 2)"))
        .withColumn("n_tok", (F.col("n_tok") - 2).cast("int"))
    )
    comb = str(base / "comb")
    materialize_rollup(init_raw, comb, CFG, n_buckets=4)
    tiers = write_tier_tables(spark, comb, str(base / "tiers"),
                              tiers=("dekad",), compact=False)
    out = update_tier_compact(
        spark, tiers["dekad"], "dekad", state["tail"], NUPDATE).collect()
    want = _expected(state, "dekad")
    assert len(out) == len(want)
    for r in out:
        assert list(r["dekad"]) == want[r["doc_id"]], r["doc_id"]
        assert list(decode_dod(bytes(r["dekad_dod"]))) == list(r["dekad"])


def test_unknown_tail_doc_raises(spark, state):
    """A tail doc_id absent from the store must fail loudly, not be
    silently dropped (full-outer detection, zero extra jobs)."""
    ghost = state["tail"].limit(1).withColumn(
        "doc_id", F.lit("doc_not_in_store"))
    out = update_tier_compact(
        spark, state["tiers"]["dekad"], "dekad",
        state["tail"].unionByName(ghost), NUPDATE)
    with pytest.raises(Exception, match="unknown to the stored tier"):
        out.collect()
