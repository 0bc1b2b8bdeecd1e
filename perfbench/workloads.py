"""The workloads.  Each is a closed loop: one client, one operation at
a time.  ``setup`` builds the inputs an operation reads (repeatable: each
call starts from scratch), ``op`` is the timed operation and ``check``
verifies its output outside the timed window, returning the mismatches.

Layer spans are taken around calls into the package's public functions;
nothing inside ``modape_spark`` is patched."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from inputs import (
    BATCH_SCHEMA,
    dir_bytes,
    id_start,
    local_rows,
    suffix_batch,
    write_raw_table,
)

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def decode_payloads(payloads) -> list[np.ndarray]:
    from modape_spark.compression import decode_dod_rows

    data = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    boffs = np.zeros(len(payloads) + 1, dtype=np.int64)
    np.cumsum([len(p) for p in payloads], out=boffs[1:])
    vals, offs = decode_dod_rows(data, boffs)
    return [vals[offs[r]:offs[r + 1]] for r in range(len(payloads))]


def read_local(path: str, columns: list[str]) -> dict[str, list]:
    """Column lists of a (hive-partitioned) parquet directory, read
    driver-side with pyarrow: checks never add Spark jobs."""
    return pq.read_table(path, columns=columns).to_pydict()


class Workload:
    name = ""
    # span names whose sum should account for an operation's wall time
    layers: tuple[str, ...] = ()
    # spans of traced-only probe jobs (excluded from tracing overhead and
    # from the wall time the layers must account for)
    probe_spans: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.seed = ctx.seed
        self.sizes = ctx.sizes
        self.root = os.path.join(ctx.work, self.name)

    def fresh_dir(self, *parts) -> str:
        path = os.path.join(self.root, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def n_buckets(self) -> int:
        # one bucket per core, so each scan task carries a core's share of
        # the rows: at 6000 sequences on 4 cores the kernel (2.1 s) then
        # outweighs the feed with its per-task worker start (1.6 s); see
        # "Workloads" in README.md
        return self.ctx.cores

    def build_raw(self, rep: int) -> tuple[str, np.ndarray]:
        n = self.sizes["rows"]
        start = id_start(self.seed)
        path = self.fresh_dir(f"rep{rep}", "raw")
        with self.span("sources.generate"):
            write_raw_table(self.spark, path, n, start, self.n_buckets())
        # scan splits far below the 128 MB default, so every core gets a
        # share of the kernel work (runtime SQL confs)
        self.spark.conf.set("spark.sql.files.maxPartitionBytes",
                            str(max(dir_bytes(path) // (3 * self.ctx.cores),
                                    64 << 10)))
        self.spark.conf.set("spark.sql.files.openCostInBytes", "0")
        return path, np.arange(start, start + n, dtype=np.int64)

    def materialize(self, raw_dir: str, out_dir: str) -> None:
        from modape_spark.rollup import CFG_ALL
        from modape_spark.tiers import materialize_rollup

        materialize_rollup(self.spark.read.parquet(raw_dir), out_dir,
                           CFG_ALL, n_buckets=self.n_buckets(),
                           pre_bucketed=True, store="compact")

    def before_op(self, i: int) -> None:
        pass

    def check(self, i: int) -> list[str]:
        return []

    def finish(self) -> list[str]:
        return []


class RollupBuild(Workload):
    """Compact multi-tier build over the bucketed raw table."""

    name = "rollup_build"
    layers = ("tiers.materialize",)
    probe_spans = ("tiers.feed", "tiers.rollup_noop")

    def setup(self, rep: int) -> None:
        self.raw_dir, self.ids = self.build_raw(rep)
        self.out_dir = os.path.join(self.root, "store")

    def op(self, i: int, traced: bool) -> int:
        from modape_spark.rollup import CFG_ALL
        from modape_spark.tiers import rollup_dataframe

        def drain(batches):
            for _ in batches:
                pass
            return iter(())

        if traced:
            cols = ["doc_id", "tokens", "n_tok", "source"]
            with self.span("tiers.feed"):
                self.spark.read.parquet(self.raw_dir).select(*cols) \
                    .mapInArrow(drain, "n long") \
                    .write.format("noop").mode("overwrite").save()
            with self.span("tiers.rollup_noop"):
                rollup_dataframe(self.spark.read.parquet(self.raw_dir),
                                 CFG_ALL, True, store="compact") \
                    .write.format("noop").mode("overwrite").save()
        with self.span("tiers.materialize"):
            self.materialize(self.raw_dir, self.out_dir)
        return len(self.ids)

    def check(self, i: int) -> list[str]:
        n = pq.ParquetDataset(self.out_dir).read(columns=["doc_id"]).num_rows
        if n != len(self.ids):
            return [f"store holds {n} rows, expected {len(self.ids)}"]
        return []

    def store_bytes(self) -> tuple[int, int]:
        return dir_bytes(self.out_dir), len(self.ids)

    def finish(self) -> list[str]:
        """Decode a seeded sample of the last written store driver-side and
        compare every tier with ``process_rollup_pdf`` run in-process on
        the same rows.  (The Spark-side decoder, ``read_tier_compact``, is
        checked by the traced ``update_export`` run.)"""
        from modape_spark.rollup import CFG_ALL
        from modape_spark.tiers import process_rollup_pdf

        rng = np.random.default_rng([self.seed, 7])
        pdf = local_rows(np.sort(rng.choice(self.ids, min(48, len(self.ids)),
                                            replace=False)))
        keys = list(pdf["doc_id"])
        want = process_rollup_pdf(pdf, CFG_ALL, compress=True) \
            .set_index("doc_id")
        tiers = ("smoothed", "dekad", "pentad")
        stored = pq.read_table(
            self.out_dir, columns=["doc_id", "n_tok", "covered"]
            + [f"{t}_dod" for t in tiers],
            filters=[("doc_id", "in", keys)]).to_pydict()
        if sorted(stored["doc_id"]) != keys:
            return ["sampled rows missing from the written store"]
        decoded = {t: decode_payloads(stored[f"{t}_dod"]) for t in tiers}
        errors = []
        for j, k in enumerate(stored["doc_id"]):
            ref = want.loc[k]
            same = (stored["n_tok"][j] == ref["n_tok"]
                    and stored["covered"][j] == ref["covered"]
                    and all(np.array_equal(decoded[t][j], ref[t])
                            for t in tiers))
            if not same:
                errors.append(f"{k} differs from process_rollup_pdf")
        return errors


class UpdateExport(Workload):
    """The forward cycle of the retention tiers: a suffix batch arrives, is
    validated and appended to the trimmed raw table, the touched keys'
    tails are recomputed and spliced into the compact smoothed and dekad
    tiers, then a per-date dekad export runs against the updated tiers,
    written to parquet as ``cli window`` writes it.  Traced operations
    add a 1-year dekad range export and a full smoothed-tier read as
    probes, so their layers are measured without entering ``op_s``."""

    name = "update_export"
    layers = ("incremental.validate", "incremental.append",
              "incremental.tail", "tiers.splice_smoothed",
              "tiers.splice_dekad", "tiers.export_date")
    probe_spans = ("tiers.export_range", "tiers.read_compact")
    tiers = ("smoothed", "dekad")
    keep_tail = 64
    nsmooth, nupdate = 16, 1

    def setup(self, rep: int) -> None:
        from modape_spark.fixtures import row_lengths
        from modape_spark.retention import retention_trim
        from modape_spark.tiers import write_tier_tables

        raw_dir, self.ids = self.build_raw(rep)
        combined = self.fresh_dir(f"rep{rep}", "combined")
        with self.span("tiers.materialize"):
            self.materialize(raw_dir, combined)
        with self.span("tiers.split"):
            self.tier_dirs = write_tier_tables(
                self.spark, combined, self.fresh_dir(f"rep{rep}", "tiers"),
                tiers=self.tiers, compact=True)
        # retention_trim runs once, here: it slices by the logical length,
        # so re-trimming an appended, already trimmed row would empty it
        self.raw_dir = self.fresh_dir(f"rep{rep}", "raw_v0")
        with self.span("retention.trim"):
            retention_trim(self.spark.read.parquet(raw_dir), self.keep_tail) \
                .write.mode("overwrite").partitionBy("bucket") \
                .parquet(self.raw_dir)
        shutil.rmtree(raw_dir)
        shutil.rmtree(combined)
        self.rep = rep
        self.old_raw = None
        self.n_tok = row_lengths(self.ids).astype(np.int64)
        self.out = os.path.join(self.root, "exports")

    def _payloads(self) -> dict[str, dict[str, bytes]]:
        return {t: dict(zip(*read_local(d, ["doc_id", f"{t}_dod"]).values()))
                for t, d in self.tier_dirs.items()}

    def before_op(self, i: int) -> None:
        """Untimed: drop the previous raw version and its cached plans,
        snapshot the tier payloads, and let the seeded batch arrive."""
        if self.old_raw:
            shutil.rmtree(self.old_raw)
        self.spark.catalog.clearCache()
        self.before = self._payloads()
        shutil.rmtree(self.out, ignore_errors=True)
        self.rng = np.random.default_rng([self.seed, i])
        self.pick = np.sort(self.rng.choice(
            len(self.ids), max(len(self.ids) // 10, 1), replace=False))
        self.batch = self.spark.createDataFrame(
            suffix_batch(self.rng, self.ids[self.pick], self.n_tok[self.pick],
                         i), BATCH_SCHEMA)

    def op(self, i: int, traced: bool) -> int:
        n = self._update(i)
        self.last = []
        self._export("date", "dekad")
        if traced:
            self._export("range", "dekad")
            self._export("read", "smoothed")
        return n

    def _update(self, i: int) -> int:
        from pyspark.sql import functions as F

        from modape_spark.incremental import (
            append_suffixes,
            incremental_rollup,
            validate_append,
        )
        from modape_spark.rollup import CFG_ALL
        from modape_spark.tiers import apply_tier_compact_update

        spark, batch = self.spark, self.batch
        with self.span("incremental.validate"):
            raw = spark.read.parquet(self.raw_dir)
            validate_append(raw, batch)
        new_raw = self.fresh_dir(f"rep{self.rep}", f"raw_v{i + 1}")
        with self.span("incremental.append"):
            append_suffixes(raw, batch, validate=False) \
                .write.mode("overwrite").partitionBy("bucket") \
                .parquet(new_raw)
        self.tail_dir = self.fresh_dir(f"rep{self.rep}", "tail")
        with self.span("incremental.tail"):
            touched = spark.read.parquet(new_raw).join(
                F.broadcast(batch.select("doc_id")), "doc_id", "left_semi")
            incremental_rollup(touched, self.nsmooth, self.nupdate,
                               CFG_ALL).write.mode("overwrite") \
                .parquet(self.tail_dir)
        for tier in self.tiers:
            with self.span(f"tiers.splice_{tier}"):
                apply_tier_compact_update(
                    spark, self.tier_dirs[tier], tier,
                    spark.read.parquet(self.tail_dir), self.nupdate)
        self.old_raw, self.raw_dir = self.raw_dir, new_raw
        self.n_tok[self.pick] += 2
        self.touched = {f"doc{k:012d}" for k in self.ids[self.pick]}
        return len(self.pick)

    def _export(self, kind: str, tier: str) -> None:
        """One export of ``kind`` on a seeded date (or 1-year range)."""
        from modape_spark.tiers import (
            dates_for_length,
            export_compact_date,
            export_compact_range,
            read_tier_compact,
        )

        spark, rng = self.spark, self.rng
        path = os.path.join(self.out, kind)
        axis = dates_for_length(742, tier)
        if kind == "date":
            begin = end = axis[int(rng.integers(0, len(axis)))]
            with self.span("tiers.export_date"):
                export_compact_date(spark, self.tier_dirs[tier], tier,
                                    begin).write.mode("overwrite") \
                    .parquet(path)
        elif kind == "range":
            b = int(rng.integers(0, len(axis) - 36))
            begin, end = axis[b], axis[b + 35]
            with self.span("tiers.export_range"):
                export_compact_range(spark, self.tier_dirs[tier], tier,
                                     begin, end) \
                    .write.mode("overwrite").partitionBy("date") \
                    .parquet(path)
        else:
            begin = end = ""
            with self.span("tiers.read_compact"):
                read_tier_compact(spark, self.tier_dirs[tier], tier) \
                    .write.mode("overwrite").parquet(path)
        self.last.append((kind, tier, begin, end))

    def check(self, i: int) -> list[str]:
        after = self._payloads()
        return self._check_update(after) + self._check_exports(after)

    def _check_update(self, after) -> list[str]:
        """The last ``nupdate`` points of each touched row equal the
        recomputed tail; untouched rows keep their payload bytes."""
        tail = read_local(self.tail_dir, ["doc_id", *self.tiers])
        errors = []
        if set(tail["doc_id"]) != self.touched:
            errors.append("tail keys differ from the batch keys")
        for tier in self.tiers:
            now, old = after[tier], self.before[tier]
            if set(now) != set(old):
                errors.append(f"{tier}: key set changed")
                continue
            if any(now[k] != old[k] for k in now if k not in self.touched):
                errors.append(f"{tier}: untouched payload bytes changed")
            decoded = decode_payloads([now[k] for k in tail["doc_id"]])
            if any(list(v[-self.nupdate:]) != list(r[-self.nupdate:])
                   for v, r in zip(decoded, tail[tier])):
                errors.append(f"{tier}: a touched row's tail is not spliced")
        return errors

    def _check_exports(self, after) -> list[str]:
        """Exported values equal the decoded payload at the position
        ``date_positions`` resolves each row's date to."""
        from modape_spark.tiers import date_positions, dates_for_length

        lengths = dict(zip(*read_local(self.tier_dirs["dekad"],
                                       ["doc_id", "n_tok"]).values()))
        errors = []
        for kind, tier, begin, end in self.last:
            keys = list(after[tier])
            ref = dict(zip(keys, decode_payloads([after[tier][k]
                                                  for k in keys])))
            path = os.path.join(self.out, kind)
            if kind == "read":
                got = read_local(path, ["doc_id", tier])
                bad = sum(not np.array_equal(ref[k], np.asarray(v))
                          for k, v in zip(got["doc_id"], got[tier]))
                n_want = len(ref)
            elif kind == "date":
                got = read_local(path, ["doc_id", "value"])
                pos = date_positions(set(lengths.values()), tier, begin)
                bad = 0
                for k, v in zip(got["doc_id"], got["value"]):
                    p, arr = pos[lengths[k]], ref[k]
                    bad += v != (int(arr[p - 1]) if p and p <= arr.size
                                 else None)
                n_want = len(ref)
            else:
                got = read_local(path, ["doc_id", "date", "value"])
                axes = {n: {d: j for j, d in
                            enumerate(dates_for_length(n, tier))}
                        for n in set(lengths.values())}
                bad = 0
                for k, d, v in zip(got["doc_id"], got["date"], got["value"]):
                    j = axes[lengths[k]].get(str(d))
                    bad += j is None or j >= ref[k].size or v != int(ref[k][j])
                n_want = sum(sum(begin <= d <= end for d in axes[n])
                             for n in lengths.values())
            if bad:
                errors.append(f"{kind}: {bad} values differ from the "
                              "decoded store")
            if len(got["doc_id"]) != n_want:
                errors.append(f"{kind}: {len(got['doc_id'])} rows, "
                              f"expected {n_want}")
        return errors

    def store_bytes(self) -> tuple[int, int]:
        total = dir_bytes(self.raw_dir) + sum(
            dir_bytes(d) for d in self.tier_dirs.values())
        return total, len(self.ids)


class OperatorProbe:
    """The operators/ layer, measured in the traced ``rollup_build`` run
    before anything else touches the fresh session: four operator queries
    over the fixed sf0.01 test tables (the seed only permutes their
    order), a first pass (first use of these plans in the session) and a
    warm pass, both checked against the DuckDB oracle of
    ``__spark_entry__.oracle_sql()``."""

    queries = {
        "docs_minhash_lsh": "operators.dedup.minhash_lsh",
        "emb_knn_brute": "operators.similarity.knn_brute",
        "events_sessionize": "operators.relational.sessionize",
        "tpch_pricing_summary": "operators.relational.pricing_summary",
    }
    sf_dir = os.path.join(DATA, "sf0.01")

    def __init__(self, ctx):
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.order = list(np.random.default_rng(ctx.seed).permutation(
            sorted(self.queries)))

    @classmethod
    def metric_names(cls) -> list[str]:
        return ["operators.first_pass_s", "operators.warm_pass_s"] + [
            f"{layer}_s" for layer in cls.queries.values()]

    def run(self) -> tuple[dict[str, float], list[str]]:
        from harness import median

        want = self._oracle()
        errors = []
        for op in ("operators.first", "operators.warm"):
            self.tracer.op_id = op
            with self.tracer.span(op):
                got = self._pass()
            errors += [f"{op} {name}: result differs from the DuckDB oracle"
                       for name, rows in got.items() if rows != want[name]]
        self.tracer.op_id = None
        out = {"operators.first_pass_s": median(
                   self.tracer.durations("operators.first")),
               "operators.warm_pass_s": median(
                   self.tracer.durations("operators.warm"))}
        for layer in self.queries.values():
            out[f"{layer}_s"] = median(
                self.tracer.durations(layer, op="operators.warm"))
        return out, errors

    def _pass(self) -> dict[str, list]:
        from modape_spark.operators.dedup import q_minhash_lsh
        from modape_spark.operators.relational import (
            q_pricing_summary,
            q_sessionize,
        )
        from modape_spark.operators.similarity import q_knn_brute

        fns = {"docs_minhash_lsh": q_minhash_lsh,
               "emb_knn_brute": q_knn_brute,
               "events_sessionize": q_sessionize,
               "tpch_pricing_summary": q_pricing_summary}
        got = {}
        for name in self.order:
            with self.tracer.span(self.queries[name]):
                rows = fns[name](self.spark, self.sf_dir).collect()
            got[name] = sorted(tuple(r) for r in rows)
        return got

    def _oracle(self) -> dict[str, list]:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings", "events", "lineitem"):
                con.execute(f"create view {t} as select * from "
                            f"'{self.sf_dir}/{t}.parquet'")
            return {name: sorted(tuple(r) for r in
                                 con.execute(sql[name]).fetchall())
                    for name in self.queries}
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (RollupBuild, UpdateExport)}
