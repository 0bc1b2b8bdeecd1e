#!/usr/bin/env python3
"""Layered benchmark of the rollup engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  NAME is one of rollup_build,
update_export, or ``all`` (each workload in
its own fresh process).  Everything the run writes lands under
``.bench_build/`` in the current directory.

One process is one run: a cold session on local[nproc], set-up repeated
SETUP_REPS times, then a closed loop of operations for ``--seconds`` of
operation time (at least MIN_OPS), each checked outside the timed window.  The last stdout
line is the result JSON; the line before it holds the per-operation
detail.  ``--trace 1`` alternates traced and untraced operations and
reports the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

SIZES = {
    "rollup_build": {"rows": 6000},
    "update_export": {"rows": 1000},
}
SMOKE_SIZES = {
    "rollup_build": {"rows": 200},
    "update_export": {"rows": 200},
}
# set-up repetitions per run (setup_s takes their median).  The first,
# cold one carries the session's first Python-worker job; update_export
# sets up once, because a second tier build (8-14 s on 4 cores) would not
# fit the run budget
SETUP_REPS = {"rollup_build": 3, "update_export": 1}
# operations run until --seconds of operation time have passed, and at
# least the first-in-session one plus one warm one; a traced run
# alternates traced and untraced operations, so it needs two of each
MIN_OPS = 2
TRACED_MIN_OPS = 4
MAX_OPS = 60
# a traced operation fails unless its layer spans account for this share
# of its wall time
COVERAGE = (0.9, 1.1)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, one setup and one timed op per "
                        "workload (self-test)")
    return p.parse_args(argv)


def metric_units(root: str) -> dict[str, dict[str, str]]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def run_all(args, root: str) -> int:
    """Every workload, each in a fresh process; one combined result."""
    from workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode or not lines:
            print(f"{name}: exit code {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        print(json.dumps({"workload": name, **res}))
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def configure_paths(root: str) -> tuple[str, str]:
    """Point every temp and scratch location at .bench_build/ in the
    checkout; must run before pyspark starts the JVM."""
    import tempfile

    base = os.path.join(root, ".bench_build")
    tmp = os.path.join(base, "tmp")
    work = os.path.join(base, "perfbench", f"run-{os.getpid()}")
    for d in (tmp, work):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    return tmp, work


def start_session(name: str, cores: int, tmp: str, work: str):
    from harness import host_memory_bytes
    from modape_spark.session import get_spark

    _, avail = host_memory_bytes()
    # a quarter of what is free, between 1 and 2 GiB, committed and touched
    # up front: how far a run's garbage collections let the heap grow
    # would otherwise swing peak memory from run to run
    heap_mb = max(1024, min(2048, avail // 4 // (1 << 20)))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    driver_opts = f"{java_opts} -Xms{heap_mb}m -XX:+AlwaysPreTouch"
    return get_spark(
        app_name=f"perfbench-{name}", cores=cores,
        driver_memory=f"{heap_mb}m",
        extra_conf={
            "spark.driver.extraJavaOptions": driver_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies count as
    ended: a reparented one waits for a reaper outside this run)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process started under this one
    (the Python worker daemon and its workers), waiting for each to end."""
    import signal

    from pyspark import SparkContext

    from harness import tree_pids

    spark.stop()
    started = tree_pids(os.getpid())[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = started
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in started if running(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Run:
    """One workload run: session, repeated set-up, the operation loop and
    the metrics derived from it."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.setup_s: list[float] = []
        self.probe_attempted = self.probe_failed = 0
        self.phases: dict[str, float] = {}

    def execute(self, tmp: str, work: str):
        from types import SimpleNamespace

        from harness import SparkCounters, Tracer

        import probes
        from workloads import WORKLOADS, OperatorProbe

        args = self.args
        name = args.workload
        self.tracer = Tracer(self.trace)
        t0 = time.perf_counter()
        spark = start_session(name, self.cores, tmp, work)
        self.session_s = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            from modape_spark import ckernel

            if ckernel.get_lib() is None:
                raise RuntimeError("compiled kernel unavailable (gcc build "
                                   "failed); numbers would not be comparable")
            self.ckernel_s = time.perf_counter() - t0
            ctx = SimpleNamespace(spark=spark, work=work, seed=args.seed,
                                  cores=self.cores, tracer=self.tracer)
            self.operators = {}
            if self.trace and name == "rollup_build":
                # first thing in the fresh session, so the first pass is
                # cold
                self.operators, errs = self.phase(
                    "operator_probe", lambda: OperatorProbe(ctx).run())
                self.errors += errs
                self.probe_attempted, self.probe_failed = 2, min(len(errs), 2)
            ctx.sizes = (SMOKE_SIZES if args.smoke else SIZES)[name]
            wl = WORKLOADS[name](ctx)
            for rep in range(1 if args.smoke else SETUP_REPS[name]):
                self.tracer.op_id = f"setup{rep}"
                t0 = time.perf_counter()
                wl.setup(rep)
                self.setup_s.append(time.perf_counter() - t0)
            calib_batch = probes.arrow_batch(args.seed)
            self.calib = [probes.calibrate_us(calib_batch)]
            counters = SparkCounters(spark) if self.trace else None
            self.phase("loop", lambda: self.loop(wl, counters))
            self.calib.append(probes.calibrate_us(calib_batch))
            if not self.phase("finish", lambda: self._guard(
                    wl.finish, "final check")) and self.ops:
                self.ops[-1]["ok"] = False
            self.store = wl.store_bytes()
            self.workload = wl
            if self.trace:
                self.kernel = self.phase(
                    "kernel_probe", lambda: probes.kernel_layers(args.seed))
        finally:
            self.phase("stop", lambda: stop_session(spark))

    def phase(self, name: str, fn):
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.phases[name] = time.perf_counter() - t0

    def _guard(self, fn, what: str) -> bool:
        try:
            errs = fn()
        except Exception:
            errs = [f"{what} raised: {traceback.format_exc(limit=3)}"]
        self.errors.extend(errs)
        return not errs

    def loop(self, wl, counters):
        from harness import cpu_times, steal_busy_pct

        min_ops = (1 if self.args.smoke else TRACED_MIN_OPS if self.trace
                   else MIN_OPS)
        max_ops = min_ops if self.args.smoke else MAX_OPS
        spent = 0.0
        i = 0
        while i < max_ops and (spent < self.args.seconds or i < min_ops):
            traced = self.trace and i % 2 == 0
            wl.before_op(i)
            self.tracer.enabled = traced
            self.tracer.op_id = i
            if traced:
                counters.mark()
            c0, e0, t0 = cpu_times(), time.time(), time.perf_counter()
            try:
                rows = wl.op(i, traced)
                failed = None
            except Exception:
                rows, failed = 0, traceback.format_exc(limit=4)
            t1, e1, c1 = time.perf_counter(), time.time(), cpu_times()
            steal, busy = steal_busy_pct(c0, c1)
            rec = {"i": i, "wall_s": t1 - t0, "traced": traced, "rows": rows,
                   "steal_pct": steal, "busy_pct": busy, "failed": failed}
            if traced:
                rec["spark"] = counters.read(e0, e1)
                rec["counter_read_s"] = time.perf_counter() - t1
                rec["coverage"] = self.coverage(wl, i, rec["wall_s"])
            self.tracer.enabled = self.trace
            self.tracer.op_id = None
            if failed:
                self.errors.append(f"op {i} raised: {failed}")
            else:
                rec["ok"] = self._guard(lambda: wl.check(i), f"op {i} check")
                if traced and not COVERAGE[0] <= rec["coverage"] <= COVERAGE[1]:
                    rec["ok"] = False
                    self.errors.append(
                        f"op {i}: layer spans cover {rec['coverage']:.3f} of "
                        f"its wall time, outside {COVERAGE}")
            self.ops.append(rec)
            spent += rec["wall_s"]
            i += 1

    def op_span_s(self, i: int, names) -> float:
        return sum(s["end"] - s["start"] for s in self.tracer.spans
                   if s["op"] == i and s["name"] in names)

    def coverage(self, wl, i: int, wall_s: float) -> float:
        """Share of a traced operation's wall time (less its probe-only
        jobs) that the workload's layer spans account for."""
        rest = wall_s - self.op_span_s(i, wl.probe_spans)
        return self.op_span_s(i, wl.layers) / rest if rest > 0 else 0.0

    # ------------------------------------------------------------ metrics

    def attempted(self) -> int:
        return len(self.ops) + self.probe_attempted

    def failed(self) -> int:
        return self.probe_failed + sum(
            1 for o in self.ops if o["failed"] or not o.get("ok"))

    def warm(self, traced=None) -> list[dict]:
        return [o for o in self.ops[1:] if not o["failed"]
                and (traced is None or o["traced"] == traced)]

    def end_to_end(self, peak_rss: int) -> dict[str, float]:
        from harness import median

        warm = [o["wall_s"] for o in self.warm()]
        op_s = median(warm)
        rows = median([o["rows"] for o in self.warm()])
        nbytes, nrows = self.store
        return {
            "setup_s": self.session_s + self.ckernel_s + median(self.setup_s),
            "op_s": op_s,
            "first_op_s": self.ops[0]["wall_s"],
            "rows_per_s": rows / op_s if op_s else 0.0,
            "store_bytes_per_row": nbytes / max(nrows, 1),
            "peak_rss_mb": peak_rss / (1 << 20),
        }

    def per_layer(self) -> dict[str, float]:
        from harness import median

        from workloads import OperatorProbe

        wl = self.workload
        tr = self.tracer
        traced = self.warm(traced=True)
        untraced = self.warm(traced=False)
        ids = {o["i"] for o in traced}

        def spans(name):
            return [s["end"] - s["start"] for s in tr.spans
                    if s["name"] == name and s["op"] in ids]

        out = {"session.build_s": self.session_s + self.ckernel_s,
               "sources.generate_s": median(tr.durations("sources.generate"))}
        feed, noop, mat = (spans("tiers.feed"), spans("tiers.rollup_noop"),
                           spans("tiers.materialize"))
        out["tiers.feed_s"] = median(feed)
        out["tiers.kernel_s"] = median([b - a for a, b in zip(feed, noop)])
        out["tiers.write_s"] = median([b - a for a, b in zip(noop, mat)])
        # the raw table is trimmed once per set-up, never per operation
        out["retention.trim_s"] = median(tr.durations("retention.trim"))
        for span_name in ("incremental.validate", "incremental.append",
                          "incremental.tail",
                          "tiers.splice_smoothed", "tiers.splice_dekad",
                          "tiers.export_date", "tiers.export_range",
                          "tiers.read_compact"):
            out[f"{span_name}_s"] = median(spans(span_name))
        # the operator probe runs in the traced rollup_build run only
        out.update({k: 0.0 for k in OperatorProbe.metric_names()})
        out.update(self.operators)
        counters = [o["spark"] for o in traced]
        for key in ("python_run_s", "python_init_s", "python_boot_s",
                    "bytes_to_python", "bytes_from_python"):
            out[f"tiers.{key}"] = median([c[key] for c in counters])
        for key in ("jobs", "codegen_count", "task_cpu_s", "task_run_s",
                    "gc_s", "shuffle_bytes"):
            out[f"spark.{key}"] = median([c[key] for c in counters])
        # None where the compile-time reservoir had started evicting
        valid = [c["codegen_ms"] for c in counters
                 if c["codegen_ms"] is not None]
        if counters and not valid:
            self.errors.append("spark.codegen_ms: no operation compiled "
                               "within the histogram's exact range")
        out["spark.codegen_ms"] = median(valid)
        out["spark.plan_s"] = median([o["wall_s"] - o["spark"]["job_wall_s"]
                                      for o in traced])
        first = self.ops[0]
        out["spark.first_plan_s"] = (first["wall_s"]
                                     - first["spark"]["job_wall_s"])
        out["spark.first_codegen_ms"] = first["spark"]["codegen_ms"]
        if out["spark.first_codegen_ms"] is None:
            self.errors.append("spark.first_codegen_ms: compile-time "
                               "histogram past its exact range")
            out["spark.first_codegen_ms"] = 0.0
        out.update(self.kernel)
        untraced_s = median([o["wall_s"] for o in untraced])
        if wl.name == "rollup_build" and untraced_s:
            single_core_rate = 1e6 / self.kernel["tiers.batch_us"]
            out["tiers.parallel_efficiency"] = (
                median([o["rows"] for o in untraced]) / untraced_s
                / (single_core_rate * self.cores))
        else:
            out["tiers.parallel_efficiency"] = 0.0
        out["host.steal_pct"] = median([o["steal_pct"] for o in self.ops])
        out["host.busy_pct"] = median([o["busy_pct"] for o in self.ops])
        out["host.calib_us"] = median(self.calib)
        out["trace.overhead_s"] = median(
            [o["wall_s"] - self.op_span_s(o["i"], wl.probe_spans)
             + o["counter_read_s"] for o in traced]) - untraced_s
        out["trace.layer_coverage"] = median([o["coverage"] for o in traced])
        return out

    def detail(self) -> dict:
        from harness import p90

        warm = [o["wall_s"] for o in self.warm()]
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "cores": self.cores, "trace": self.trace,
            "sizes": (SMOKE_SIZES if self.args.smoke else SIZES)[
                self.args.workload],
            "setup_reps_s": [round(x, 4) for x in self.setup_s],
            "session_s": round(self.session_s, 4),
            "phases_s": {k: round(v, 3) for k, v in self.phases.items()},
            "ops": [{k: (round(v, 4) if isinstance(v, float) else v)
                     for k, v in o.items() if k not in ("spark", "failed")}
                    for o in self.ops],
            "warm_samples": len(warm), "warm_p90_s": p90(warm),
            "calib_us_before_after": self.calib,
            "errors": self.errors[:10],
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "modape_spark")):
        print("perfbench: run from the repository root (no modape_spark/ "
              "here)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    units = metric_units(root)
    if args.workload == "all":
        return run_all(args, root)
    from harness import RssSampler
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)} or all", file=sys.stderr)
        return 2
    tmp, work = configure_paths(root)
    run = Run(args)
    try:
        with RssSampler() as rss:
            run.execute(tmp, work)
        if run.trace:
            values = run.per_layer()
            kind = "per_layer"
            run.tracer.write(os.path.join(
                os.path.dirname(work),
                f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            values = run.end_to_end(rss.peak)
            kind = "end_to_end"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    missing = set(units[kind]) - set(values)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    print(json.dumps(run.detail()))
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted(),
        "failed": run.failed(),
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units[kind].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
