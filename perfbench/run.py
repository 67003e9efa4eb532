"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload production_10x --seed 1 --seconds 25 --trace 0

Run from the repository root. A run:

1. starts the Spark session in a fresh JVM through the program's
   ``get_spark`` (``session.start_s``);
2. generates and lays out the seeded inputs (the benchmark's own work,
   timed on the ``setup:`` line and part of no metric; what every seed
   shares is built once per checkout, before the session starts);
3. runs one pass that warms the session and checks every operation's output
   against the DuckDB oracle (a mismatch or an exception is a failed
   operation), then one untimed warm-up pass; ``setup_s`` is the session
   start plus the program's time in these two passes (``warmup_s``), the
   oracle's time left out;
4. runs timed passes over the workload's operations, one client in a
   closed loop, until ``--seconds`` is used up (at least two passes). The
   session keeps getting faster for many passes after the check pass, at a
   pace that varies from run to run; in the time a run has, one untimed
   pass before the timed ones gave the steadiest medians;
5. prints one line per metric, then one JSON object as the last line:
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``; nothing
is wrapped and the Spark event log is off. ``--trace 1`` reports the
per-layer metrics instead: with the event log on, it pairs untraced passes
with passes in which the program's entry points are wrapped
(:mod:`perfbench.trace`), and writes one row per op and layer to
``.bench_work/traces/``.

Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PASSES = 2
WARMUP_PASSES = 1  # untimed passes after the check pass
TRACE_PASSES = 2  # traced passes, each paired with an untraced one


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _program_present() -> bool:
    need = ("flnr_wins_spark/__init__.py", "scripts/scale_stress.py", "scripts/check_oracle.py")
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in need)


def _environment(work: str) -> dict[str, str]:
    """Keep every file Spark, its workers and the program write inside
    ``work``; Python workers import the program from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # no hsperfdata files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _descendants() -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _reset_peak_rss() -> None:
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def _peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of the Spark JVM and its Python workers
    since the last :func:`_reset_peak_rss`. A per-layer metric: how far the
    JVM grows its heap varies too much from run to run to bound."""
    total = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def stop_session(spark) -> None:
    """Stop ``spark`` (if any) and the JVM and wait for the JVM to exit, so
    that the next session starts cold and no process outlives the run."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


@contextlib.contextmanager
def session(conf: dict[str, str]):
    """A Spark session for building inputs, stopped with its JVM after."""
    from flnr_wins_spark.session import get_spark

    spark = get_spark(app_name="perfbench-inputs", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        yield spark
    finally:
        stop_session(spark)


class Run:
    def __init__(self, workload, seed: int, seconds: float, work: str):
        self.w, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.spark = None
        self.attempted = self.failed = 0
        self.result_rows: dict[str, int] = {}
        self.stored_ratio = 0.0
        self.warmup_s = 0.0

    # -------------------------------------------------------------- setup
    def start(self, conf: dict[str, str]) -> float:
        """Start the Spark session in a fresh JVM through the program's
        ``get_spark``; returns the time it took."""
        from pyspark.sql import SparkSession

        from flnr_wins_spark.session import get_spark

        stop_session(SparkSession.getActiveSession())  # restarted with this run's conf
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return start_s

    def make_inputs(self) -> float:
        """Generate and lay out the seeded inputs; returns the time, which is
        the benchmark's own work and not part of ``setup_s``."""
        t0 = time.perf_counter()
        self.inp = self.w.inputs(self.spark, ROOT, os.path.join(self.work, "in"), self.seed)
        return time.perf_counter() - t0

    # -------------------------------------------------------------- check
    def check(self) -> None:
        """Warm-up pass that also checks every op's output; the program's
        share of its time is ``warmup_s``."""
        from perfbench.workloads import DEFAULT_SEED, load_expected

        stored = load_expected(self.w.name) if self.seed == DEFAULT_SEED else {}
        for op in self.w.ops:
            self.attempted += 1
            got, want = {}, None
            try:
                t0 = time.perf_counter()
                got = op.output(self.spark, self.inp, ROOT)
                t1 = time.perf_counter()
                self.warmup_s += t1 - t0
                want = stored.get(op.name) or op.expected(self.inp, ROOT)
                _log(f"check {op.name}: program {t1 - t0:.2f} s, oracle {time.perf_counter() - t1:.2f} s")
                ok = op.matches(got, want)
            except Exception:
                _log(f"{op.name} raised during the check pass:\n{traceback.format_exc()}")
                ok = False
            if not ok:
                self.failed += 1
                _log(f"{op.name} output mismatch: got {got}, want {want}")
            self.result_rows[op.name] = got.get("rows", 0)
            self.stored_ratio += got.get("stored_bytes_per_input_byte", 0.0)
            getattr(op, "cleanup", lambda: None)()

    # ------------------------------------------------------------- passes
    def one_pass(self, tracer=None, tag: int = 0) -> dict[str, float]:
        times = {}
        for op in self.w.ops:
            self.spark.catalog.clearCache()
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    op.run(self.spark, self.inp)
                else:
                    with tracer.span(op.name, "op", op=op.name) as s:
                        s.tag = tag
                        op.run(self.spark, self.inp)
            except Exception:
                self.failed += 1
                _log(f"{op.name} raised:\n{traceback.format_exc()}")
            times[op.name] = time.perf_counter() - t0
            getattr(op, "cleanup", lambda: None)()
        _log(f"pass: {sum(times.values()):.3f} s")
        return times

    def passes(self) -> list[dict[str, float]]:
        """Untraced passes until one more would overrun ``seconds``."""
        out: list[dict[str, float]] = []
        t0 = time.perf_counter()
        while len(out) < MIN_PASSES or (
            time.perf_counter() - t0 + sum(out[-1].values()) <= self.seconds
        ):
            out.append(self.one_pass())
        return out


def end_to_end(run: Run, setup_s: float, passes) -> dict[str, float]:
    # a pass made of each op's median time: one slow op in one pass does not
    # move it, as it would move the median of pass totals
    per_op = [statistics.median(p[op.name] for p in passes) for op in run.w.ops]
    pass_s = sum(per_op)
    return {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "rows_per_s": run.inp.rows / pass_s,
        "op_s_geomean": math.exp(statistics.fmean(math.log(t) for t in per_op)),
    }


def per_layer(
    run: Run, tracer, log, session_s: float, untraced_s: float, traced, peak_mb: float
) -> tuple[dict, list]:
    """Per-layer metrics: median over traced passes of each pass's totals."""
    rows = tracer.layer_rows(log, run.result_rows)
    by_pass: dict[int, dict[str, float]] = {}
    for r in rows:
        acc = by_pass.setdefault(r["pass"], {})
        for k, v in r.items():
            if k not in ("op", "pass", "layer", "wall_s"):
                key = f"{r['layer']}.{k}"
                acc[key] = acc.get(key, 0.0) + v
    med = {
        k: statistics.median(p.get(k, 0.0) for p in by_pass.values())
        for k in next(iter(by_pass.values()))
    }
    accounted = [r["accounted_ratio"] for r in rows if r["layer"] == "trace"]
    cand, res = med.pop("operators.candidate_rows"), med.pop("operators.result_rows")
    table_files = med.pop("sources.files_in_tables")
    out = {
        "session.start_s": session_s,
        "session.warmup_s": run.warmup_s,
        **{k: v for k, v in med.items() if k != "trace.accounted_ratio"},
        "sources.files_read_ratio": med["sources.scan_files"] / table_files if table_files else 0.0,
        "sources.stored_bytes_per_input_byte": run.stored_ratio,
        "operators.candidate_pairs_per_result": cand / res if res else 0.0,
        "operators.peak_rss_mb": peak_mb,
        "trace.overhead_s": statistics.median(sum(p.values()) for p in traced) - untraced_s,
        "trace.accounted_ratio": min(accounted),
    }
    return out, rows


def _patch_entry_points(tracer, workload) -> None:
    """Wrap the functions the program resolves at call time."""
    from pyspark.sql.readwriter import DataFrameReader

    import flnr_wins_spark.sources as sources
    from flnr_wins_spark.plans import job
    from perfbench import workloads as wl

    tracer.patch(job, "publish", "sources.write")
    tracer.patch(job, "read_lookup", "sources.read")
    tracer.patch(job, "run_staging", "plans.build")
    tracer.patch(job, "logged_run", "runlog")
    tracer.patch(DataFrameReader, "parquet", "sources.read", name="spark.read.parquet")
    tracer.patch(sources, "read_table", "sources.read")
    tracer.patch(wl, "sink", "plans.sink")
    for op in workload.ops:
        if isinstance(op, wl.RegistryOp):
            tracer.patch(op.entry, "fn", "plans.build", name=f"{op.name}.fn")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        _log(f"program sources not found under {ROOT}; nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace as tr
    from perfbench.workloads import workloads

    ws = workloads()
    if args.workload not in ws:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(ws)}")
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    conf = _environment(work)

    run = Run(ws[args.workload], args.seed, args.seconds, work)
    try:
        # before the measured session starts, and without the event log
        run.w.prepare(ROOT, os.path.join(ROOT, ".bench_work", "cache"), lambda: session(conf))
        if args.trace:
            conf = {**conf, **tr.EVENT_LOG_CONF, "spark.eventLog.dir": f"file://{work}/events"}
            os.makedirs(os.path.join(work, "events"), exist_ok=True)
        t0 = time.perf_counter()
        start_s = run.start(conf)
        inputs_s = run.make_inputs()
        _log(f"session start {start_s:.2f} s, inputs {inputs_s:.2f} s")
        run.check()
        for _ in range(WARMUP_PASSES):
            run.warmup_s += sum(run.one_pass().values())
        setup_s = start_s + run.warmup_s
        _log(f"check and warm-up done after {time.perf_counter() - t0:.1f} s")
        if not args.trace:
            passes = run.passes()
            metrics = end_to_end(run, setup_s, passes)
            for op in run.w.ops:
                ts = sorted(p[op.name] for p in passes)
                print(f"op {op.name} median {statistics.median(ts):.3f} s "
                      f"min {ts[0]:.3f} max {ts[-1]:.3f} n {len(ts)}")
            units = {"setup_s": "s", "pass_s": "s", "rows_per_s": "1/s", "op_s_geomean": "s"}
        else:
            # untraced and traced passes in ABBA order, so a session still
            # warming up weighs on both sides alike
            tracer = tr.Tracer(run.spark)
            untraced, traced = [], []
            _reset_peak_rss()
            for i in range(TRACE_PASSES):
                if i % 2 == 0:
                    untraced.append(sum(run.one_pass().values()))
                _patch_entry_points(tracer, run.w)
                try:
                    traced.append(run.one_pass(tracer, tag=i))
                finally:
                    tracer.unpatch()
                if i % 2 == 1:
                    untraced.append(sum(run.one_pass().values()))
            peak_mb = _peak_rss_mb()
            stop_session(run.spark)
            run.spark = None
            log = tr.read_event_log(os.path.join(work, "events"))
            metrics, rows = per_layer(
                run, tracer, log, start_s, statistics.median(untraced), traced, peak_mb
            )
            units = {k: _unit(k) for k in metrics}
            out = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"{args.workload}-s{args.seed}.jsonl")
            with open(path, "w") as fh:
                fh.writelines(json.dumps(r) + "\n" for r in rows)
            print(f"per-op layer rows: {os.path.relpath(path, ROOT)}")
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    inp = run.inp
    print(f"workload {args.workload}: {inp.rows} input rows, {inp.bytes} parquet bytes, "
          f"{len(run.w.ops)} ops, seed {args.seed}")
    print(f"setup: session start {start_s:.3f} s + warm-up {run.warmup_s:.3f} s; "
          f"input generation and layout {inputs_s:.3f} s, not in any metric")
    print(f"failed_ops_ratio {run.failed / run.attempted:.4f} "
          f"({run.failed} of {run.attempted} ops)")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ratio") or name.endswith("_per_result") or name.endswith("_per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
