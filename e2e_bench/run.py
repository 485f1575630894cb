"""Benchmark entry point.

    python3 e2e_bench/run.py --workload telemetry_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints the run record as one JSON line and
then, as the last line of stdout, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``.

Protocol, the same for every workload: one cold set-up and cold pass on the
fresh JVM, ``WARMUP_PASSES`` warm-up passes (the record says whether they
converged), the workload's ``setup_reps`` timed set-ups, then a fixed count
of timed passes. ``--seconds`` does not size the timed region (a time budget
would let host speed pick which passes are timed); the record notes when
the region ran past it. Everything the run writes goes under one directory
inside the benchmark directory, removed at exit; a traced run also leaves
its spans in ``e2e_bench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

T_PROCESS = time.perf_counter()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent

#: pinned identically for every run: Spark's local cores and the JVM heap
CORES = 2
HEAP = "3g"
#: warm-up passes before timing: as many as a run of about a minute allows;
#: whether they converged (``_converged``) is recorded, not assumed
WARMUP_PASSES = 6
WARMUP_WINDOW, WARMUP_TOL, WARMUP_SLOPE = 3, 0.10, 0.05
#: timed passes per workload (a traced run times the same count, half traced)
TIMED_PASSES = {"telemetry_sql": 6, "docsis_ingest": 7}
#: engine environment knobs cleared so every run sees the engine defaults
ENGINE_ENV = (
    "SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_MAX_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_ADVISORY", "SPARK_GRAFT_MIMIC",
)


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(TIMED_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(run_dir: Path) -> dict[str, str]:
    """Point every temporary location of Python, the JVM and Spark into
    ``run_dir`` and pin the engine's settings. Returns the extra Spark conf."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    for k in ENGINE_ENV:
        os.environ.pop(k, None)
    os.environ.update(
        TMPDIR=str(tmp),
        TZ="UTC",
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_DRIVER_MEMORY=HEAP,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    time.tzset()
    tempfile.tempdir = str(tmp)
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir / 'derby'}"
    return {
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.sql.streaming.checkpointLocation": str(run_dir / "checkpoints"),
        "spark.driver.extraJavaOptions": java,
        "spark.executor.extraJavaOptions": java,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def _host_probe_s() -> float:
    """Best of 3 timings of a fixed pure-Python loop: how fast this host ran
    at that moment. Recorded, not gated, to tell host drift from a change."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t)
    return best


def _loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _median(xs) -> float:
    return float(statistics.median(xs))


def _p75(xs) -> float:
    """Nearest-rank 75th percentile: with 40 or more samples, at least 10
    lie beyond it."""
    s = sorted(xs)
    return float(s[max(0, -(-3 * len(s) // 4) - 1)])


def _converged(walls: list[float]) -> bool:
    """The last ``WARMUP_WINDOW`` pass walls agree within ``WARMUP_TOL`` of
    their median, and that median is within ``WARMUP_SLOPE`` of the median
    of the window before it (the walls have stopped falling)."""
    if len(walls) < 2 * WARMUP_WINDOW:
        return False
    last, prev = walls[-WARMUP_WINDOW:], walls[-2 * WARMUP_WINDOW:-WARMUP_WINDOW]
    mid = statistics.median(last)
    return (max(last) - min(last)) / mid <= WARMUP_TOL and (
        mid >= (1 - WARMUP_SLOPE) * statistics.median(prev)
    )


class Protocol:
    """Runs one workload through the protocol and keeps the raw samples."""

    def __init__(self, wl, spark, trace: bool) -> None:
        from e2e_bench.layers import JobStore

        self.wl = wl
        self.trace = trace
        self.jobs = JobStore(spark)
        self.units: list[dict] = []  # traced set-ups and passes

    def _unit(self, kind: str, fn, *args):
        """Run ``fn`` (a set-up or a pass), traced when tracing is on."""
        if not self.trace or kind == "untraced":
            t = time.perf_counter()
            return fn(*args), time.perf_counter() - t
        tracer = self.wl.tracer
        gc0 = self.jobs.gc_s()
        tracer.install()
        try:
            t = time.perf_counter()
            with tracer.root_span(kind) as sid:
                out = fn(*args)
            wall = time.perf_counter() - t
        finally:
            tracer.uninstall()
        self.units.append({
            "kind": kind, "sid": sid, "wall": wall, "gc_s": self.jobs.gc_s() - gc0,
            "heap_mb": self.jobs.heap_mb(), "result": out,
        })
        return out, wall

    def run(self, n_timed: int, seconds: float) -> dict:
        wl = self.wl
        ctx, cold_setup = self._unit("untraced", wl.setup)
        cold = wl.run_pass(ctx)
        wl.after_pass(cold)
        warm: list[float] = []
        for _ in range(WARMUP_PASSES):
            p = wl.run_pass(ctx)
            wl.after_pass(p)
            warm.append(p.wall)
        setups = [self._unit("setup", wl.setup)[1] for _ in range(wl.setup_reps)]
        wl.timed = True
        passes, traced = [], []
        t0 = time.perf_counter()
        for i in range(n_timed):
            kind = "pass" if self.trace and i % 2 == 0 else "untraced"
            p, _ = self._unit(kind, wl.run_pass, ctx)
            wl.after_pass(p)
            passes.append(p)
            traced.append(kind == "pass")
        timed_s = time.perf_counter() - t0
        walls = [p.wall for p in passes]
        half = len(walls) // 2
        return {
            "cold_setup_s": cold_setup,
            "cold_pass_s": cold.wall,
            "warmup": {
                "pass_walls_s": warm,
                "converged": _converged(warm),
                "rule": f"last {WARMUP_WINDOW} walls within {WARMUP_TOL:.0%} of their median, "
                f"that median within {WARMUP_SLOPE:.0%} of the previous {WARMUP_WINDOW}'s; "
                f"over {WARMUP_PASSES} passes",
            },
            "setups_s": setups,
            "passes": passes,
            "traced": traced,
            "timed_region_s": timed_s,
            "timed_region_over_seconds": timed_s > seconds,
            "trend": {
                "first_half_median_s": _median(walls[:half]),
                "second_half_median_s": _median(walls[half:]),
            },
        }

    def per_layer(self, untraced_walls: list[float]) -> dict[str, float]:
        """Per-layer metrics from the traced set-ups and passes."""
        tracer = self.wl.tracer
        self.jobs.load()
        off = tracer.epoch_offset
        spans_by_sid = {s.sid: s for s in tracer.spans}

        def med(xs) -> float:
            xs = list(xs)
            return _median(xs) if xs else 0.0

        rows: dict[str, list[float]] = {}
        setup_rows: dict[str, list[float]] = {}
        events: dict[str, list[float]] = {}
        for u in self.units:
            root = spans_by_sid[u["sid"]]
            sub = tracer.subtree(u["sid"])
            selfs = tracer.self_times([root, *sub])
            row = {
                f"{name}_s" if not name.startswith(("operators", "parse")) else f"{name}.self_s": v
                for name, v in selfs.items() if name != root.name
            }
            row["trace.residual_s"] = selfs[root.name]
            row["functions.register_calls"] = sum(s.name == "functions.register" for s in sub)
            row["functions.rewrite_calls"] = sum(s.name == "functions.rewrite" for s in sub)
            if u["kind"] == "setup":
                for k, v in row.items():
                    setup_rows.setdefault(k, []).append(v)
                continue
            actions = [(s.start + off, s.end + off) for s in sub if s.name == "exec.action"]
            row.update(self.jobs.exec_metrics(
                root.start + off, root.end + off, actions, CORES))
            row["jvm.gc_s"] = u["gc_s"]
            row["jvm.heap_mb"] = u["heap_mb"]
            row["plans.commits"] = sum(s.name == "plans.commit" for s in sub)
            for name in ("plans.commit", "plans.scan", "plans.compact"):
                events.setdefault(name, []).extend(s.dur for s in sub if s.name == name)
            for k, v in row.items():
                rows.setdefault(k, []).append(v)
            d = u["result"].detail
            if "durations" in d:  # streaming progress, per micro-batch
                for key, name in (
                    ("triggerExecution", "trigger_s"), ("getBatch", "get_batch_s"),
                    ("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                    ("walCommit", "wal_commit_s"),
                ):
                    events.setdefault(f"streaming.{name}", []).extend(d["durations"][key])
                events.setdefault("streaming.rows_per_batch", []).extend(d["rows_per_batch"])
                for k in ("manifest_bytes_per_commit", "bytes_written_per_row",
                          "stored_bytes_per_row"):
                    events.setdefault(f"plans.{k}", []).append(d[k])
                events.setdefault("plans.scan_files_share", []).extend(d["scan_files_share"])

        traced_walls = [u["wall"] for u in self.units if u["kind"] == "pass"]
        out = {name: med(rows.get(name, [])) for name in PER_LAYER_PER_PASS}
        out.update({
            "plans.commit_s": med(events.get("plans.commit", [])),
            "plans.scan_s": med(events.get("plans.scan", [])),
            "plans.compact_s": med(events.get("plans.compact", [])),
            "plans.commit_conflicts": float(tracer.conflicts),
            "trace.overhead_s": med(traced_walls) - med(untraced_walls),
        })
        for name in PER_LAYER_EVENTS:
            out[name] = med(events.get(name, []))
        for name in PER_LAYER_SETUP:
            out[name] = med(setup_rows.get(name.removeprefix("setup."), []))
        return out


#: per traced pass, median over traced passes
PER_LAYER_PER_PASS = (
    "session.new_session_s", "tables.load_s", "queries.build_s", "operators.self_s",
    "parse.self_s", "functions.register_s", "functions.register_calls",
    "functions.rewrite_s", "functions.rewrite_calls", "functions.ch_sql_s",
    "streaming.build_s",
    "exec.driver_s", "exec.run_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_retries", "exec.shuffle_bytes", "exec.spill_bytes", "exec.task_busy_share",
    "plans.commits", "jvm.gc_s", "jvm.heap_mb", "trace.residual_s",
)
#: per event (micro-batch, commit, scan, pass table), median over traced passes
PER_LAYER_EVENTS = (
    "streaming.trigger_s", "streaming.get_batch_s", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.rows_per_batch",
    "plans.manifest_bytes_per_commit", "plans.bytes_written_per_row",
    "plans.stored_bytes_per_row", "plans.scan_files_share",
)
#: per traced set-up, median over the set-up repetitions
PER_LAYER_SETUP = (
    "setup.session.new_session_s", "setup.tables.load_s", "setup.functions.register_s",
    "setup.streaming.build_s", "setup.trace.residual_s",
)


def main() -> int:
    args = _args()
    run_dir = BENCH / "_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    conf = _isolate(run_dir)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    spark = None
    try:
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "drift": {
                "host_probe_s": _host_probe_s(),
                "loadavg_start": _loadavg(),
                "nproc": os.cpu_count(),
                "local_cores": CORES,
                "driver_heap": HEAP,
            },
        }
        sys.path.insert(0, str(ROOT))
        from e2e_bench.layers import Tracer
        from e2e_bench.workloads import WORKLOADS
        from mb8600_clickhouse_spark.session import get_spark

        spark = get_spark(f"e2e_bench-{args.workload}", extra_conf=conf)
        spark.range(1).count()
        record["jvm_start_s"] = time.perf_counter() - T_PROCESS
        tracer = Tracer() if args.trace else None
        wl = WORKLOADS[args.workload](spark, str(run_dir), args.seed, tracer)
        n_timed = TIMED_PASSES[args.workload]
        t = time.perf_counter()
        record["inputs"] = wl.prepare(1 + WARMUP_PASSES + n_timed)
        record["inputs_s"] = time.perf_counter() - t
        proto = Protocol(wl, spark, bool(args.trace))
        raw = proto.run(n_timed, args.seconds)
        passes = raw.pop("passes")
        traced = raw.pop("traced")
        t = time.perf_counter()
        n_checks, failures = wl.check()
        record["check_s"] = time.perf_counter() - t
        untraced = [p for p, tr in zip(passes, traced) if not tr]
        ops = [x for p in untraced for x in p.ops]
        walls = [p.wall for p in untraced]
        end_to_end = {
            "setup_s": _median(raw["setups_s"]),
            "cold_pass_s": raw["cold_pass_s"],
            "pass_s": _median(walls),
            "op_p50_s": _median(ops),
            "op_p75_s": _p75(ops),
            "rows_per_s": _median([p.rows / p.wall for p in untraced]),
        }
        record.update(raw)
        record.update({
            "op": wl.op,
            "timed_passes": len(passes),
            "op_samples": len(ops),
            "pass_walls_s": [p.wall for p in passes],
            "end_to_end": end_to_end,
            "workload_metrics": wl.summary(untraced),
            "checks": n_checks,
            "failures": failures,
        })
        if args.trace:
            values = proto.per_layer([p.wall for p in untraced])
            out_dir = BENCH / "out"
            out_dir.mkdir(exist_ok=True)
            spans = out_dir / f"spans-{args.workload}-seed{args.seed}.json"
            tracer.write(str(spans))
            record["spans_file"] = str(spans.relative_to(ROOT))
        else:
            values = end_to_end
        record["drift"]["loadavg_end"] = _loadavg()
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        result = {
            "correct": not failures,
            "attempted": len(ops) + n_checks,
            "failed": len(failures),
            "metrics": {
                m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                for m in spec["per_layer" if args.trace else "end_to_end"]
            },
        }
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):  # other runs may still use it
                run_dir.parent.rmdir()
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
