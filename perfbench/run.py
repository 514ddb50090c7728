#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, one client per workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run reads the tables in
``data/<scale>``, creates the session through the engine's own
``session.get_spark`` on ``local[<cores available>]``, registers the
tables and runs one warm-up pass; that is ``setup_s``.  It then runs a
fixed number of passes over the workload's operations (about
``--seconds`` of work, see workloads.py), in an order the seed shuffles
anew for each pass.  Every output is checked against
``references.json``; a wrong result, an exception or a timeout counts
as failed.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans, job counts, event log, UDF
profile).  Human-readable lines come first; the last line of stdout is
one JSON object.  See README.md.
"""

from __future__ import annotations

import argparse
import concurrent.futures as cf
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cs425_distributed_systems_mp4_mapreduce_spark"
DATA = os.path.join(HERE, "data")
WORK = os.path.join(ROOT, ".perfbench_work")

#: an operation running longer than this counts as failed and is cancelled
OP_TIMEOUT_S = 60.0
#: once the minimum of passes is measured, no new pass starts after this
#: much wall since process start, so a slow machine still exits well
#: inside the 180 s a run may take
RUN_BUDGET_S = 130.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="sf0.01",
                   help="input tables, a directory under perfbench/data")
    return p.parse_args(argv)


def cores() -> int:
    """Cores this process may run on, as ``nproc`` reports them."""
    return len(os.sched_getaffinity(0))


def start_session(get_spark, app: str):
    """The engine's own session factory on every available core, with
    shuffle partitions sized to the cores as the repository's bench.py
    sizes them (the factory's default of 32 is sized for 32 cores)."""
    n = cores()
    return get_spark(app, cores=n, shuffle_partitions=n)


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside ``run_dir`` and, when
    tracing, turn the uncompressed event log on (a launch-time setting)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp}'",
            "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{log_dir}",
                 "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None


def cpu_times() -> list[int]:
    """The machine's cumulative CPU ticks (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def quantile_tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the (N-10)-th smallest of N samples."""
    s = sorted(samples)
    k = len(s) - 10
    if k < 1:
        return s[0], 0.0
    return s[k - 1], 100.0 * k / len(s)


def quartiles(samples: list[float]) -> tuple[float, float, float]:
    if len(samples) < 2:
        return samples[0], samples[0], samples[0]
    q = statistics.quantiles(samples, n=4)
    return q[0], q[1], q[2]


class Bench:
    def __init__(self, args, tables_dir: str, run_dir: str, refs: dict):
        self.args = args
        self.tables_dir = tables_dir
        self.run_dir = run_dir
        self.refs = refs
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed: list[str] = []
        #: (operation, wall, correct, CPU seconds) per measured operation
        self.samples: list[tuple[str, float, bool, float]] = []
        self.op_counts: list[dict] = []
        #: op id -> the step spans it ran, each its own job group
        self.groups: dict[str, list[str]] = {}
        self._opid = 0
        self._pool = cf.ThreadPoolExecutor(max_workers=1)

    # -- one operation -------------------------------------------------

    def _execute(self, op: str, opid: str) -> list:
        sc = self.spark.sparkContext
        val = None
        self.groups[opid] = []
        with self.tracer.span("bench.op", op):
            for step in self.catalog.steps(op):
                self.groups[opid].append(step.span)
                sc.setJobGroup(f"{opid}|{step.span}", op)
                with self.tracer.span(step.span, op):
                    val = step.fn(val)
        return val

    def run_op(self, op: str) -> tuple[float, bool, float]:
        import meters

        self._opid += 1
        opid = f"op{self._opid}"
        self.attempted += 1
        cpu0 = meters.tree_cpu_s()
        t0 = time.perf_counter()
        fut = self._pool.submit(self._execute, op, opid)
        try:
            got = fut.result(timeout=OP_TIMEOUT_S)
            ok = got == self.refs[op]
            why = f"checksum {got} != reference {self.refs[op]}"
        except cf.TimeoutError:
            ok, why = False, f"timed out after {OP_TIMEOUT_S:.0f}s"
            self._cancel(opid, fut)
        except Exception:  # the operation's own error: record it, keep going
            ok, why = False, traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        cpu = meters.tree_cpu_s() - cpu0
        if not ok:
            self.failed.append(op)
            print(f"FAILED {op}: {why}", file=sys.stderr)
        if self.trace:
            self.op_counts.append(self._counts(op, opid, wall))
        return wall, ok, cpu

    def _cancel(self, opid: str, fut) -> None:
        sc = self.spark.sparkContext
        for span in self.groups.get(opid, []):
            sc.cancelJobGroup(f"{opid}|{span}")
        for q in self.spark.streams.active:
            q.stop()
        try:
            fut.result(timeout=15)
        except Exception:  # cancelled job: its error is the expected outcome
            pass
        if not fut.done():
            raise RuntimeError("an operation ignored cancellation; run aborted")

    def _counts(self, op: str, opid: str, wall: float) -> dict:
        import meters

        sc = self.spark.sparkContext
        out = {"op": op, "opid": opid, "wall": wall,
               "udf_s": meters.udf_profile_s(self.spark), "build": {}, "exec": {}}
        for span in self.groups[opid]:
            c = meters.job_counts(sc, f"{opid}|{span}")
            side = out["build"] if span == "queries.build" else out["exec"]
            for k, v in c.items():
                side[k] = side.get(k, 0) + v
        return out

    # -- the run -------------------------------------------------------

    def setup(self) -> float:
        import meters

        t0 = time.perf_counter()
        self.tracer = meters.Tracer(self.trace)
        self.mem = meters.MemorySampler().start()
        with self.tracer.span("session.get_spark"):
            from cs425_distributed_systems_mp4_mapreduce_spark.session import get_spark

            self.spark = start_session(get_spark, "perfbench")
        self.session_s = time.perf_counter() - t0
        self.mem.watch_jvm(self.spark)
        self.spark.sparkContext.setLogLevel("ERROR")
        # memory-sink checkpoints go to the run directory, not /tmp
        self.spark.conf.set("spark.sql.streaming.checkpointLocation",
                            os.path.join(self.run_dir, "checkpoints"))
        if self.trace:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            self.progress = meters.StreamProgress(self.spark)
        with self.tracer.span("sources.register"):
            from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import (
                load_tables,
            )

            load_tables(self.spark, self.tables_dir)
        import ops
        from workloads import WORKLOADS

        self.catalog = ops.Catalog(self.spark, self.tables_dir,
                                   os.path.join(self.run_dir, "out"))
        self.ops = list(WORKLOADS[self.args.workload]["ops"])
        self.rng = random.Random(self.args.seed)
        self.warmup = [(op, self.run_op(op)[0]) for op in self._pass()]
        self.op_counts.clear()
        self.setup_cpu_s = meters.tree_cpu_s()
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the memory sampler and the engine; later calls do nothing."""
        import meters

        if getattr(self, "spark", None) is not None:
            self.mem.stop()
            meters.stop_engine(self.spark)
            self.spark = None

    def _pass(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def measure(self, deadline: float) -> float:
        """Runs the passes: always the minimum, then as many more of those
        asked as the run budget allows.  Returns the measured wall."""
        from workloads import MIN_PASSES, WORKLOADS

        self.span_mark = len(self.tracer.spans)
        self.bytes_mark = (self.catalog.bytes_written, self.catalog.bytes_input)
        if self.trace:
            self.progress.events.clear()
        t0 = time.perf_counter()
        pass_s = WORKLOADS[self.args.workload]["pass_s"]
        self.passes_asked = max(MIN_PASSES, round(self.args.seconds / pass_s))
        self.passes = 0
        while self.passes < self.passes_asked:
            if self.passes >= MIN_PASSES and time.perf_counter() >= deadline:
                print(f"run budget exhausted after {self.passes} of "
                      f"{self.passes_asked} passes", file=sys.stderr)
                break
            for op in self._pass():
                self.samples.append((op, *self.run_op(op)))
            self.passes += 1
        return time.perf_counter() - t0

    def end_to_end(self, setup_s: float, elapsed: float) -> tuple[dict, dict]:
        """The gated end-to-end metrics, and the wall-clock figures the
        human lines report.  Each operation's figure is its median over
        the passes, so one slow pass does not set it: ``cpu_s_per_op`` is
        the mean over operations of their median CPU seconds, throughput
        one pass's operations over the sum of their median walls, the p50
        the median of the per-op median walls.  A failed operation counts
        as missing every latency limit (its wall is set to the timeout)."""
        lat = [w if ok else OP_TIMEOUT_S for _, w, ok, _ in self.samples]
        by_op: dict[str, list[float]] = {}
        cpu_by_op: dict[str, list[float]] = {}
        for (op, _, _, cpu), w in zip(self.samples, lat):
            by_op.setdefault(op, []).append(w)
            cpu_by_op.setdefault(op, []).append(cpu)
        op_median = {op: statistics.median(ws) for op, ws in by_op.items()}
        op_cpu = {op: statistics.median(cs) for op, cs in cpu_by_op.items()}
        tail, pct = quantile_tail(lat)
        q1, q2, q3 = quartiles(lat)
        metrics = {
            "setup_s": (setup_s, "s"),
            "cpu_s_per_op": (sum(op_cpu.values()) / len(op_cpu), "s"),
            "peak_mem_mb": (self.mem.peak["total"] / 2**20, "MB"),
        }
        info = {"throughput_qpm": 60.0 * len(op_median) / sum(op_median.values()),
                "latency_p50_s": statistics.median(op_median.values()),
                "samples": len(lat), "q1": q1, "q2": q2, "q3": q3,
                "tail": tail, "tail_pct": pct, "op_median": op_median, "op_cpu": op_cpu,
                "elapsed": elapsed, "completed": sum(ok for _, _, ok, _ in self.samples),
                "setup_cpu_s": self.setup_cpu_s}
        return metrics, info


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    with open(os.path.join(HERE, "references.json")) as f:
        refs_all = json.load(f)
    if args.scale not in refs_all:
        print(f"no references for scale {args.scale!r}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    missing = [op for op in WORKLOADS[args.workload]["ops"] if op not in refs_all[args.scale]]
    if missing:
        print(f"no references for {missing}: run record_references.py", file=sys.stderr)
        return 2
    tables_dir = os.path.join(DATA, args.scale)
    os.makedirs(WORK, exist_ok=True)
    for entry in os.listdir(WORK):  # left behind by runs that were killed
        if entry.startswith("run-") and not os.path.exists(f"/proc/{entry[4:]}"):
            shutil.rmtree(os.path.join(WORK, entry), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    configure_env(run_dir, bool(args.trace))
    start = time.perf_counter()
    ticks = cpu_times()
    bench = Bench(args, tables_dir, run_dir, refs_all[args.scale])
    try:
        setup_s = bench.setup()
        elapsed = bench.measure(start + RUN_BUDGET_S)
        if not bench.samples:
            print("no operation was measured", file=sys.stderr)
            return 1
        metrics, info = bench.end_to_end(setup_s, elapsed)
        if args.trace:
            import layers

            metrics = layers.per_layer(bench, metrics, info)
    finally:
        bench.stop()
        bench._pool.shutdown(wait=False)
        shutil.rmtree(run_dir, ignore_errors=True)
    # time other tenants of the machine took from this one: a run with a
    # large share here was measured on a contended host
    delta = [b - a for a, b in zip(ticks, cpu_times())]
    info["steal_pct"] = 100.0 * delta[7] / max(1, sum(delta))
    report(args, bench, metrics, info)
    return 0


def report(args, bench: Bench, metrics: dict, info: dict) -> None:
    n_failed = len(bench.failed)
    print(f"workload {args.workload}  seed {args.seed}  scale {args.scale}  "
          f"local[{cores()}]  closed loop, 1 client  trace {args.trace}  "
          f"cpu steal {info['steal_pct']:.1f}%")
    n = info["samples"]
    tail = (f"{info['tail']:.3f} s = p{info['tail_pct']:.0f}"
            if info["tail_pct"] > 50 else
            "n/a: the highest percentile with ten samples beyond it "
            f"is p{max(0.0, info['tail_pct']):.0f}, not above the median")
    print(f"  {bench.passes} passes ({bench.passes_asked} asked), "
          f"{n} measured operations in {info['elapsed']:.2f} s ({info['completed']} correct)")
    print(f"  wall clock (not gated, moves with the host's load): "
          f"throughput_qpm {info['throughput_qpm']:.2f} 1/min; "
          f"latency_p50_s {info['latency_p50_s']:.3f} s (median of per-op medians); "
          f"latency quartiles {info['q1']:.3f} / {info['q2']:.3f} / {info['q3']:.3f} s "
          f"({n} samples); latency_tail_s {tail}")
    print("  median wall / CPU s per operation: " + ", ".join(
        f"{op} {w:.3f} / {info['op_cpu'][op]:.2f}" for op, w in sorted(info["op_median"].items())))
    print("  warm-up wall per operation: " + ", ".join(
        f"{op} {w:.3f}" for op, w in bench.warmup))
    peak = {k: v / 2**20 for k, v in bench.mem.peak.items() if k != "workers"}
    print("  peak memory MB: " + ", ".join(f"{k} {v:.0f}" for k, v in peak.items())
          + f"; set-up CPU {info['setup_cpu_s']:.1f} s")
    print(f"  failed_frac {n_failed}/{bench.attempted} = "
          f"{n_failed / bench.attempted:.4f}"
          + (f"  failed: {sorted(set(bench.failed))}" if n_failed else ""))
    for name, (value, unit) in metrics.items():
        print(f"  {name:<40} {value:>14.4f} {unit}")
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": bench.attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    sys.exit(main())
