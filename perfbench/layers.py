"""Per-layer metrics of a traced run.

Span-derived times and job counts are per measured operation, averaged
over all of the workload's operations (so the layer times add up to the
mean operation wall).  The probes at the end time direct calls into one
layer on the workload's inputs; each runs once, after the measured
passes, so it meets warm caches.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import defaultdict

from pyspark import cloudpickle
from pyspark.sql import functions as F

import meters
from workloads import WORKLOADS

# the MapleJuice probes ship lambdas defined here to Python workers,
# which cannot import this directory: pickle them by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

#: layers whose self time is reported (``bench`` is the benchmark's own
#: work between steps: building step lists and comparing checksums)
SELF_LAYERS = ["bench", "queries", "exec", "sources"]

EVENT_LOG_METRICS = {
    "executor_run_s": "s", "executor_cpu_s": "s", "task_wait_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "gc_s": "s", "aqe_replans": "count",
}

SQL_FILTER = "SELECT ALL FROM orders WHERE 1-URGENT"
SQL_JOIN = ("SELECT ALL FROM nation, region "
            "WHERE nation.n_regionkey = region.r_regionkey")


def all_ops() -> list[str]:
    """Every operation a run may check: the loops' and the stream probe's."""
    seen: list[str] = []
    for w in WORKLOADS.values():
        seen += [op for op in w["ops"] if op not in seen]
    return seen + ["stream_tumbling"]


def metric_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    units = {
        "session.get_spark_s": "s",
        "sources.scan_s": "s", "sources.write_s": "s", "sources.read_back_s": "s",
        "sources.bytes_written": "bytes", "sources.bytes_per_input_byte": "ratio",
        "plans.parse_s": "s", "plans.build_s": "s",
        "queries.build_s": "s", "queries.build_jobs": "count",
        "queries.build_share": "ratio",
        "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
        "exec.tasks": "count", "exec.failed_tasks": "count",
        **{f"exec.{k}": u for k, u in EVENT_LOG_METRICS.items()},
        "exec.overhead_probe_s": "s",
        "operators.minhash_s": "s", "operators.minhash_candidates": "count",
        "operators.minhash_pairs": "count", "operators.minhash_precision": "ratio",
        "operators.prefix_s": "s", "operators.prefix_candidates": "count",
        "operators.prefix_pairs": "count", "operators.prefix_precision": "ratio",
        "operators.cosine_s": "s", "operators.python_udf_s": "s",
        "operators.maple_s": "s", "operators.juice_s": "s",
        "operators.maple_pipe_s": "s", "operators.juice_pipe_s": "s",
        "streaming.replay_s": "s", "streaming.batches": "count",
        "streaming.batch_p50_s": "s", "streaming.input_rows_per_s": "1/s",
        "proc.jvm_heap_live_mb": "MB", "proc.jvm_offheap_mb": "MB",
        "proc.jvm_rss_mb": "MB", "proc.py_worker_rss_mb": "MB",
        "proc.py_workers": "count",
        **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
        "trace.throughput_qpm": "1/min", "trace.latency_p50_s": "s",
        "trace.cpu_s_per_op": "s",
    }
    for op in all_ops()[:-1]:
        units[f"op.{op}.s"] = "s"
        units[f"op.{op}.jobs"] = "count"
    return units


def _timed(tracer, name: str, fn):
    t0 = time.perf_counter()
    with tracer.span(name):
        out = fn()
    return time.perf_counter() - t0, out


def _scan_probe(bench) -> float:
    total = 0.0
    for t in WORKLOADS[bench.args.workload]["tables"]:
        path = os.path.join(bench.tables_dir, f"{t}.parquet")
        total += _timed(bench.tracer, "sources.scan", lambda: bench.spark.read.parquet(path)
                        .write.format("noop").mode("overwrite").save())[0]
    return total


def _plans_probe(bench) -> dict[str, float]:
    from cs425_distributed_systems_mp4_mapreduce_spark.plans.sql_frontend import (
        parse_maplejuice_sql,
        run_maplejuice_sql,
    )

    parse, build = [], []
    for _ in range(5):
        for q in (SQL_FILTER, SQL_JOIN):
            parse.append(_timed(bench.tracer, "plans.parse",
                                lambda: parse_maplejuice_sql(q))[0])
            build.append(_timed(bench.tracer, "plans.build", lambda: run_maplejuice_sql(
                bench.spark, bench.tables_dir, q))[0])
    return {"plans.parse_s": statistics.median(parse),
            "plans.build_s": statistics.median(build)}


def _operator_probe(bench) -> dict[str, float]:
    from cs425_distributed_systems_mp4_mapreduce_spark import operators as pkg_ops
    from cs425_distributed_systems_mp4_mapreduce_spark.operators import (
        dedup,
        maplejuice,
        similarity,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    spark, tr, td = bench.spark, bench.tracer, bench.tables_dir
    docs = table(spark, td, "documents")
    out: dict[str, float] = {}
    _, cand = _timed(tr, "operators.minhash_candidates",
                     lambda: dedup.minhash_banded_candidate_pairs(docs).count())
    out["operators.minhash_s"], pairs = _timed(
        tr, "operators.minhash",
        lambda: dedup.minhash_banded_near_pairs(docs, jaccard_threshold=0.5).count())
    out.update({"operators.minhash_candidates": cand, "operators.minhash_pairs": pairs,
                "operators.minhash_precision": pairs / cand if cand else 0.0})
    sets = docs.select("doc_id", F.array_distinct(dedup.shingle_col("text", 3)).alias("s"))
    _, cand = _timed(tr, "operators.prefix_candidates",
                     lambda: dedup.prefix_filter_candidate_pairs(sets, 0.8).count())
    out["operators.prefix_s"], pairs = _timed(
        tr, "operators.prefix",
        lambda: dedup.prefix_filter_pairs(docs, jaccard_threshold=0.8).count())
    out.update({"operators.prefix_candidates": cand, "operators.prefix_pairs": pairs,
                "operators.prefix_precision": pairs / cand if cand else 0.0})
    emb = table(spark, td, "embeddings")
    out["operators.cosine_s"] = _timed(
        tr, "operators.cosine",
        lambda: similarity.pairwise_cosine_within(emb, group_col="label").count())[0]

    lines = docs.select("text").rdd.map(lambda r: r.text)
    mapped = maplejuice.maple(lines, lambda line: [(w, 1) for w in line.split(" ")], 8)
    mapped = mapped.cache()
    out["operators.maple_s"] = _timed(tr, "operators.maple", mapped.count)[0]
    out["operators.juice_s"] = _timed(tr, "operators.juice", lambda: maplejuice.juice(
        mapped, lambda w, counts: (w, sum(counts)), 8).count())[0]
    mapped.unpersist()
    exes = os.path.join(os.path.dirname(os.path.dirname(pkg_ops.__file__)), "exes")
    py = sys.executable
    piped = maplejuice.maple_pipe(
        lines, f"{py} {os.path.join(exes, 'wordcount_maple.py')}", 8).cache()
    out["operators.maple_pipe_s"] = _timed(tr, "operators.maple_pipe", piped.count)[0]
    out["operators.juice_pipe_s"] = _timed(tr, "operators.juice_pipe", lambda: maplejuice.juice_pipe(
        piped, f"{py} {os.path.join(exes, 'wordcount_juice.py')}", 8).count())[0]
    piped.unpersist()
    return out


def _overhead_probe(bench) -> float:
    """bench.py's noise floor: a trivial one-exchange aggregate."""
    def once():
        return _timed(bench.tracer, "exec.overhead_probe", lambda: (
            bench.spark.range(1000)
            .groupBy((F.col("id") % 16).alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max(F.xxhash64("k", "n")).alias("c"))
            .collect()))[0]

    once()
    return statistics.median(once() for _ in range(5))


def _event_log(run_dir: str) -> dict:
    """Spark 4 writes a rolling log: a directory of ``events_<n>_<app>``
    files, parsed in order."""
    root = os.path.join(run_dir, "eventlog")
    paths = []
    for entry in sorted(os.listdir(root)):
        p = os.path.join(root, entry)
        if os.path.isdir(p):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            paths += [os.path.join(p, f) for f in parts]
        else:
            paths.append(p)
    return meters.parse_event_log(paths)


def per_layer(bench, e2e: dict, info: dict) -> dict[str, tuple[float, str]]:
    """Runs the workload's probes, stops the session and returns every
    per-layer metric as name → (value, unit).  ``e2e`` and ``info`` are
    the traced run's own end-to-end figures (``Bench.end_to_end``)."""
    wl = bench.args.workload
    tr = bench.tracer
    probe_mark = len(tr.spans)
    m: dict[str, float] = defaultdict(float)
    m["sources.scan_s"] = _scan_probe(bench)
    m["exec.overhead_probe_s"] = _overhead_probe(bench)
    probes = WORKLOADS[wl]["probes"]
    if "plans" in probes:
        m.update(_plans_probe(bench))
    if "operators" in probes:
        m.update(_operator_probe(bench))
    if "stream" in probes:
        # checked and counted like any operation, kept out of the loop's figures
        bench.run_op("stream_tumbling")
        bench.op_counts.pop()
    bench.stop()  # flushes the event log
    events = _event_log(bench.run_dir)

    counts = bench.op_counts
    n = max(1, len(counts))
    walls = sum(c["wall"] for c in counts)
    spans = tr.spans[bench.span_mark:probe_mark]

    def span_total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    m["session.get_spark_s"] = bench.session_s
    m["sources.write_s"] = span_total("sources.write") / n
    m["sources.read_back_s"] = span_total("sources.read_back") / n
    written = bench.catalog.bytes_written - bench.bytes_mark[0]
    read = bench.catalog.bytes_input - bench.bytes_mark[1]
    m["sources.bytes_written"] = written / n
    m["sources.bytes_per_input_byte"] = written / read if read else 0.0
    m["queries.build_s"] = span_total("queries.build") / n
    m["queries.build_jobs"] = sum(c["build"].get("jobs", 0) for c in counts) / n
    m["queries.build_share"] = span_total("queries.build") / walls if walls else 0.0
    m["exec.s"] = span_total("exec") / n
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"exec.{k}"] = sum(c["exec"].get(k, 0) for c in counts) / n
    for c in counts:
        for span in bench.groups[c["opid"]]:
            if span == "queries.build":
                continue
            for k, v in events.get(f"{c['opid']}|{span}", {}).items():
                m[f"exec.{k}"] += v / n
    m["operators.python_udf_s"] = sum(c["udf_s"] for c in counts) / n

    runs = [s["end"] - s["start"] for s in tr.spans[probe_mark:]
            if s["name"] == "streaming.run"]
    batches = [b for evs in bench.progress.events.values() for b in evs]
    data = [b for b in batches if b["rows"] > 0]
    m["streaming.replay_s"] = statistics.mean(runs) if runs else 0.0
    m["streaming.batches"] = len(batches) / len(runs) if runs else 0.0
    m["streaming.batch_p50_s"] = meters.median(b["ms"] / 1000 for b in data)
    busy = sum(b["ms"] for b in data) / 1000
    m["streaming.input_rows_per_s"] = sum(b["rows"] for b in data) / busy if busy else 0.0

    m["proc.jvm_heap_live_mb"] = bench.mem.peak["heap_live"] / 2**20
    m["proc.jvm_offheap_mb"] = bench.mem.peak["offheap"] / 2**20
    m["proc.jvm_rss_mb"] = bench.mem.peak["jvm_rss"] / 2**20
    m["proc.py_worker_rss_mb"] = bench.mem.peak["python"] / 2**20
    m["proc.py_workers"] = bench.mem.peak["workers"]
    selfs = tr.self_times(bench.span_mark, probe_mark)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n
    m["trace.throughput_qpm"] = info["throughput_qpm"]
    m["trace.latency_p50_s"] = info["latency_p50_s"]
    m["trace.cpu_s_per_op"] = e2e["cpu_s_per_op"][0]

    by_op = defaultdict(list)
    for c in counts:
        jobs = sum(side.get("jobs", 0) for side in (c["build"], c["exec"]))
        by_op[c["op"]].append((c["wall"], jobs))
    for op, xs in by_op.items():
        m[f"op.{op}.s"] = statistics.median(w for w, _ in xs)
        m[f"op.{op}.jobs"] = statistics.median(j for _, j in xs)

    tr.dump(os.path.join(os.path.dirname(bench.run_dir), f"trace-{wl}-{bench.args.seed}.json"))
    return {k: (float(m.get(k, 0.0)), u) for k, u in metric_units().items()}
