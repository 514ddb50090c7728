#!/usr/bin/env python3
"""Record ``references.json``: the checksum every operation must return.

    python3 perfbench/record_references.py [--scale sf0.01 sf0.001]

For each scale and each operation of every workload it

1. compares the registry query behind the operation with its DuckDB
   oracle on the tables of ``data/<scale>``, using the parity check of the
   repository's own tests (``tests/test_parity.py``);
2. takes the checksum of that DataFrame as the reference;
3. runs the operation itself twice through the benchmark's steps and
   requires both checksums to equal the reference.

An operation whose query fails its oracle is still recorded, under
``"oracle_failures"``, so the failure stays visible instead of being
dropped.  Writes only inside the repository (``.perfbench_work``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the registry query whose oracle vouches for each non-query operation
ORACLE_OF = {
    "csv_roundtrip": "q_maplejuice_wordcount",
    "stream_tumbling": "q_stream_tumbling",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", nargs="+", default=["sf0.01", "sf0.001"])
    args = ap.parse_args()
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    import duckdb
    import run

    run_dir = os.path.join(run.WORK, "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run.configure_env(run_dir, trace=False)
    from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
    from cs425_distributed_systems_mp4_mapreduce_spark.session import get_spark
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import TABLE_NAMES
    from test_parity import assert_frames_match

    import ops
    from layers import all_ops

    spark = run.start_session(get_spark, "perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.checkpointLocation",
                   os.path.join(run_dir, "checkpoints"))
    queries = all_queries()
    path = os.path.join(HERE, "references.json")
    out = json.load(open(path)) if os.path.exists(path) else {}
    for scale in args.scale:
        tables = os.path.join(run.DATA, scale)
        duck = duckdb.connect()
        for t in TABLE_NAMES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{tables}/{t}.parquet')")
        catalog = ops.Catalog(spark, tables, os.path.join(run_dir, "out"))
        refs, failures = {}, {}
        for op in all_ops():
            qname = ORACLE_OF.get(op, op)
            if qname in queries:
                spec = queries[qname]
                try:
                    assert_frames_match(spec.fn(spark, tables).toPandas(),
                                        duck.execute(spec.oracle).df(), spec.atol)
                except AssertionError as e:
                    failures[op] = f"{qname} differs from its oracle: {e}"
            refs[op] = ops.checksum(catalog.reference_frame(op))
            for _ in range(2):
                val = None
                for step in catalog.steps(op):
                    val = step.fn(val)
                if val != refs[op]:
                    failures[op] = f"operation returned {val}, reference {refs[op]}"
            print(scale, op, refs[op], failures.get(op, "ok"), flush=True)
        out[scale] = refs
        if failures:
            out.setdefault("oracle_failures", {})[scale] = failures
        else:
            out.get("oracle_failures", {}).pop(scale, None)
            if not out.get("oracle_failures", True):
                del out["oracle_failures"]
        duck.close()
    spark.stop()
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if any(out.get("oracle_failures", {}).values()) else 0


if __name__ == "__main__":
    sys.exit(main())
