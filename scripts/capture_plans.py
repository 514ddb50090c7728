#!/usr/bin/env python
"""Dump .explain("formatted") for queries into plans/<round>/<query>_<suffix>.txt:
the form bench.py times (built under the ``double`` accumulator policy,
functions/parity.py) and, beside it when the plans differ, the declared
exact (decimal-parity) form the oracle checks.

Usage: python scripts/capture_plans.py <round> before|after [query ...]

With no query names, every headline query is captured.  Input tables
come from the directory named by $SPARK_GRAFT_SF_DIR (required).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cs425_distributed_systems_mp4_mapreduce_spark.functions.parity import (  # noqa: E402
    with_accumulator,
)
from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries  # noqa: E402
from cs425_distributed_systems_mp4_mapreduce_spark.session import get_spark  # noqa: E402


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _shape(plan: str) -> str:
    # expression and exchange ids differ between any two builds
    return re.sub(r"(#|plan_id=)\d+", r"\1", plan).strip()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    round_, suffix, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = os.path.join(ROOT, "plans", round_)
    os.makedirs(out_dir, exist_ok=True)
    qs = all_queries()
    names = only or sorted(n for n, s in qs.items() if s.headline)
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = qs[name].fn
        plan = _plan(with_accumulator("double", fn)(spark, sf_dir))
        parts = [f"== {name} (bench form: double accumulator) ==\n\n{plan}"]
        declared = _plan(fn(spark, sf_dir))
        if _shape(declared) != _shape(plan):
            parts.append(f"\n\n== {name} (declared form: exact accumulator) ==\n\n{declared}")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write("".join(parts))
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
