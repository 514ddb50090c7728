"""The accumulator policy (functions/parity.py) changes only how a
registry query sums: built under ``double`` (the form bench.py times)
it must compute the same rows as its default ``exact`` form, values
within float-summation noise."""

from __future__ import annotations

import numpy as np
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.functions.parity import (
    accumulator,
    current_accumulator,
)
from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
from conftest import SF_T2

#: the headline queries that sum through the policy, and, as a control,
#: q_maplejuice_wordcount, which has no sum
POLICY_QUERIES = [
    "q_agg_pricing",
    "q_join_threeway",
    "q_maplejuice_wordcount",
    "q_stream_tumbling",
    "q_topk_revenue",
    "q_tpch_q18",
    "q_tpch_q9",
    "q_window_running",
]


def _build(spark, name, kind):
    with accumulator(kind):
        return all_queries()[name].fn(spark, SF_T2)


# the name predates the policy (the double form is the "fast variant",
# the exact form the declared one); kept so test ids stay stable
@pytest.mark.parametrize("name", POLICY_QUERIES)
def test_fast_variant_matches_declared(spark, name):
    fast = _build(spark, name, "double").toPandas()
    slow = _build(spark, name, "exact").toPandas()
    assert sorted(fast.columns) == sorted(slow.columns)
    assert len(fast) == len(slow)
    cols = sorted(fast.columns)
    # align rows on NON-float keys only — float sums differ by ulps
    # between the two accumulator types, which would scramble a sort
    keys = [c for c in cols if fast[c].dtype.kind != "f"]
    f = fast[cols].sort_values(keys).reset_index(drop=True)
    s = slow[cols].sort_values(keys).reset_index(drop=True)
    for c in cols:
        a, b = f[c].to_numpy(), s[c].to_numpy()
        if a.dtype.kind == "f":
            assert np.allclose(a, b, rtol=1e-9, atol=1e-6), (name, c)
        else:
            assert (a == b).all(), (name, c)


def test_policy_defaults_to_exact_and_is_restored():
    assert current_accumulator() == "exact"
    with accumulator("double"):
        assert current_accumulator() == "double"
        with accumulator("exact"):
            assert current_accumulator() == "exact"
        assert current_accumulator() == "double"
    assert current_accumulator() == "exact"
    with pytest.raises(RuntimeError):
        with accumulator("double"):
            raise RuntimeError("inside the policy")
    assert current_accumulator() == "exact"
    with pytest.raises(ValueError):
        with accumulator("fast"):
            pass
    assert current_accumulator() == "exact"


def _sum_input_types(df) -> list[str]:
    """The input type of every sum in the optimized plan of ``df``."""
    out: list[str] = []

    def each(seq):
        return (seq.apply(i) for i in range(seq.size()))

    def visit_expr(e):
        if e.prettyName() == "sum":
            out.append(e.child().dataType().simpleString())
        for c in each(e.children()):
            visit_expr(c)

    def visit_plan(p):
        for e in each(p.expressions()):
            visit_expr(e)
        for c in each(p.children()):
            visit_plan(c)

    visit_plan(df._jdf.queryExecution().optimizedPlan())
    return out


@pytest.mark.parametrize("name", POLICY_QUERIES)
def test_exact_policy_plans_no_double_sum(spark, name):
    exact = _sum_input_types(_build(spark, name, "exact"))
    double = _sum_input_types(_build(spark, name, "double"))
    # every sum under exact adds decimals; under double, none does
    assert all(t.startswith("decimal") for t in exact), (name, exact)
    assert all(t == "double" for t in double), (name, double)
    assert len(exact) == len(double), name
