"""Parity-safe aggregation: bit-identical results on Spark and DuckDB.

Problem: double summation is order-dependent; Spark (partial aggs over
32 shuffle partitions) and DuckDB (its own morsel parallelism) add in
different orders, so SUM(double) differs in the last ulps and *any*
fixed rounding has a cliff at the quantum boundary.

Solution used across every declared query: aggregate in DECIMAL —
exact, associative, order-independent — then cast the finished sum back
to DOUBLE.  Both engines convert the same exact decimal to the same
nearest double, so results are bit-identical with NO tolerance:

    Spark : F.sum(col.cast("decimal(18,6)")).cast("double")
    DuckDB: CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)

Per-row double arithmetic (e.g. price*(1-disc)*(1+tax)) is already
bit-identical across engines (same IEEE-754 ops in the same order), so
only *aggregation* needs the decimal detour.  Derived stats (avg,
stddev) are rebuilt from exact sums with identical double post-ops on
both sides.

DECIMAL(18,6) fits |x| < 1e12 at µ-precision 1e-6 — ample for every
testdata column (prices ~1e5, values ~1e3); sums promote to wider
decimals (Spark 28,6 / DuckDB 38,6) so 100 TB-scale row counts do not
overflow either.  Precision 18 is deliberate: it is the widest decimal
Spark backs with a plain Long (precision 19+ switches the hot
aggregation loop to Int128/BigDecimal), so the parity detour stays
cheap across all ~150 oracled queries.  The domain bound is ENFORCED
loudly, not silently: under ANSI mode (Spark 4 default) a per-row
value ≥ 1e12 raises NUMERIC_VALUE_OUT_OF_RANGE instead of corrupting
the sum with a NULL (verified by tests/test_events_adversarial.py's
in-domain-outlier choice; a 1e12 probe value fails the job with a
clear error naming this cast).  Columns that can legitimately exceed
the domain should aggregate doubles and ROUND(·,4) instead — the
other sanctioned parity pattern.

Accumulator policy.  The decimal detour exists for cross-engine hash
equality, not semantics, and it costs 2-6x on aggregate-heavy shapes.
So the accumulator is a context-local policy with two values:
``exact`` (the default, described above) and ``double`` (plain
codegen'd double summation, order-dependent in the last ulps).  It is
read in one place, :func:`_sum`, which :func:`dsum`, :func:`davg`,
:func:`dsum_partial` and the frame form :func:`dsum_over` all go
through; nothing else in a query changes with it.  A query built
outside :func:`accumulator` — every ``__spark_entry__`` caller, oracle
check and test — gets the exact form.  Only the timing harnesses enter ``double``: bench.py,
scripts/scale_probe.py's wall ladders, and scripts/capture_plans.py
(which records that form beside the declared one);
tests/test_bench_variants.py holds the two forms to the same rows and
values within float-summation noise.  The policy applies while the
DataFrame is BUILT (the sum expressions are fixed then), so a plan
built under ``double`` stays double when it runs later.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

DEC = "decimal(18,6)"

ACCUMULATORS = ("exact", "double")
_ACCUMULATOR: ContextVar[str] = ContextVar("accumulator", default="exact")


@contextmanager
def accumulator(kind: str) -> Iterator[None]:
    """Build queries under accumulator ``kind`` (``exact``|``double``);
    the previous policy is restored on exit, also on an exception."""
    if kind not in ACCUMULATORS:
        raise ValueError(f"accumulator must be one of {ACCUMULATORS}, got {kind!r}")
    token = _ACCUMULATOR.set(kind)
    try:
        yield
    finally:
        _ACCUMULATOR.reset(token)


def current_accumulator() -> str:
    return _ACCUMULATOR.get()


def with_accumulator(kind: str, fn: Callable) -> Callable:
    """``fn`` wrapped so that whatever it builds is built under ``kind``."""

    def build(*args, **kwargs):
        with accumulator(kind):
            return fn(*args, **kwargs)

    return build


def _dec2dbl(c: Column) -> Column:
    """decimal → double via a string detour.

    A direct decimal→double cast is NOT correctly rounded in DuckDB
    once the scaled integer exceeds 2^53 (int128 → double → ÷10^scale
    = two roundings; observed 1-ulp divergence from Spark's BigDecimal
    cast at sums ~1.8e12 with scale 4).  decimal→string is exact and
    string→double is correctly rounded (strtod / Double.parseDouble)
    in both engines, so the detour is deterministic at any magnitude.
    """
    return c.cast("string").cast("double")


def o_dec2dbl(expr: str) -> str:
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def _sum(
    c: Column, dec: str = DEC, frame: WindowSpec | None = None, finish: bool = True
) -> Column:
    """Σc under the current accumulator policy — the one place it is read.

    ``exact`` sums ``c`` cast to ``dec`` and converts the finished sum to
    double once (``finish=False`` leaves it decimal, for a later sum of
    sums); ``double`` sums ``c`` as double.  A ``frame`` sum keeps the
    plain decimal→double cast its oracle SQL uses."""
    if _ACCUMULATOR.get() == "double":
        s = F.sum(c.cast("double"))
        return s if frame is None else s.over(frame)
    s = F.sum(c.cast(dec))
    if frame is not None:
        return s.over(frame).cast("double")
    return _dec2dbl(s) if finish else s


def _named(out: Column, alias: str | None) -> Column:
    return out.alias(alias) if alias else out


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Sum of a double column, returned as double — exact and
    order-independent under the default policy."""
    return _named(_sum(_col(col)), alias)


def dsum_partial(col: Column | str, alias: str | None = None) -> Column:
    """A partial sum left in the accumulator's type (decimal under
    ``exact``) for a later :func:`dsum` over the partials — a combiner
    step that cuts shuffle volume without a second rounding."""
    return _named(_sum(_col(col), finish=False), alias)


def davg(col: Column | str, alias: str | None = None) -> Column:
    """avg = :func:`dsum` / count — under the default policy an exact
    sum and a deterministic double division."""
    c = _col(col)
    return _named(_sum(c) / F.count(c), alias)


def dsum_over(
    col: Column | str, frame: WindowSpec, alias: str | None = None, dec: str = "decimal(18,2)"
) -> Column:
    """Windowed sum over ``frame``.  DuckDB evaluates windowed aggregates
    with a segment tree, a different association order than Spark's
    running accumulation; summing in ``dec`` (associative) makes both
    produce the identical exact value."""
    return _named(_sum(_col(col), dec, frame), alias)


def dstddev_cols(col: Column | str, data_scale: int = 2) -> tuple[Column, Column, Column]:
    """(Σx, Σx², n) with exact decimal sums — building blocks for a
    deterministic sample stddev; combine with :func:`stddev_from`.

    The square is computed IN decimal (cast the raw value first, then
    multiply exactly).  Casting the double product x*x instead is a
    trap: squares of scale-2 money values sit exactly on the scale-4
    grid where the double is ~1 ulp away, and Spark/DuckDB break the
    cast tie differently (observed: one flipped quantum in 15k rows).
    ``data_scale`` = decimal digits of the raw column (2 for money).
    """
    c = F.col(col) if isinstance(col, str) else col
    xd = c.cast(f"decimal(18,{data_scale})")
    sx = _dec2dbl(F.sum(xd))
    sx2 = _dec2dbl(F.sum(xd * xd))
    n = F.count(c)
    return sx, sx2, n


def stddev_from(sx: Column, sx2: Column, n: Column) -> Column:
    """Sample stddev from exact sums; identical IEEE ops on both sides.
    Clamps tiny negative variance from cancellation to 0.  NULL for
    n ≤ 1, matching builtin stddev_samp — the unguarded (n-1) division
    aborts the whole job under Spark 4 ANSI mode the moment any group
    has exactly one row (review r12; :func:`o_dstddev` guards
    identically so the parity contract is unchanged)."""
    var = (sx2 - sx * sx / n) / (n - F.lit(1))
    return F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0))))


# ---------------------------------------------------------------- oracle (DuckDB SQL) twins

def o_dsum(expr: str, alias: str) -> str:
    return o_dec2dbl(f"SUM(CAST(({expr}) AS DECIMAL(18,6)))") + f" AS {alias}"


def s_dsum(expr: str, alias: str) -> str:
    """Spark-SQL-dialect twin of :func:`o_dsum` (STRING, not VARCHAR —
    Spark's parser requires a length on VARCHAR)."""
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS STRING) AS DOUBLE)"
        f" AS {alias}"
    )


def o_davg(expr: str, alias: str) -> str:
    return (
        o_dec2dbl(f"SUM(CAST(({expr}) AS DECIMAL(18,6)))")
        + f" / COUNT({expr}) AS {alias}"
    )


def o_dstddev(expr: str, alias: str, data_scale: int = 2) -> str:
    xd = f"CAST(({expr}) AS DECIMAL(18,{data_scale}))"
    sx = o_dec2dbl(f"SUM({xd})")
    sx2 = o_dec2dbl(f"SUM({xd} * {xd})")
    n = f"COUNT({expr})"
    # CASE n > 1 mirrors stddev_from's NULL-for-singleton-group guard
    return (
        f"CASE WHEN {n} > 1 THEN "
        f"SQRT(GREATEST(({sx2} - {sx}*{sx}/{n}) / ({n} - 1), 0.0)) "
        f"ELSE NULL END AS {alias}"
    )
