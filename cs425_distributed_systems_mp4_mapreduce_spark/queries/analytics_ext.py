"""Analytics extension pack: time-range window frames, table
profiling, time-series gap-fill, and SQL LATERAL joins — warehouse
shapes beyond the core relational/window families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parity import dsum_over
from ..registry import query
from ..sources.tables import load_tables, table as T


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS trailing_30d
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day trailing spend per customer: a RANGE frame over event
    TIME (2,592,000 s), not row position — each row's frame holds every
    order in the preceding 30 days, however many that is.  The
    complement of q_window_running's ROWS frame.  RANGE also makes the
    result deterministic under ties: same-timestamp orders share one
    frame regardless of their physical order, so no tiebreak key is
    needed.  Decimal(18,2) inside the frame for summation-order
    exactness (functions/parity.py)."""
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-2592000, Window.currentRow)
    )
    return o.select("o_orderkey", "o_custkey", dsum_over("o_totalprice", w, "trailing_30d"))


def _profile_block_sql(col: str, minmax: str) -> str:
    """One UNION-ALL block of the profiling oracle; ``minmax`` is a SQL
    expression template receiving the aggregate (MIN/MAX) call."""
    return f"""
    SELECT '{col}' AS col, COUNT(*) AS n_rows,
           COUNT(*) - COUNT({col}) AS n_null,
           COUNT(DISTINCT {col}) AS n_distinct,
           {minmax.format(agg=f"MIN({col})")} AS min_s,
           {minmax.format(agg=f"MAX({col})")} AS max_s
    FROM orders
    """


#: per-type normalization into strings so one result relation profiles
#: heterogeneous columns.  Doubles detour through DECIMAL(18,2) —
#: decimal→string renders identically in Spark and DuckDB, while raw
#: double→string does not (scientific-notation thresholds differ).
_MINMAX = {
    "o_orderkey": "CAST({agg} AS VARCHAR)",
    "o_totalprice": "CAST(CAST({agg} AS DECIMAL(18,2)) AS VARCHAR)",
    "o_orderstatus": "{agg}",
}


@query(
    "q_profile_table",
    oracle=" UNION ALL ".join(
        _profile_block_sql(c, t) for c, t in _MINMAX.items()
    )
    + " ORDER BY col",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ANALYZE/data-quality sweep): per column —
    row count, null count, exact distinct count, min/max normalized to
    strings.  One scan per column block, each a partial+final agg; at
    100 TB you'd fuse the blocks into one pass with conditional
    aggregates or approx_count_distinct, but the exact per-column form
    is what the oracle can replay bit-for-bit."""
    o = T(spark, sf_dir, "orders")
    blocks = []
    for colname in _MINMAX:
        col = F.col(colname)
        if colname == "o_totalprice":
            mn = F.min(col).cast("decimal(18,2)").cast("string")
            mx = F.max(col).cast("decimal(18,2)").cast("string")
        else:
            mn = F.min(col).cast("string")
            mx = F.max(col).cast("string")
        blocks.append(
            o.agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
                F.count_distinct(col).alias("n_distinct"),
                mn.alias("min_s"),
                mx.alias("max_s"),
            ).select(F.lit(colname).alias("col"), "*")
        )
    out = blocks[0]
    for b in blocks[1:]:
        out = out.unionByName(b)
    return out.orderBy("col")


@query(
    "q_timeseries_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT (epoch_us(ts) // 3600000000) AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY h, event_type
    ),
    bounds AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly),
    spine AS (SELECT unnest(generate_series(mn, mx)) AS h FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events)
    SELECT s.h * 3600 AS hour_s, t.event_type AS event_type,
           COALESCE(c.n, 0) AS n_events
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN hourly c ON c.h = s.h AND c.event_type = t.event_type
    ORDER BY hour_s, t.event_type
    """,
)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series: a dense (hour × event_type) spine with
    zero rows where no events landed — the resample/asfreq operation
    every monitoring pipeline needs before rate math (a missing hour
    must read as 0, not NaN-by-absence).  The spine generates from the
    observed [min,max] hour via sequence(); both dimension sides are
    tiny, so the only big-data touch is the one hourly aggregation —
    spine and counts then join broadcast."""
    e = T(spark, sf_dir, "events")
    hourly = (
        e.select(
            F.expr("ts div 1000 div 3600000000").alias("h"), "event_type"
        )
        .groupBy("h", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = (
        hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("h"))
    )
    types = e.select("event_type").distinct()
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(hourly), ["h", "event_type"], "left")
        .select(
            (F.col("h") * 3600).alias("hour_s"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        )
        .orderBy("hour_s", "event_type")
    )


_LATERAL_SQL = """
    SELECT c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c_custkey % 50 = 0
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey
"""


@query("q_lateral_topk", oracle=_LATERAL_SQL)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-text
    form of top-k-per-group, run as the IDENTICAL string on Spark and
    DuckDB (both parse this ANSI shape).  Catalyst rewrites the lateral
    limit into a per-key window/limit under a join rather than
    executing the subquery per row."""
    load_tables(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@query(
    "q_merge_upsert",
    oracle="""
    WITH delta AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
    ),
    inserts AS (
      SELECT -c_custkey AS c_custkey, c_name, c_nationkey,
             0.0 AS c_acctbal
      FROM customer WHERE c_custkey % 113 = 0 AND c_custkey > 0
    ),
    updates AS (SELECT * FROM delta UNION ALL SELECT * FROM inserts)
    SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
           COALESCE(u.c_name, b.c_name) AS c_name,
           COALESCE(u.c_nationkey, b.c_nationkey) AS c_nationkey,
           COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal,
           CASE WHEN b.c_custkey IS NULL THEN 'insert'
                WHEN u.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM customer b FULL OUTER JOIN updates u ON b.c_custkey = u.c_custkey
    ORDER BY c_custkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics without a table format: next snapshot =
    base FULL OUTER JOIN delta, matched rows take the delta's values
    (update), unmatched-delta rows append (insert), unmatched-base rows
    carry forward (keep) — with the action tagged per row.  This is the
    nightly-dimension-refresh shape; Delta/Iceberg MERGE INTO compiles
    to exactly this join under the hood.  Scale shape: one shuffle on
    the merge key; with a bucketed base table the join co-locates and
    only the (small) delta moves."""
    c = T(spark, sf_dir, "customer")
    delta = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
    )
    # insert keys live in the NEGATIVE key space: base custkeys are
    # positive at every SF, so the synthetic delta can never collide
    # with a real key and silently turn an insert into an update
    # (ADVICE r3: the old c_custkey + 1000000 scheme collides once
    # keys reach 1e6)
    inserts = c.filter((F.col("c_custkey") % 113 == 0) & (F.col("c_custkey") > 0)).select(
        (-F.col("c_custkey")).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
    )
    updates = delta.unionByName(inserts)
    b, u = c.alias("b"), updates.alias("u")
    action = (
        F.when(F.col("b.c_custkey").isNull(), "insert")
        .when(F.col("u.c_custkey").isNull(), "keep")
        .otherwise("update")
    )
    return (
        b.join(u, F.col("b.c_custkey") == F.col("u.c_custkey"), "full")
        .select(
            F.coalesce("u.c_custkey", "b.c_custkey").alias("c_custkey"),
            F.coalesce("u.c_name", "b.c_name").alias("c_name"),
            F.coalesce("u.c_nationkey", "b.c_nationkey").alias("c_nationkey"),
            F.coalesce("u.c_acctbal", "b.c_acctbal").alias("c_acctbal"),
            action.alias("merge_action"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q_window_firstlast",
    oracle="""
    SELECT event_id, user_id,
           FIRST_VALUE(value) OVER w AS first_val,
           LAST_VALUE(value) OVER (PARTITION BY user_id
                ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_val,
           NTH_VALUE(value, 2) OVER w AS second_val
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id)
    ORDER BY event_id
    """,
)
def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value per user timeline: the session-attribution
    family (first-touch, last-touch, second event).  LAST_VALUE needs
    the full-partition frame spelled out — the default frame stops at
    CURRENT ROW, a classic silent-wrong-answer both engines share.
    event_id tiebreak makes every value deterministic."""
    e = T(spark, sf_dir, "events")
    order = [F.expr("ts div 1000"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w_full).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    ).orderBy("event_id")
