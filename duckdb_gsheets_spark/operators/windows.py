"""Window-function battery (SURVEY.md §2.2 'Window functions').

All specs partition by a key and order with a unique tiebreak, so
results are independent of physical partitioning — the property that
makes them testable and correct on a 1000-executor cluster.  Money
sums use the scaled-long accumulation from operators.determinism so
frames accumulate exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import load_table

def _cents_sum_over(col, w):
    """Deterministic windowed money sum: exact long-cents accumulation
    (see operators.determinism), then one double division."""
    return (
        F.sum(F.round(F.col(col) * F.lit(100.0)).cast("long")).over(w).cast("double")
        / F.lit(100.0)
    )


def prefix_scan(df: DataFrame, order, by=(), sums=(), maxes=()) -> DataFrame:
    """Distributed prefix scan: a global rank, running sums and running
    maxes in ``order`` within each ``by`` group, with no single-task
    window over the rows.

    Returns ``df``'s columns plus ``rank`` (1-based within the group),
    ``n_total`` (rows in the group), ``cum_<c>`` and ``tot_<c>`` (running
    and group sum) for each column in ``sums``, and ``cummax_<c>``
    (running max) for each column in ``maxes``. ``order`` must be a
    total order within each group for the results to be deterministic.

    Shape: range-partition on ``(*by, *order)``, so each group's rows
    fill consecutive partitions in order, and tag every row with its
    ``pid = spark_partition_id()``. One ``groupBy(*by, pid)`` table of
    per-partition counts, sums and maxes (|groups| × |pids| rows) turns
    into exclusive-prefix offsets and group totals by windows over pid,
    and is broadcast back; each row's values are then a partition-local
    window plus its partition's offset.

    The tagged frame is eagerly localCheckpoint'ed, so the offsets
    table and the rows read ONE pid assignment: range-partition
    boundaries are sampled, and AQE may coalesce differently, on every
    materialization, and two unmaterialized reads can tile differently.
    Unlike persist(), the checkpoint blocks are ContextCleaner-freed
    once the frame goes out of scope, so repeated calls in a long
    session hold no executor storage.
    """
    cols = df.columns
    ranged = (
        df.repartitionByRange(*by, *order)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_pid = Window.partitionBy(*by).orderBy("pid")
    w_off = w_pid.rowsBetween(Window.unboundedPreceding, -1)
    w_grp = w_pid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    zero = F.lit(0).cast("long")
    offsets = (
        ranged.groupBy(*by, "pid")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *(F.sum(c).alias(f"_s_{c}") for c in sums),
            *(F.max(c).alias(f"_m_{c}") for c in maxes),
        )
        .select(
            *by,
            "pid",
            F.coalesce(F.sum("_n").over(w_off), zero).alias("_off_n"),
            F.sum("_n").over(w_grp).alias("n_total"),
            *(
                F.coalesce(F.sum(f"_s_{c}").over(w_off), zero).alias(f"_off_{c}")
                for c in sums
            ),
            *(F.sum(f"_s_{c}").over(w_grp).alias(f"tot_{c}") for c in sums),
            # NULL for a group's first pid; F.greatest skips it.
            *(F.max(f"_m_{c}").over(w_off).alias(f"_offmax_{c}") for c in maxes),
        )
    )
    w_local = (
        Window.partitionBy(*by, "pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranged.join(F.broadcast(offsets), [*by, "pid"]).select(
        *cols,
        (F.col("_off_n") + F.row_number().over(w_local)).alias("rank"),
        "n_total",
        *(
            (F.col(f"_off_{c}") + F.sum(c).over(w_local)).alias(f"cum_{c}")
            for c in sums
        ),
        *(f"tot_{c}" for c in sums),
        *(
            F.greatest(F.max(c).over(w_local), F.col(f"_offmax_{c}")).alias(
                f"cummax_{c}"
            )
            for c in maxes
        ),
    )


def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per customer over order value."""
    orders = load_table(spark, sf_dir, "orders")
    w_ties = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    w_total = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w_total).alias("rn"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
    )


WINDOW_RANK_ORACLE = """
SELECT
  o_custkey, o_orderkey, o_totalprice,
  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn,
  CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INTEGER) AS rnk,
  CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INTEGER) AS drnk
FROM orders
"""


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer in order-date order (exact frames)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        _cents_sum_over("o_totalprice", w).alias("running_spend"),
    )


WINDOW_RUNNING_ORACLE = """
SELECT
  o_custkey, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
  (CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0) AS running_spend
FROM orders
"""


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead of order dates per customer (gap analysis shape)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        F.lag("o_orderdate", 1).over(w).cast("string").alias("prev_orderdate"),
        F.lead("o_orderdate", 1).over(w).cast("string").alias("next_orderdate"),
    )


WINDOW_LAG_ORACLE = """
SELECT
  o_custkey, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
  CAST(LAG(o_orderdate, 1) OVER w AS VARCHAR) AS prev_orderdate,
  CAST(LEAD(o_orderdate, 1) OVER w AS VARCHAR) AS next_orderdate
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row moving average of event value per user (exact decimal sum)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    moving_sum = _cents_sum_over("value", w)
    n = F.count(F.lit(1)).over(w)
    return events.select(
        "user_id",
        "event_id",
        (moving_sum / n).alias("moving_avg_value"),
    )


WINDOW_MOVAVG_ORACLE = """
SELECT
  user_id, event_id,
  (CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) OVER w AS DOUBLE) / 100.0) / COUNT(*) OVER w AS moving_avg_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) wealth quartiles over customers (unique total order).

    A literal ``ntile(4).over(Window.orderBy(...))`` funnels the whole
    table through ONE task, so the global rank comes from
    :func:`prefix_scan`. The ANSI NTILE size rule — with
    ``n = q·4 + r``, the first ``r`` tiles get ``q+1`` rows — is then
    pure integer arithmetic on that rank.
    """
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    return prefix_scan(customer, [F.desc("c_acctbal"), "c_custkey"]).select(
        "c_custkey",
        "c_acctbal",
        F.expr(
            "CAST(CASE WHEN rank <= (n_total % 4) * (n_total div 4 + 1) "
            "THEN (rank - 1) div (n_total div 4 + 1) + 1 "
            "ELSE (n_total % 4) + (rank - (n_total % 4) * (n_total div 4 + 1) - 1) "
            "div (n_total div 4) + 1 END AS INT)"
        ).alias("wealth_quartile"),
    )


WINDOW_NTILE_ORACLE = """
SELECT c_custkey, c_acctbal,
       CAST(NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS wealth_quartile
FROM customer
"""


def window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over an explicit full-partition frame: each order
    next to its customer's 2nd- and 3rd-largest order value (NULL
    when the customer has fewer orders) — the "compare to the
    runner-up" shape dashboards use for concentration checks.
    Partitioned by customer with a unique tiebreak, so the frame is
    deterministic and the shuffle is the usual one custkey exchange.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.nth_value("o_totalprice", 2).over(w).alias("second_best"),
        F.nth_value("o_totalprice", 3).over(w).alias("third_best"),
    )


WINDOW_NTH_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_best,
       NTH_VALUE(o_totalprice, 3) OVER w AS third_best
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-partition-total (whole-partition frame, no ordering)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    total = _cents_sum_over("o_totalprice", w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice") / total).alias("share_of_customer"),
    )


WINDOW_SHARE_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       o_totalprice / (CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) OVER (PARTITION BY o_custkey) AS DOUBLE) / 100.0) AS share_of_customer
FROM orders
"""


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over an explicit full-partition frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.last("o_orderkey").over(w).alias("last_orderkey"),
    ).distinct()


WINDOW_FIRSTLAST_ORACLE = """
SELECT DISTINCT
  o_custkey, o_orderkey,
  FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
  LAST_VALUE(o_orderkey) OVER w AS last_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per user, the trailing-10-minute
    sum of value — the time-interval frame shape ROWS frames can't
    express (frame membership follows the ORDER BY value, so ties and
    gaps are handled identically in every engine)."""
    events = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-600_000_000, 0)  # 10 min in micros
    )
    return events.select(
        "user_id",
        "event_id",
        _cents_sum_over("value", w).alias("trailing_10min_value"),
    )


WINDOW_RANGE_ORACLE = """
SELECT user_id, event_id,
       (CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) OVER (
          PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0)
         AS trailing_10min_value
FROM events
"""


def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percent_rank`` + ``cume_dist`` per nation over customer
    balances — the remaining ANSI ranking-family functions, computed
    as EXACT integer ratios on the 1e-6 grid.

    Why not ``round(percent_rank(), 6)``: (rank−1)/(n−1) can land
    exactly on a decimal half (333/640 = 0.5203125 at sf0.1 — the
    round-7 sf0.1 sweep caught it) that no binary double represents;
    Spark's round() then rounds the shortest-decimal rendering
    half-up while DuckDB rounds the binary value, and the engines
    split by 1e-6. The fix is the repo's standard recipe: round
    half-up of p/q as ``(2p + q) div (2q)`` in exact longs on BOTH
    sides, then one identical long→double division by 1e6. Under the
    unique total order rank = row_number and cume's "rows ≤ current"
    = row_number, so both ratios need one rank pass plus the
    partition count. One shuffle on the partition key."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    base = customer.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.row_number().over(w).cast("long").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("c_nationkey"))
        .alias("n"),
    )
    pct_scaled = F.expr(
        "CASE WHEN n > 1 THEN"
        " (2 * (r - 1) * 1000000 + (n - 1)) div (2 * (n - 1))"
        " ELSE 0 END"
    )
    cume_scaled = F.expr("(2 * r * 1000000 + n) div (2 * n)")
    return base.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        (pct_scaled / F.lit(1e6)).alias("pct_rank"),
        (cume_scaled / F.lit(1e6)).alias("cume"),
    )


WINDOW_PCTRANK_ORACLE = """
WITH pr_base AS (
  SELECT c_nationkey, c_custkey, c_acctbal,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS r,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
)
SELECT c_nationkey, c_custkey, c_acctbal,
       (CASE WHEN n > 1
             THEN (2 * (r - 1) * 1000000 + (n - 1)) // (2 * (n - 1))
             ELSE 0 END) / 1e6 AS pct_rank,
       ((2 * r * 1000000 + n) // (2 * n)) / 1e6 AS cume
FROM pr_base
"""


QUERIES: list[QueryDef] = [
    QueryDef("window_rank", window_rank, WINDOW_RANK_ORACLE, "row_number/rank/dense_rank"),
    QueryDef("window_range_frame", window_range_frame, WINDOW_RANGE_ORACLE, "time-interval RANGE frame"),
    QueryDef("window_running_sum", window_running_sum, WINDOW_RUNNING_ORACLE, "cumulative sum"),
    QueryDef("window_lag_lead", window_lag_lead, WINDOW_LAG_ORACLE, "lag/lead"),
    QueryDef("window_moving_avg", window_moving_avg, WINDOW_MOVAVG_ORACLE, "moving avg frame"),
    QueryDef("window_ntile", window_ntile, WINDOW_NTILE_ORACLE, "ntile quartiles"),
    QueryDef("window_share_of_total", window_share_of_total, WINDOW_SHARE_ORACLE, "ratio to total"),
    QueryDef("window_first_last", window_first_last, WINDOW_FIRSTLAST_ORACLE, "first/last value"),
    QueryDef("window_percent_rank", window_percent_rank, WINDOW_PCTRANK_ORACLE, "percent_rank/cume_dist"),
    QueryDef("window_nth_value", window_nth_value, WINDOW_NTH_ORACLE, "nth_value runner-up frame"),
]
