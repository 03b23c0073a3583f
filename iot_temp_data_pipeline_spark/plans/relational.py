"""Relational operator coverage queries on the TPC-H-ish fixture tables,
plus the ingestion-expression queries (SURVEY.md §2.3) — every entry
oracle-checked.

Money arithmetic uses the exact-integer scheme from functions/stats.py:
price scale 100, discount/tax scale 1000, quantity scale 1 — sums are
order-independent integers (decimal(38,0) / HUGEINT), so revenues and
averages are bit-identical with DuckDB and drift-free at 100 TB.

Scale notes per query are inline; the common pattern: dimension sides of
joins are broadcast, fact-side aggregations are partial+final hash aggs,
and every filter is a plain pushdown-able predicate.
"""

from __future__ import annotations

import datetime
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.stats import exact_avg, exact_long_sum, sql_exact_avg
from ..operators.anomalies import deduplicated_valid_readings
from ..operators.staging import stg_raw_temperature_readings
from ..sources.catalog import load_table, local_table
from ..sources.csv_ingest import kaggle_transform
from ..sources.readings import raw_readings
from .oracles import oracle_prelude
from .registry import QuerySpec, shape, sql_select

_DEC = "decimal(38,0)"


def _pi() -> F.Column:
    return F.round(F.col("l_extendedprice") * 100).cast("long")


def _di() -> F.Column:
    return F.round(F.col("l_discount") * 1000).cast("long")


def _ti() -> F.Column:
    return F.round(F.col("l_tax") * 1000).cast("long")


# SQL fragments for the same integers
_SQL_PI = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
_SQL_DI = "CAST(ROUND(l_discount * 1000) AS BIGINT)"
_SQL_TI = "CAST(ROUND(l_tax * 1000) AS BIGINT)"


# ------------------------------------------------------------------ TPC-H Q1

Q1_SPEC = [
    ("l_returnflag", ""),
    ("l_linestatus", ""),
    ("sum_qty", "long"),
    ("sum_base_price", ""),
    ("sum_disc_price", ""),
    ("sum_charge", ""),
    ("avg_qty", ""),
    ("avg_price", ""),
    ("avg_disc", ""),
    ("count_order", "long"),
]


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-pass grouped pricing summary over lineitem.

    Plan at scale: parquet scan with l_shipdate pushdown → partial hash
    agg (map-side) → shuffle on 6 tiny groups → final agg. No joins.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("long")
    pi, di, ti = _pi(), _di(), _ti()
    df = (
        li.filter(F.col("l_shipdate") <= F.lit(datetime.datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            (exact_long_sum(pi).cast("double") / 100.0).alias("sum_base_price"),
            (exact_long_sum(pi * (1000 - di)).cast("double") / 100000.0).alias(
                "sum_disc_price"
            ),
            (
                exact_long_sum(pi * (1000 - di) * (1000 + ti)).cast("double")
                / 100000000.0
            ).alias("sum_charge"),
            exact_avg(F.col("l_quantity"), 1).alias("avg_qty"),
            exact_avg(F.col("l_extendedprice"), 100).alias("avg_price"),
            exact_avg(F.col("l_discount"), 1000).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
    return shape(df, Q1_SPEC)


Q1_SQL = sql_select(
    Q1_SPEC,
    f"""(
    SELECT l_returnflag, l_linestatus,
        SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sum_qty,
        CAST(SUM({_SQL_PI}) AS DOUBLE) / 100.0 AS sum_base_price,
        CAST(SUM({_SQL_PI} * (1000 - {_SQL_DI})) AS DOUBLE) / 100000.0 AS sum_disc_price,
        CAST(SUM({_SQL_PI} * (1000 - {_SQL_DI}) * (1000 + {_SQL_TI})) AS DOUBLE)
            / 100000000.0 AS sum_charge,
        {sql_exact_avg("l_quantity", 1)} AS avg_qty,
        {sql_exact_avg("l_extendedprice", 100)} AS avg_price,
        {sql_exact_avg("l_discount", 1000)} AS avg_disc,
        COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
) s""",
)


# ------------------------------------------------------------------ TPC-H Q3

Q3_SPEC = [
    ("l_orderkey", "long"),
    ("revenue", ""),
    ("o_orderdate", ""),
    ("o_orderpriority", ""),
]

_Q3_SEGMENT = "BUILDING"
_Q3_DATE = "1999-01-01 00:00:00"


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem, top-10 open orders
    by revenue.

    Plan at scale: customer is the small side → broadcast into orders;
    orders⋈lineitem is the big equi-join → shuffle hash/sort-merge on
    orderkey (AQE decides); top-k via TakeOrderedAndProject (no global
    sort materialization). Revenue is bit-exact, so the ORDER
    BY/LIMIT cutoff is deterministic (o_orderkey tiebreak).
    """
    cu = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _Q3_SEGMENT
    )
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(datetime.datetime(1999, 1, 1))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(datetime.datetime(1999, 1, 1))
    )
    pi, di = _pi(), _di()
    df = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (exact_long_sum(pi * (1000 - di)).cast("double") / 100000.0).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )
    return shape(df, Q3_SPEC)


Q3_SQL = sql_select(
    Q3_SPEC,
    f"""(
    SELECT l_orderkey,
        CAST(SUM({_SQL_PI} * (1000 - {_SQL_DI})) AS DOUBLE) / 100000.0 AS revenue,
        o_orderdate, o_orderpriority
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = '{_Q3_SEGMENT}'
      AND o_orderdate < TIMESTAMP '{_Q3_DATE}'
      AND l_shipdate > TIMESTAMP '{_Q3_DATE}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
) s""",
)


# ------------------------------------------------------------------ TPC-H Q5

Q5_SPEC = [("n_name", ""), ("revenue", "")]


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with all dimensions broadcast.

    Plan at scale: lineitem (fact) never shuffles for the dimension
    joins — supplier/nation/region and the filtered customer side are
    broadcast; the one real shuffle is lineitem⋈orders on orderkey, then
    a 25-group aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime.datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime.datetime(1997, 1, 1)))
    )
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    pi, di = _pi(), _di()
    df = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(
            F.broadcast(cu),
            (od.o_custkey == cu.c_custkey) & (cu.c_nationkey == su.s_nationkey),
        )
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("n_name")
        .agg(
            (exact_long_sum(pi * (1000 - di)).cast("double") / 100000.0).alias(
                "revenue"
            )
        )
    )
    return shape(df, Q5_SPEC)


Q5_SQL = sql_select(
    Q5_SPEC,
    f"""(
    SELECT n_name,
        CAST(SUM({_SQL_PI} * (1000 - {_SQL_DI})) AS DOUBLE) / 100000.0 AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
) s""",
)


# ------------------------------------------------------- top-k / order by

TOPK_SPEC = [
    ("o_orderkey", "long"),
    ("o_orderdate", ""),
    ("o_totalprice", ""),
    ("customer_name", ""),
]


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 orders by total price with broadcast customer enrich —
    the ops `ORDER BY ... DESC` pattern (README.md:117,126) as top-k.
    TakeOrderedAndProject at scale (heap per partition, no global sort)."""
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    df = (
        od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("c_name").alias("customer_name"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )
    return shape(df, TOPK_SPEC)


TOPK_SQL = sql_select(
    TOPK_SPEC,
    """(
    SELECT o_orderkey, o_orderdate, o_totalprice, c_name AS customer_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
) s""",
)


# ----------------------------------------------------- window functions

WINDOW_SPEC = [
    ("record_id", ""),
    ("device_id", ""),
    ("reading_timestamp", ""),
    ("temperature_celsius", ""),
    ("prev_temp", ""),
    ("temp_delta", ""),
    ("next_temp", ""),
    ("seq_no", "long"),
    ("temp_rank", "long"),
    ("rolling_avg_4", ""),
]


def window_temperature_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface beyond the reference's single row_number
    (SURVEY.md §2.4): lag/lead deltas, per-device rank, sequence numbers
    and a 4-row rolling average over deduplicated readings.

    The rolling average uses the exact-integer frame sum (order-exact in
    any engine). One shuffle on device_id serves every window.
    """
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    vr = deduplicated_valid_readings(stg)
    t = F.col("temperature_celsius")
    ti = F.round(t * 100).cast("long")
    w = Window.partitionBy("device_id").orderBy("reading_timestamp")
    wf = w.rowsBetween(-3, 0)
    wrank = Window.partitionBy("device_id").orderBy(t.desc(), F.col("_dlt_id"))
    df = vr.select(
        "record_id",
        "device_id",
        "reading_timestamp",
        t,
        F.lag(t).over(w).alias("prev_temp"),
        (t - F.lag(t).over(w)).alias("temp_delta"),
        F.lead(t).over(w).alias("next_temp"),
        F.row_number().over(w).cast("long").alias("seq_no"),
        F.rank().over(wrank).cast("long").alias("temp_rank"),
        (
            F.sum(ti).over(wf).cast("double")
            / 100.0
            / F.count(F.lit(1)).over(wf).cast("double")
        ).alias("rolling_avg_4"),
    )
    return shape(df, WINDOW_SPEC)


WINDOW_SQL = (
    "SELECT record_id, device_id, reading_timestamp, temperature_celsius, "
    "prev_temp, temp_delta, next_temp, CAST(seq_no AS BIGINT) AS seq_no, "
    "CAST(temp_rank AS BIGINT) AS temp_rank, rolling_avg_4 FROM ("
    """
    SELECT record_id, device_id, reading_timestamp, temperature_celsius,
        LAG(temperature_celsius) OVER w AS prev_temp,
        temperature_celsius - LAG(temperature_celsius) OVER w AS temp_delta,
        LEAD(temperature_celsius) OVER w AS next_temp,
        ROW_NUMBER() OVER w AS seq_no,
        RANK() OVER (PARTITION BY device_id
                     ORDER BY temperature_celsius DESC, _dlt_id) AS temp_rank,
        CAST(SUM(CAST(ROUND(temperature_celsius * 100) AS BIGINT))
                 OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
            / 100.0
            / CAST(COUNT(*) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS rolling_avg_4
    FROM valid_readings
    WINDOW w AS (PARTITION BY device_id ORDER BY reading_timestamp)
) s"""
)


# ------------------------------------------------- event-time tumbling agg

TUMBLING_SPEC = [
    ("window_start", ""),
    ("event_type", ""),
    ("n_events", "long"),
    ("unique_users", "long"),
    ("sum_value", ""),
    ("avg_value", ""),
]


def events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (batch form of the
    Structured Streaming windowed agg — streaming/ has the readStream
    twin). `window()` here == `time_bucket` in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    vi = F.round(F.col("value") * 100).cast("long")
    df = (
        ev.groupBy(F.window("ts", "1 hour").getField("start").alias("window_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("unique_users"),
            (exact_long_sum(vi).cast("double") / 100.0).alias("sum_value"),
            exact_avg(F.col("value"), 100).alias("avg_value"),
        )
    )
    return shape(df, TUMBLING_SPEC)


TUMBLING_SQL = sql_select(
    TUMBLING_SPEC,
    f"""(
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        COUNT(*) AS n_events,
        COUNT(DISTINCT user_id) AS unique_users,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
        {sql_exact_avg("value", 100)} AS avg_value
    FROM events
    GROUP BY 1, 2
) s""",
)


# ------------------------------------------------------------------ TPC-H Q6

Q6_SPEC = [("revenue", ""), ("n_lines", "long")]


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter-aggregate, no grouping, no join.

    Plan at scale: ALL three predicates push to the parquet scan
    (row-group min/max pruning on shipdate), then a single partial+final
    agg of one row — the cheapest possible full-table query."""
    li = load_table(spark, sf_dir, "lineitem")
    pi, di = _pi(), _di()
    df = li.filter(
        (F.col("l_shipdate") >= F.lit(datetime.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime.datetime(1997, 1, 1)))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        (exact_long_sum(pi * di).cast("double") / 100000.0).alias("revenue"),
        F.count("*").alias("n_lines"),
    )
    return shape(df, Q6_SPEC)


Q6_SQL = sql_select(
    Q6_SPEC,
    f"""(
    SELECT CAST(SUM({_SQL_PI} * {_SQL_DI}) AS DOUBLE) / 100000.0 AS revenue,
        COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
) s""",
)


# ----------------------------------------------------------------- TPC-H Q10

Q10_SPEC = [
    ("c_custkey", "long"),
    ("c_name", ""),
    ("revenue", ""),
    ("c_acctbal", ""),
    ("n_name", ""),
    ("c_mktsegment", ""),
]


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-way join (fact ⋈ orders, broadcast customer ⋈
    broadcast nation), grouped revenue, top-20.

    Plan at scale: lineitem filtered on returnflag (pushed), joined to
    date-filtered orders on orderkey (the one big shuffle), then the
    dimension sides broadcast; TakeOrderedAndProject caps the result."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime.datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime.datetime(1996, 4, 1)))
    )
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    pi, di = _pi(), _di()
    df = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(
            (exact_long_sum(pi * (1000 - di)).cast("double") / 100000.0).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )
    return shape(df, Q10_SPEC)


Q10_SQL = sql_select(
    Q10_SPEC,
    f"""(
    SELECT c_custkey, c_name,
        CAST(SUM({_SQL_PI} * (1000 - {_SQL_DI})) AS DOUBLE) / 100000.0 AS revenue,
        c_acctbal, n_name, c_mktsegment
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
) s""",
)


# ----------------------------------------------------------------- TPC-H Q14

Q14_SPEC = [("promo_revenue_pct", ""), ("n_lines", "long")]


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact ⋈ broadcast dimension (part) + conditional
    aggregate ratio — covers the `part` table and the broadcast-dim +
    CASE-sum pattern. Ratio formed from two exact integer sums, so the
    division is the only float op."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime.datetime(1996, 3, 1)))
        & (F.col("l_shipdate") < F.lit(datetime.datetime(1996, 4, 1)))
    )
    pt = load_table(spark, sf_dir, "part")
    pi, di = _pi(), _di()
    disc = pi * (1000 - di)
    df = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .agg(
            (
                exact_long_sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0))).cast(
                    "double"
                )
                * 100.0
                / exact_long_sum(disc).cast("double")
            ).alias("promo_revenue_pct"),
            F.count("*").alias("n_lines"),
        )
    )
    return shape(df, Q14_SPEC)


Q14_SQL = sql_select(
    Q14_SPEC,
    f"""(
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN {_SQL_PI} * (1000 - {_SQL_DI}) ELSE 0 END) AS DOUBLE)
            * 100.0
            / CAST(SUM({_SQL_PI} * (1000 - {_SQL_DI})) AS DOUBLE) AS promo_revenue_pct,
        COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
) s""",
)


# ----------------------------------------------------------------- TPC-H Q18

Q18_QTY_THRESHOLD = 150

Q18_SPEC = [
    ("c_custkey", "long"),
    ("c_name", ""),
    ("o_orderkey", "long"),
    ("o_orderdate", ""),
    ("o_totalprice", ""),
    ("sum_qty", "long"),
]


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate feeding a LEFT SEMI
    join (the reference has no semi joins — this plus the ingestion
    anti-join completes the semi/anti surface), then re-join + group.

    Plan at scale: the big-orders key set is tiny after HAVING →
    broadcast LEFT SEMI prunes orders/lineitem before the expensive
    joins; quantity sums are exact integers."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    qty = F.round(F.col("l_quantity")).cast("long")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY_THRESHOLD)
        .select("l_orderkey")
    )
    od_big = od.join(
        F.broadcast(big_orders), od.o_orderkey == big_orders.l_orderkey, "left_semi"
    )
    df = (
        li.join(od_big, li.l_orderkey == od_big.o_orderkey)
        .join(F.broadcast(cu), od_big.o_custkey == cu.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )
    return shape(df, Q18_SPEC)


Q18_SQL = sql_select(
    Q18_SPEC,
    f"""(
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sum_qty
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > {Q18_QTY_THRESHOLD}
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
) s""",
)


# ---------------------------------------------- sliding / session windows

SLIDING_SPEC = [
    ("window_start", ""),
    ("event_type", ""),
    ("n_events", "long"),
    ("sum_centi", "long"),
]


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time window: width 1 h, slide 30 min —
    every event contributes to exactly two windows. Spark's `window()`
    expands the row internally (no join); the oracle mirrors via
    unnest of the two aligned bucket starts."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    df = (
        ev.groupBy(win.alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_centi"),
        )
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_centi")
    )
    return shape(df, SLIDING_SPEC)


SLIDING_SQL = sql_select(
    SLIDING_SPEC,
    """(
    SELECT ws AS window_start, event_type,
        COUNT(*) AS n_events,
        SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_centi
    FROM (
        SELECT event_type, value,
            unnest([
                time_bucket(INTERVAL '30 minutes', ts),
                time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
            ]) AS ws
        FROM events
    ) expanded
    GROUP BY 1, 2
) s""",
)


SESSION_SPEC = [
    ("user_id", "long"),
    ("session_start", ""),
    ("session_end", ""),
    ("n_events", "long"),
    ("sum_centi", "long"),
]


def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute inactivity gap
    (`session_window`): session_end = last event + gap. The oracle is
    the classic gaps-and-islands rewrite — new session iff the gap to
    the previous event is >= the gap duration (Spark merges sessions
    only while the next event is strictly inside the previous window)."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_centi"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_centi",
        )
    )
    return shape(agg, SESSION_SPEC)


SESSION_SQL = sql_select(
    SESSION_SPEC,
    """(
    WITH ordered AS (
        SELECT user_id, ts, value,
            CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w >= INTERVAL '10 minutes'
                 THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sid
        FROM ordered
    )
    SELECT user_id,
        MIN(ts) AS session_start,
        MAX(ts) + INTERVAL '10 minutes' AS session_end,
        COUNT(*) AS n_events,
        SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_centi
    FROM sess
    GROUP BY user_id, sid
) s""",
)


# ------------------------------------------------------------ JSON props

JSON_SPEC = [
    ("event_type", ""),
    ("n_events", "long"),
    ("n_with_k", "long"),
    ("sum_k", "long"),
    ("min_k", "long"),
    ("max_k", "long"),
    ("avg_k", ""),
]


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the string `props` column (extension surface
    noted in SURVEY.md §2.9 — the reference has no JSON functions)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    df = (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            (F.sum("k").cast("double") / F.count("k").cast("double")).alias("avg_k"),
        )
    )
    return shape(df, JSON_SPEC)


JSON_SQL = sql_select(
    JSON_SPEC,
    """(
    SELECT event_type,
        COUNT(*) AS n_events,
        COUNT(k) AS n_with_k,
        SUM(k) AS sum_k,
        MIN(k) AS min_k,
        MAX(k) AS max_k,
        CAST(SUM(k) AS DOUBLE) / CAST(COUNT(k) AS DOUBLE) AS avg_k
    FROM (
        SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    ) t
    GROUP BY event_type
) s""",
)


# -------------------------------------------------------- set operations

UNION_SPEC = [("layer", ""), ("record_count", "long")]


def union_ops_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of layer-level counts — `run-pipeline.sh:92-108` /
    SURVEY.md §2.8."""
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    vr = deduplicated_valid_readings(stg)
    rows = [
        stg.agg(F.lit("staging").alias("layer"), F.count("*").alias("record_count")),
        vr.agg(F.lit("valid").alias("layer"), F.count("*").alias("record_count")),
        stg.filter(~F.col("is_valid_record")).agg(
            F.lit("invalid").alias("layer"), F.count("*").alias("record_count")
        ),
    ]
    df = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return shape(df, UNION_SPEC)


UNION_SQL = sql_select(
    UNION_SPEC,
    """(
    SELECT 'staging' AS layer, COUNT(*) AS record_count FROM staged
    UNION ALL
    SELECT 'valid', COUNT(*) FROM valid_readings
    UNION ALL
    SELECT 'invalid', COUNT(*) FROM staged WHERE NOT is_valid_record
) s""",
)


# ------------------------------------------------------- retention filter

RETENTION_SPEC = [("record_id", ""), ("device_id", ""), ("reading_timestamp", "")]


def retention_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 retention delete as rewrite-on-read: keep rows younger than 90
    days before the frozen run date (`iot_temperature_dag.py:267-270`).
    At scale, run over the published mart, this is a scan that skips
    whole files by their footer min/max on reading_date, which
    marts.write_mart range-clusters on."""
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    cutoff = F.date_sub(F.lit(datetime.date(2024, 3, 1)), 90).cast("timestamp")
    df = stg.filter(F.col("reading_timestamp") >= cutoff).select(
        "record_id", "device_id", "reading_timestamp"
    )
    return shape(df, RETENTION_SPEC)


RETENTION_SQL = sql_select(
    RETENTION_SPEC,
    """(
    SELECT record_id, device_id, reading_timestamp
    FROM staged
    WHERE reading_timestamp >= CAST(DATE '2024-03-01' - 90 AS TIMESTAMP)
) s""",
)


# --------------------------------------------- ingestion expressions (I2-I5)

INGEST_SPEC = [
    ("event_id", "long"),
    ("device_id", ""),
    ("timestamp", ""),
    ("temperature", ""),
    ("location", ""),
]


def _kaggle_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the Kaggle CSV shape (FIXTURES.md §1) from events,
    deterministically — exercises null ids, unparseable dates, and every
    room-name branch of the I5 transform."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    uid = F.col("user_id")
    return ev.select(
        eid,
        F.when(eid % 97 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.lit("__export__.temp_log_"),
                eid.cast("string"),
                F.lit("_bd"),
                F.substring(F.md5(eid.cast("string")), 1, 8),
            )
        )
        .alias("id"),
        F.when(uid % 5 == 0, F.lit("Room Admin"))
        .when(uid % 5 == 1, F.lit("Room 809"))
        .when(uid % 5 == 2, F.lit("Room Lab 2"))
        .when(uid % 5 == 3, F.lit(None).cast("string"))
        .otherwise(F.lit("Admin Office"))
        .alias("room_id_id"),
        F.when(eid % 89 == 0, F.lit("not a date"))
        .otherwise(F.date_format("ts", "dd-MM-yyyy HH:mm"))
        .alias("noted_date"),
        F.col("value").cast("string").alias("temp"),
        F.when(uid % 2 == 0, F.lit("In")).otherwise(F.lit("Out")).alias("out_in"),
    )


def ingest_kaggle_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2-I5 + I10 as one oracle-checked query: device-id synthesis,
    coerce-to-null timestamp parse, float cast, location synthesis, and
    the null-timestamp drop (`iot_temperature_pipeline.py:146-207`)."""
    kg = _kaggle_like(spark, sf_dir)
    out = kaggle_transform(kg, passthrough=("event_id",))
    df = out.filter(F.col("timestamp").isNotNull()).select(
        "event_id", "device_id", "timestamp", "temperature", "location"
    )
    return shape(df, INGEST_SPEC)


INGEST_SQL = sql_select(
    INGEST_SPEC,
    """(
    SELECT event_id,
        COALESCE(
            CASE WHEN id IS NOT NULL THEN
                'IOT_TEMP_' || upper(substr((string_split(id, '_'))[-1], 1, 8))
            END,
            'IOT_TEMP_UNKNOWN') AS device_id,
        try_strptime(noted_date, '%d-%m-%Y %H:%M') AS "timestamp",
        CAST(temp AS DOUBLE) AS temperature,
        concat_ws('_',
            replace(replace(room_id_id, 'Room ', ''), 'Admin', 'Office'),
            lower(out_in)) AS location
    FROM (
        SELECT event_id,
            CASE WHEN event_id % 97 = 0 THEN NULL
                 ELSE '__export__.temp_log_' || CAST(event_id AS VARCHAR)
                      || '_bd' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
            END AS id,
            CASE WHEN user_id % 5 = 0 THEN 'Room Admin'
                 WHEN user_id % 5 = 1 THEN 'Room 809'
                 WHEN user_id % 5 = 2 THEN 'Room Lab 2'
                 WHEN user_id % 5 = 3 THEN NULL
                 ELSE 'Admin Office'
            END AS room_id_id,
            CASE WHEN event_id % 89 = 0 THEN 'not a date'
                 ELSE strftime(ts, '%d-%m-%Y %H:%M')
            END AS noted_date,
            CAST(value AS VARCHAR) AS temp,
            CASE WHEN user_id % 2 = 0 THEN 'In' ELSE 'Out' END AS out_in
        FROM events
    ) kaggle_like
    WHERE try_strptime(noted_date, '%d-%m-%Y %H:%M') IS NOT NULL
) s""",
)


# --------------------------------------- file ingestion + audit (S1-S6, I10-I12)

AUDIT_SPEC = [
    ("file_name", ""),
    ("status", ""),
    ("encoding", ""),
    ("rows_ingested", "long"),
    ("distinct_record_ids", "long"),
    ("devices", "long"),
    ("max_location", ""),
]

_AUDIT_N_FILES = 3

# S2 encoding fixture: one file the landing zone stores as latin-1
# (0xE9 = é — invalid as utf-8, so the file must be read as latin1).
# Rows are hardcoded so the oracle can pin the decoded content without
# seeing the filesystem.
_LATIN1_FILE = "part_3.csv"
_LATIN1_ROWS = [
    (f"x_p3dev{k}", "Room Caf\xe9", f"01-02-2019 0{k}:00", str(20 + k), "In")
    for k in range(1, 6)
]


def _audit_landing_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic CSV landing zone: the `_kaggle_like` rows split into
    `part_<event_id % 3>.csv`, sorted by event_id, written byte-stably
    with Python so file hashes are reproducible across calls (the
    hash-skip check needs the same bytes every run), plus a latin-1
    encoded `part_3.csv` exercising the S2 encoding decision
    (`dlt_ingest/iot_temperature_pipeline.py:107-123`)."""
    import csv
    import tempfile

    scratch = os.environ.get("SPARK_GRAFT_SCRATCH") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    )
    out = os.path.join(
        scratch,
        f"spark_audit_landing_{os.getpid()}_{hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]}",
    )
    if os.path.isdir(out) and len(os.listdir(out)) == _AUDIT_N_FILES + 1:
        return out
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, _LATIN1_FILE), "wb") as lf:
        lines = ["id,room_id/id,noted_date,temp,out/in"]
        lines += [",".join(r) for r in _LATIN1_ROWS]
        lf.write(("\n".join(lines) + "\n").encode("latin-1"))
    rows = (
        _kaggle_like(spark, sf_dir)
        .select("event_id", "id", "room_id_id", "noted_date", "temp", "out_in")
        .collect()  # landing-zone CONSTRUCTION harness, not the operator
    )
    rows.sort(key=lambda r: r["event_id"])
    writers = {}
    files = []
    try:
        for i in range(_AUDIT_N_FILES):
            f = open(
                os.path.join(out, f"part_{i}.csv"), "w", newline="", encoding="utf-8"
            )
            files.append(f)
            w = csv.writer(f, lineterminator="\n")
            w.writerow(["id", "room_id/id", "noted_date", "temp", "out/in"])
            writers[i] = w
        for r in rows:
            writers[r["event_id"] % _AUDIT_N_FILES].writerow(
                [
                    "" if r["id"] is None else r["id"],
                    "" if r["room_id_id"] is None else r["room_id_id"],
                    r["noted_date"],
                    r["temp"],
                    r["out_in"],
                ]
            )
    finally:
        for f in files:
            f.close()
    return out


def ingest_audit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S6 + I10-I12 + S2 as one oracle-checked query: glob the
    landing zone, SKIP part_0.csv via the SHA-256 processing log (S3 —
    the reference's `_get_processed_files` dedup, `iot_temperature_
    pipeline.py:33-39`, which is stubbed there and real here), ingest
    the rest — including the latin-1 `part_3.csv`, whose audit row must
    record `encoding = latin1` and whose é must survive decode (pinned
    via `max_location = 'Café_in'`) — and emit one audit row per file
    with per-file row counts, row-id uniqueness (S5/I12: distinct
    `file_record_id` must equal rows), and distinct synthesized devices
    (I2)."""
    from ..sources.csv_ingest import ingest_directory, list_csv_files, sha256_file

    landing = _audit_landing_dir(spark, sf_dir)
    part0 = [p for p in list_csv_files(landing) if p.endswith("part_0.csv")]
    processed = local_table(
        spark,
        [(sha256_file(p),) for p in part0], schema="file_hash string"
    )
    res = ingest_directory(spark, landing, processed_hashes=processed)
    per_file = res.readings.groupBy("file_name").agg(
        F.count("*").alias("rows_ingested"),
        F.countDistinct("file_record_id").alias("distinct_record_ids"),
        F.countDistinct("device_id").alias("devices"),
        F.max("location").alias("max_location"),
    )
    audit = (
        res.audit_log.select("file_name", "status", "encoding")
        .join(per_file, "file_name", "left")
        .na.fill(0)
    )
    skipped = local_table(
        spark,
        [
            (os.path.basename(p), "skipped", "", 0, 0, 0, "")
            for p in res.skipped_files
        ],
        schema="file_name string, status string, encoding string, "
        "rows_ingested long, distinct_record_ids long, devices long, "
        "max_location string",
    )
    return shape(audit.unionByName(skipped), AUDIT_SPEC)


# The oracle never sees the filesystem: it re-derives each file's
# expected contents from `events` via the same event_id % 3 assignment
# and the same parse/drop/device/location rules as INGEST_SQL, and pins
# the latin-1 part_3.csv (S2 fallback) as hardcoded expected rows —
# encoding must come out 'latin1' and the é must survive decode.
AUDIT_SQL = sql_select(
    AUDIT_SPEC,
    """(
    SELECT 'part_0.csv' AS file_name, 'skipped' AS status, '' AS encoding,
           0 AS rows_ingested, 0 AS distinct_record_ids, 0 AS devices,
           '' AS max_location
    UNION ALL
    SELECT 'part_3.csv', 'processed', 'latin1', 5, 5, 5, 'Café_in'
    UNION ALL
    SELECT 'part_' || CAST(event_id % 3 AS VARCHAR) || '.csv',
           'processed',
           'utf-8',
           COUNT(*) FILTER (WHERE event_id % 89 != 0),
           COUNT(*) FILTER (WHERE event_id % 89 != 0),
           COUNT(DISTINCT CASE WHEN event_id % 89 != 0 THEN
               COALESCE(
                   CASE WHEN event_id % 97 != 0 THEN
                       -- id's last '_'-segment is 'bd'||md5[1:8]; I2 takes
                       -- its first 8 chars -> 'bd'||md5[1:6], uppercased
                       'IOT_TEMP_' || upper('bd' || substr(md5(CAST(event_id AS VARCHAR)), 1, 6))
                   END,
                   'IOT_TEMP_UNKNOWN')
           END),
           MAX(CASE WHEN event_id % 89 != 0 THEN
               concat_ws('_',
                   replace(replace(
                       CASE WHEN user_id % 5 = 0 THEN 'Room Admin'
                            WHEN user_id % 5 = 1 THEN 'Room 809'
                            WHEN user_id % 5 = 2 THEN 'Room Lab 2'
                            WHEN user_id % 5 = 3 THEN NULL
                            ELSE 'Admin Office'
                       END, 'Room ', ''), 'Admin', 'Office'),
                   CASE WHEN user_id % 2 = 0 THEN 'in' ELSE 'out' END)
           END)
    FROM events
    WHERE event_id % 3 != 0
    GROUP BY event_id % 3
) s""",
)


# ------------------------- per-file ingest mechanics (S3-S6, I11, I12)

FILELOG_SPEC = [
    ("file_name", ""),
    ("file_size_bytes", "long"),
    ("file_sha256", ""),
    ("encoding", ""),
    ("sanitized_columns", ""),
    ("rows_ingested", "long"),
    ("min_row_number", "long"),
    ("max_row_number", "long"),
    ("distinct_row_numbers", "long"),
    ("distinct_record_ids", "long"),
    ("load_ids", "long"),
    ("hash_stamp_consistent", ""),
]

# The latin-1 fixture file's exact bytes are module constants
# (_LATIN1_ROWS), so its size and SHA-256 are derivable here without
# touching the filesystem — the oracle pins them as literals.
_LATIN1_BYTES = (
    "\n".join(
        ["id,room_id/id,noted_date,temp,out/in"]
        + [",".join(r) for r in _LATIN1_ROWS]
    )
    + "\n"
).encode("latin-1")


def ingest_file_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-S6 + I11/I12 per-file mechanics as one oracle-checked query
    (`dlt_ingest/iot_temperature_pipeline.py:27-102,224-245`): ingest the
    full landing zone (no skip — `ingest_audit_log` pins S3's skip path)
    and emit, per file, the exact byte size and SHA-256 content hash
    (I12; the oracle RECONSTRUCTS each utf-8 file's bytes from `events`
    via the same `event_id % 3` assignment and hashes them in SQL, so a
    single byte of drift in the landing writer or the hash chunking
    mismatches), the encoding the ingest decided on (S2), the
    post-sanitize header (I11), the per-file row count after the
    null-timestamp drop, row-number extremes/uniqueness (S5: min=1,
    max=count, all distinct), record-id uniqueness (I12 row ids), the
    batch load-id cardinality (S6: one load id per batch), and agreement
    between the audit row's hash and the hash stamped on every reading
    (S4 metadata enrichment consistency)."""
    from ..sources.csv_ingest import ingest_directory

    landing = _audit_landing_dir(spark, sf_dir)
    res = ingest_directory(spark, landing)
    per_file = res.readings.groupBy("file_name").agg(
        F.count("*").alias("rows_ingested"),
        F.min("row_number").alias("min_row_number"),
        F.max("row_number").alias("max_row_number"),
        F.countDistinct("row_number").alias("distinct_row_numbers"),
        F.countDistinct("file_record_id").alias("distinct_record_ids"),
        F.countDistinct("_dlt_load_id").alias("load_ids"),
        F.max("file_hash").alias("stamped_hash"),
        F.countDistinct("file_hash").alias("stamped_hashes"),
    )
    df = (
        res.audit_log.select(
            "file_name",
            "file_size_bytes",
            F.col("file_hash").alias("file_sha256"),
            "encoding",
            "sanitized_columns",
        )
        .join(per_file, "file_name")
        .withColumn(
            "hash_stamp_consistent",
            (F.col("stamped_hashes") == 1)
            & (F.col("stamped_hash") == F.col("file_sha256")),
        )
    )
    return shape(df, FILELOG_SPEC)


# The oracle rebuilds each utf-8 landing file's exact content from
# `events` (same row order, same CSV line shape as the byte-stable
# Python writer in `_audit_landing_dir` — no field ever needs csv
# quoting, all content is ASCII so strlen == bytes) and pins the
# latin-1 file from the module constants above.
FILELOG_SQL = sql_select(
    FILELOG_SPEC,
    f"""(
    WITH lines AS (
        SELECT event_id % 3 AS part,
            event_id,
            COALESCE(
                CASE WHEN event_id % 97 != 0 THEN
                    '__export__.temp_log_' || CAST(event_id AS VARCHAR)
                    || '_bd' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                END, '')
            || ',' ||
            COALESCE(
                CASE WHEN user_id % 5 = 0 THEN 'Room Admin'
                     WHEN user_id % 5 = 1 THEN 'Room 809'
                     WHEN user_id % 5 = 2 THEN 'Room Lab 2'
                     WHEN user_id % 5 = 3 THEN NULL
                     ELSE 'Admin Office'
                END, '')
            || ',' ||
            CASE WHEN event_id % 89 = 0 THEN 'not a date'
                 ELSE strftime(ts, '%d-%m-%Y %H:%M')
            END
            || ',' || CAST(value AS VARCHAR) || ',' ||
            CASE WHEN user_id % 2 = 0 THEN 'In' ELSE 'Out' END AS line,
            (event_id % 89 != 0) AS kept
        FROM events
    ),
    contents AS (
        SELECT part,
            'id,room_id/id,noted_date,temp,out/in' || chr(10)
                || string_agg(line, chr(10) ORDER BY event_id) || chr(10)
                AS content,
            COUNT(*) FILTER (WHERE kept) AS n
        FROM lines GROUP BY part
    )
    SELECT 'part_' || CAST(part AS VARCHAR) || '.csv' AS file_name,
        strlen(content) AS file_size_bytes,
        sha256(content) AS file_sha256,
        'utf-8' AS encoding,
        'id,room_id_id,noted_date,temp,out_in' AS sanitized_columns,
        n AS rows_ingested,
        1 AS min_row_number,
        n AS max_row_number,
        n AS distinct_row_numbers,
        n AS distinct_record_ids,
        1 AS load_ids,
        true AS hash_stamp_consistent
    FROM contents
    UNION ALL
    SELECT '{_LATIN1_FILE}', {len(_LATIN1_BYTES)},
        '{hashlib.sha256(_LATIN1_BYTES).hexdigest()}', 'latin1',
        'id,room_id_id,noted_date,temp,out_in',
        {len(_LATIN1_ROWS)}, 1, {len(_LATIN1_ROWS)}, {len(_LATIN1_ROWS)},
        {len(_LATIN1_ROWS)}, 1, true
) s""",
)


# ------------------------------------- synthetic sensor fields (I6-I9) contract

SYNTH_SPEC = [
    ("rows", "long"),
    ("bounds_ok", ""),
    ("sets_ok", ""),
    ("humidity_temp_corr_neg", ""),
    ("battery_mean_ok", ""),
    ("signal_mean_ok", ""),
    ("device_types", "long"),
    ("firmware_versions", "long"),
]


def synthetic_fields_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-contract oracle for the I6-I9 synthetic generators
    (`sources/csv_ingest.py` `with_synthetic_sensor_fields`): the values
    are seeded-random (distribution-equivalent to the reference's numpy
    draws, SURVEY §7.4.3), so the contract pins what IS deterministic —
    clip bounds, categorical membership, the humidity↔temperature slope
    sign, and wide (≫5σ) mean windows — as a 1-row all-TRUE check the
    driver hash-compares exactly."""
    from ..sources.csv_ingest import (
        DEVICE_TYPES,
        FIRMWARE_VERSIONS,
        with_synthetic_sensor_fields,
    )

    base = kaggle_transform(_kaggle_like(spark, sf_dir)).filter(
        F.col("timestamp").isNotNull()
    )
    syn = with_synthetic_sensor_fields(base)
    df = syn.agg(
        F.count("*").alias("rows"),
        (
            (F.min("humidity") >= 20.0) & (F.max("humidity") <= 95.0)
            & (F.min("battery_level") >= 10.0) & (F.max("battery_level") <= 100.0)
            & (F.min("signal_strength") >= -90.0) & (F.max("signal_strength") <= -20.0)
        ).alias("bounds_ok"),
        (
            F.every(F.col("device_type").isin(DEVICE_TYPES))
            & F.every(F.col("firmware_version").isin(FIRMWARE_VERSIONS))
        ).alias("sets_ok"),
        (F.corr("humidity", "temperature") < 0).alias("humidity_temp_corr_neg"),
        F.avg("battery_level").between(78.0, 90.0).alias("battery_mean_ok"),
        F.avg("signal_strength").between(-58.0, -42.0).alias("signal_mean_ok"),
        F.countDistinct("device_type").alias("device_types"),
        F.countDistinct("firmware_version").alias("firmware_versions"),
    )
    return shape(df, SYNTH_SPEC)


SYNTH_SQL = sql_select(
    SYNTH_SPEC,
    """(
    SELECT COUNT(*) FILTER (WHERE event_id % 89 != 0) AS rows,
        true AS bounds_ok, true AS sets_ok, true AS humidity_temp_corr_neg,
        true AS battery_mean_ok, true AS signal_mean_ok,
        5 AS device_types, 5 AS firmware_versions
    FROM events
) s""",
)


# ----------------------------------------------- S12 ANALYZE / catalog stats

ANALYZE_SPEC = [
    ("col_name", ""),
    ("table_rows", "long"),
    ("num_nulls", "long"),
    ("min_value", ""),
    ("max_value", ""),
]


def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 stats refresh as an oracle-checked query: materialize a probe
    table from `orders`, run `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL
    COLUMNS` (the reference's per-table ANALYZE,
    `airflow/dags/iot_temperature_dag.py:276-287`), and emit the CBO's
    recorded row count / null counts / min-max per column — which DuckDB
    recomputes directly from the source, so any drift in the stats
    pipeline (or a stale catalog entry) hash-mismatches."""
    from ..maintenance import analyzed_column_stats

    orders = load_table(spark, sf_dir, "orders")
    probe = orders.select(
        "o_orderkey",
        F.floor("o_totalprice").cast("long").alias("price_floor"),
        F.to_date("o_orderdate").alias("order_date"),
    )
    # fixed, deterministic name: unpinned PYTHONHASHSEED made hash()
    # produce a fresh name per process, and the old random tables were
    # never dropped (analyzed_column_stats now also drops after read)
    table = "analyze_probe_orders"
    stats = analyzed_column_stats(
        spark, probe, table, ["o_orderkey", "price_floor", "order_date"]
    )
    return shape(stats, ANALYZE_SPEC)


ANALYZE_SQL = sql_select(
    ANALYZE_SPEC,
    """(
    SELECT 'o_orderkey' AS col_name, COUNT(*) AS table_rows,
        COUNT(*) - COUNT(o_orderkey) AS num_nulls,
        CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
        CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'price_floor', COUNT(*), COUNT(*) - COUNT(o_totalprice),
        CAST(MIN(CAST(FLOOR(o_totalprice) AS BIGINT)) AS VARCHAR),
        CAST(MAX(CAST(FLOOR(o_totalprice) AS BIGINT)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'order_date', COUNT(*), COUNT(*) - COUNT(o_orderdate),
        CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR),
        CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR)
    FROM orders
) s""",
)


# -------------------------- catalog guard + small-files compaction

MAINT_SPEC = [
    ("exists_before", ""),
    ("exists_after", ""),
    ("rows_initial", "long"),
    ("rows_after_noop", "long"),
    ("rows_after_overwrite", "long"),
    ("files_before", "long"),
    ("files_after", "long"),
    ("compact_rows_preserved", ""),
    ("compact_checksum_preserved", ""),
]


def catalog_maintenance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`table_exists` / `ensure_table` guard semantics (the reference's
    `dbt_transform/macros/table_exists.sql:1-15` macro and its
    incremental-guard use) plus versioned-table compaction, pinned end to
    end:

    - catalog probe is False before / True after materialization;
    - a second `ensure_table` with a DIFFERENT build is a no-op (the
      guard must reuse the existing table — row count stays at build1's);
    - `overwrite=True` forces the rebuild (row count moves to build2's);
    - a 16-file versioned table compacts (`versioned.compact`) to 1
      file with row count and an order-independent checksum (sum of
      keys) equal between the two versions.

    The oracle recomputes both build counts from `orders` and pins the
    file counts and invariants as literals — any drift in the guard
    (rebuilding when it must reuse, or vice versa) or a row lost in the
    compaction mismatches."""
    import shutil
    import tempfile

    from ..sources.catalog import ensure_table, table_exists
    from ..sources.versioned import compact, create_table, file_count, read_version

    orders = load_table(spark, sf_dir, "orders")
    tbl = f"maint_probe_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    exists_before = table_exists(spark, tbl)
    build1 = lambda: orders.filter(F.col("o_orderkey") % 7 == 0)  # noqa: E731
    build2 = lambda: orders.filter(F.col("o_orderkey") % 3 == 0)  # noqa: E731
    rows_initial = ensure_table(spark, tbl, build1).count()
    exists_after = table_exists(spark, tbl)
    # guard path: build2 must NOT run — the catalog copy is reused
    rows_after_noop = ensure_table(spark, tbl, build2).count()
    rows_after_overwrite = ensure_table(spark, tbl, build2, overwrite=True).count()
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    scratch = tempfile.mkdtemp(prefix="sg_compact_")
    try:
        table = os.path.join(scratch, "t")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
        create_table(spark, li, table, layout_col="l_orderkey", n_files=16)

        def checksum(v: int):
            return read_version(spark, table, version=v).agg(
                F.count("*").alias("n"), F.sum("l_orderkey").alias("s")
            ).first()

        before = checksum(1)
        # every file is below small_rows, so all of them pack into one
        v2, _, _ = compact(
            spark, table, layout_col="l_orderkey",
            small_rows=before["n"] + 1, n_files=1,
        )
        after = checksum(v2)
        files_before, files_after = file_count(table, 1), file_count(table, v2)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    df = local_table(
        spark,
        [
            (
                exists_before,
                exists_after,
                rows_initial,
                rows_after_noop,
                rows_after_overwrite,
                files_before,
                files_after,
                before["n"] == after["n"],
                before["s"] == after["s"],
            )
        ],
        schema="exists_before boolean, exists_after boolean, "
        "rows_initial long, rows_after_noop long, rows_after_overwrite long, "
        "files_before long, files_after long, "
        "compact_rows_preserved boolean, compact_checksum_preserved boolean",
    )
    return shape(df, MAINT_SPEC)


MAINT_SQL = sql_select(
    MAINT_SPEC,
    """(
    SELECT false AS exists_before, true AS exists_after,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0) AS rows_initial,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0) AS rows_after_noop,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS rows_after_overwrite,
        16 AS files_before, 1 AS files_after,
        true AS compact_rows_preserved, true AS compact_checksum_preserved
) s""",
)


# --------------------------------------------------------- Z-order layout

ZORDER_SPEC = [
    ("event_type", ""),
    ("n", "long"),
    ("sum_centi", "long"),
]

ZORDER_BOX = {"v_lo": 10_000, "v_hi": 20_000, "u_lo": 10, "u_hi": 40}


def zorder_events_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER analog end-to-end: rewrite events clustered on
    the Morton curve over (value_centi, user_id)
    (`maintenance.cluster_zorder`), then answer a two-dimensional box
    predicate from the clustered copy. The oracle recomputes the same
    box aggregate from the raw table, so the layout rewrite is pinned
    to lose/duplicate nothing; the file-skipping property itself
    (footer min/max boxes shrink in BOTH dimensions) is asserted in
    `tests/test_layout.py`."""
    from ..maintenance import cluster_zorder
    from ..streaming.core import workdir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    path = f"{workdir('zorder')}/events_z"
    cluster_zorder(spark, ev, path, ["value_centi", "user_id"], bits=8, n_files=8)
    b = ZORDER_BOX
    back = spark.read.parquet(path).filter(
        F.col("value_centi").between(b["v_lo"], b["v_hi"])
        & F.col("user_id").between(b["u_lo"], b["u_hi"])
    )
    df = (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value_centi").alias("sum_centi"))
        .orderBy("event_type")
    )
    return shape(df, ZORDER_SPEC)


ZORDER_SQL = sql_select(
    ZORDER_SPEC,
    f"""(
    SELECT event_type, COUNT(*) AS n,
        SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_centi
    FROM events
    WHERE CAST(ROUND(value * 100) AS BIGINT)
              BETWEEN {ZORDER_BOX["v_lo"]} AND {ZORDER_BOX["v_hi"]}
      AND user_id BETWEEN {ZORDER_BOX["u_lo"]} AND {ZORDER_BOX["u_hi"]}
    GROUP BY event_type
    ORDER BY event_type
) s""",
)


# ------------------------------------------------------------------ registry

def _with_prelude(sql: str) -> str:
    return oracle_prelude() + sql


RELATIONAL: dict[str, QuerySpec] = {
    "tpch_q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL),
    "tpch_q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL),
    "tpch_q5_regional_revenue": QuerySpec(q5_regional_revenue, Q5_SQL),
    "tpch_q6_forecast_revenue": QuerySpec(q6_forecast_revenue, Q6_SQL),
    "tpch_q10_returned_items": QuerySpec(q10_returned_items, Q10_SQL),
    "tpch_q14_promo_effect": QuerySpec(q14_promo_effect, Q14_SQL),
    "tpch_q18_large_volume_customers": QuerySpec(
        q18_large_volume_customers, Q18_SQL
    ),
    "topk_orders": QuerySpec(topk_orders, TOPK_SQL),
    "window_temperature_deltas": QuerySpec(
        window_temperature_deltas, _with_prelude(WINDOW_SQL)
    ),
    "events_hourly_tumbling": QuerySpec(events_hourly_tumbling, TUMBLING_SQL),
    "events_sliding_window": QuerySpec(events_sliding_window, SLIDING_SQL),
    "events_session_windows": QuerySpec(events_session_windows, SESSION_SQL),
    "events_json_props": QuerySpec(events_json_props, JSON_SQL),
    "union_ops_counts": QuerySpec(union_ops_counts, _with_prelude(UNION_SQL)),
    "retention_filter": QuerySpec(retention_filter, _with_prelude(RETENTION_SQL)),
    "ingest_kaggle_transform": QuerySpec(ingest_kaggle_transform, INGEST_SQL),
    "ingest_audit_log": QuerySpec(ingest_audit_log, AUDIT_SQL),
    "ingest_file_log": QuerySpec(ingest_file_log, FILELOG_SQL),
    "synthetic_fields_contract": QuerySpec(synthetic_fields_contract, SYNTH_SQL),
    "analyze_table_stats": QuerySpec(analyze_table_stats, ANALYZE_SQL),
    "catalog_maintenance_report": QuerySpec(catalog_maintenance_report, MAINT_SQL),
    "zorder_events_box": QuerySpec(zorder_events_box, ZORDER_SQL),
}


# ------------------------------------------------- VARIANT (Spark 4) JSON

VARIANT_SPEC = [
    ("event_type", ""),
    ("n_events", "long"),
    ("n_valid_json", "long"),
    ("sum_k", "long"),
    ("n_even_k", "long"),
]


def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's native VARIANT type —
    `try_parse_json` once into the binary-encoded open type, then typed
    `variant_get` paths (the engine-native successor to per-path
    `get_json_object` string re-parsing: one parse, many typed reads).
    The DuckDB twin reads the same paths with its JSON extractors —
    values, not encodings, are compared."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.try_parse_json(F.col("props")).alias("v"))
    k = F.variant_get(F.col("v"), "$.k", "long")
    df = (
        v.select("event_type", F.col("v").isNotNull().alias("ok"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("ok").cast("long")).alias("n_valid_json"),
            F.sum("k").alias("sum_k"),
            F.sum(((F.col("k") % 2) == 0).cast("long")).alias("n_even_k"),
        )
        .orderBy("event_type")
    )
    return shape(df, VARIANT_SPEC)


VARIANT_SQL = sql_select(
    VARIANT_SPEC,
    """(
    SELECT event_type,
        COUNT(*) AS n_events,
        SUM(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS n_valid_json,
        SUM(k) AS sum_k,
        SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS n_even_k
    FROM (
        SELECT event_type, props,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    ) t
    GROUP BY event_type
    ORDER BY event_type
) vs""",
)

RELATIONAL["events_variant_props"] = QuerySpec(events_variant_props, VARIANT_SQL)
