"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship methylation-beta pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator from SURVEY §2
(plus the beyond-reference training-data operators); ``oracle_sql()`` gives
the DuckDB-equivalent SQL for each.

Cross-engine float determinism: aggregates over doubles are computed with
integer-scaled sums (``CAST(ROUND(x*100) AS BIGINT)``) so Spark and DuckDB
produce bit-identical results regardless of accumulation order; per-row
derived floats are rounded identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pylluminator_spark.functions.methyl import beta_expr, beta_to_m_expr, meth_unmeth_exprs
from pylluminator_spark.functions.stats import bh_adjust
from pylluminator_spark.functions.text import (
    mean_token_length_expr,
    punct_ratio_expr,
    token_count_expr,
    tokens_expr,
)
from pylluminator_spark.operators.similarity import cosine_expr
from pylluminator_spark.queries import tpch_shapes as _tpch

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pylluminator_spark.datasets import load_table

    return load_table(spark, sf_dir, name)


def _cents(col: F.Column, scale: int = 100) -> F.Column:
    """Exact integer-scaled representation for deterministic sums."""
    return F.round(col * scale).cast("long")


def _epoch_us(col_name: str = "ts") -> F.Column:
    """Epoch microseconds for the events timestamp, valid for both TIMESTAMP
    and TIMESTAMP_NTZ inputs (the driver's session reads events.parquet as
    NTZ; ``unix_micros`` rejects NTZ). ``timestampdiff`` from an NTZ epoch
    literal is timezone-independent and matches DuckDB's ``epoch_us`` on the
    same naive column."""
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" CAST({col_name} AS TIMESTAMP_NTZ))"
    )


# ---------------------------------------------------------------------------
# Synthetic methylation signal derived deterministically from lineitem. The
# same derivation is written in each oracle's CTE so both engines compute on
# identical rows. Maps the FIXTURES §4 semi-wide signal schema onto TPC-H.
# ---------------------------------------------------------------------------

_SIGNAL_CTE = """
signal AS (
  SELECT
    l_orderkey * 10 + l_linenumber          AS probe_id,
    CASE WHEN l_partkey % 3 = 0 THEN 'I' ELSE 'II' END AS type,
    CASE WHEN l_suppkey % 2 = 0 THEN 'G' ELSE 'R' END  AS channel,
    CAST(l_suppkey % 6 AS VARCHAR)          AS sample,
    l_extendedprice                         AS mg,
    l_extendedprice * (1 - l_discount)      AS mr,
    l_quantity * 100.0                      AS ug,
    l_quantity * 100.0 + l_tax * 1000.0     AS ur
  FROM lineitem
)
"""


def _signal_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("probe_id"),
        F.when(F.col("l_partkey") % 3 == 0, "I").otherwise("II").alias("type"),
        F.when(F.col("l_suppkey") % 2 == 0, "G").otherwise("R").alias("channel"),
        (F.col("l_suppkey") % 6).cast("string").alias("sample"),
        F.col("l_extendedprice").alias("mg"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("mr"),
        (F.col("l_quantity") * 100.0).alias("ug"),
        (F.col("l_quantity") * 100.0 + F.col("l_tax") * 1000.0).alias("ur"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthetic signal -> beta values -> per-sample distribution
    aggregates (the reference's canonical preprocessing query, SURVEY §3.2)."""
    signal = _signal_df(spark, SF0001)
    meth, unmeth = meth_unmeth_exprs(include_out_of_band=False)
    betas = signal.withColumn("beta", beta_expr(meth, unmeth))
    return (
        betas.groupBy("sample")
        .agg(
            F.count("beta").alias("n_probes"),
            F.round(F.avg("beta"), 6).alias("mean_beta"),
            F.sum(F.when(F.col("beta") < 0.3, 1).otherwise(0)).alias("n_hypo"),
            F.sum(F.when(F.col("beta") > 0.7, 1).otherwise(0)).alias("n_hyper"),
        )
        .orderBy("sample")
    )


# ---------------------------------------------------------------------------
# Relational operator queries (SURVEY §2) with DuckDB oracles
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A11-style scan+filter+groupBy aggregate (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("_qty_c"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("_base_c"),
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
            ).alias("_disc_c"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("_qty_c").cast("double") / 100).alias("sum_qty"),
            (F.col("_base_c").cast("double") / 100).alias("sum_base_price"),
            (F.col("_disc_c").cast("double") / 10000).alias("sum_disc_price"),
            (F.col("_qty_c").cast("double") / 100 / F.col("count_order")).alias(
                "avg_qty"
            ),
            "count_order",
        )
    )
    return out


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100 AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100 AS sum_base_price,
       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS DOUBLE)/10000 AS sum_disc_price,
       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100/COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-style fact-dim join chain with broadcast dims (TPC-H Q5 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
            ).alias("_rev_c"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "n_name",
            "r_name",
            (F.col("_rev_c").cast("double") / 10000).alias("revenue"),
            "n_items",
        )
    )


ORACLE_REVENUE_NATION = """
SELECT n_name, r_name,
       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS DOUBLE)/10000 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — global top-k with deterministic tie-break."""
    orders = _t(spark, sf_dir, "orders")
    by_cust = orders.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("_rev_c"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        by_cust.orderBy(F.col("_rev_c").desc(), F.col("o_custkey").asc())
        .limit(10)
        .select(
            "o_custkey",
            (F.col("_rev_c").cast("double") / 100).alias("revenue"),
            "n_orders",
        )
    )


ORACLE_TOP_CUSTOMERS = """
SELECT o_custkey,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) DESC, o_custkey ASC
LIMIT 10
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — per-group top-k via row_number window."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "p_brand",
            "p_partkey",
            F.round(F.col("p_retailprice"), 2).alias("price"),
            "rnk",
        )
    )


ORACLE_TOPK_PER_GROUP = """
SELECT p_brand, p_partkey, ROUND(p_retailprice, 2) AS price, rnk
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
  FROM part
) t WHERE rnk <= 3
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join idiom (J12 / EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    active = cust.join(
        orders.select("o_custkey").distinct(),
        cust.c_custkey == F.col("o_custkey"),
        "left_semi",
    )
    return active.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


ORACLE_SEMI_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join idiom (P14 / NOT EXISTS): parts never ordered."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    never = part.join(
        li.select("l_partkey").distinct(),
        part.p_partkey == F.col("l_partkey"),
        "left_anti",
    )
    return never.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_unsold"))


ORACLE_ANTI_JOIN = """
SELECT p_brand, COUNT(*) AS n_unsold
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
"""


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 — per-customer running order total (exact integer window sum)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(_cents(F.col("o_totalprice"))).over(w).cast("double") / 100
        ).alias("running_total"),
    )


ORACLE_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/100
         AS running_total
FROM orders
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/J10 — gaps-and-islands sessionization of the events stream
    (30-minute inactivity gap), the batch analogue of session windows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_us = 30 * 60 * 1_000_000
    with_flag = ev.withColumn("_us", _epoch_us("ts")).withColumn(
        "_new",
        F.when(
            F.col("_us") - F.lag("_us").over(w) > gap_us, 1
        ).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return with_sid.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor((F.max("_us") - F.min("_us")) / 1_000_000).alias("duration_sec"),
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessions AS (
  SELECT user_id, us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_sec
FROM sessions GROUP BY user_id, session_id
"""


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream (batch equivalent of
    the streaming surface; hourly windows)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "window_start",
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"),
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(_cents(F.col("value"))).cast("double") / 100
            ).alias("sum_value"),
        )
    )


ORACLE_EVENT_WINDOWS = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100 AS sum_value
FROM events GROUP BY 1, 2
"""


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming gate (beyond-reference §2.9): the REAL streaming
    pipeline — readStream parquet source -> watermarked tumbling-window
    aggregation (streaming.events.tumbling_window_counts) -> availableNow
    drain through a memory sink — whose batch-equivalence property makes the
    result a deterministic DataFrame the DuckDB oracle can check (complete
    output mode = plain GROUP BY over the bounded input). Count columns
    only: exact integers dodge the cross-engine float-sum ordering gap."""
    from pylluminator_spark.streaming.events import (
        read_event_stream_auto,
        run_available_now,
        tumbling_window_counts,
        wall_clock_window_offset,
    )

    stream = read_event_stream_auto(spark, f"{sf_dir}/events.parquet")
    agg = tumbling_window_counts(
        stream,
        window_duration="1 hour",
        watermark="10 minutes",
        # align the window grid to the session wall clock so the hourly
        # labels match the oracle's date_trunc even under a
        # fractional-offset session timezone (+05:30 etc.)
        start_time=wall_clock_window_offset(spark),
    )
    res = run_available_now(
        agg, output_mode="complete", shuffle_partitions=8
    )
    return res.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n_events",
    )


ORACLE_STREAM_TUMBLING = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM events GROUP BY 1, 2, 3
"""


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 — distinct + count-distinct aggregates."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_AGG = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_median_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — exact percentile/median per group."""
    part = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.round(F.expr("percentile(p_retailprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(p_retailprice, 0.25)"), 4).alias("q1_price"),
        F.round(F.expr("percentile(p_retailprice, 0.75)"), 4).alias("q3_price"),
    )


ORACLE_MEDIAN_BY_BRAND = """
SELECT p_brand,
       ROUND(quantile_cont(p_retailprice, 0.5), 4) AS median_price,
       ROUND(quantile_cont(p_retailprice, 0.25), 4) AS q1_price,
       ROUND(quantile_cont(p_retailprice, 0.75), 4) AS q3_price
FROM part GROUP BY p_brand
"""


def q_beta_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — methylation beta computation (clip(M,1)/clip(M+U,2)) with the
    type-II zero-fill rules, on the synthetic signal (reference
    samples.py:1074-1108)."""
    signal = _signal_df(spark, sf_dir)
    meth, unmeth = meth_unmeth_exprs(include_out_of_band=False)
    return signal.select(
        "probe_id",
        "sample",
        F.round(beta_expr(meth, unmeth), 6).alias("beta"),
    )


ORACLE_BETA_VALUES = f"""
WITH {_SIGNAL_CTE}
SELECT probe_id, sample,
       ROUND(GREATEST(m, 1.0) / GREATEST(m + u, 2.0), 6) AS beta
FROM (
  SELECT probe_id, sample,
         CASE WHEN type = 'II' THEN mg
              WHEN channel = 'G' THEN mg ELSE mr END AS m,
         CASE WHEN type = 'II' THEN ur
              WHEN channel = 'G' THEN ug ELSE ur END AS u
  FROM signal
) t
"""


def q_m_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — M-value transform log2((beta+eps)/(1-beta-eps))
    (reference samples.py:1200-1227)."""
    signal = _signal_df(spark, sf_dir)
    meth, unmeth = meth_unmeth_exprs(include_out_of_band=False)
    betas = signal.select(
        "probe_id", "sample", beta_expr(meth, unmeth).alias("beta")
    )
    return betas.select(
        "probe_id",
        "sample",
        F.round(beta_to_m_expr(F.col("beta")), 6).alias("m_value"),
    )


ORACLE_M_VALUES = f"""
WITH {_SIGNAL_CTE},
betas AS (
  SELECT probe_id, sample,
         GREATEST(m, 1.0) / GREATEST(m + u, 2.0) AS beta
  FROM (
    SELECT probe_id, sample,
           CASE WHEN type = 'II' THEN mg
                WHEN channel = 'G' THEN mg ELSE mr END AS m,
           CASE WHEN type = 'II' THEN ur
                WHEN channel = 'G' THEN ug ELSE ur END AS u
    FROM signal
  ) t
)
SELECT probe_id, sample,
       ROUND(log2((beta + 1e-8) / (1 - (beta + 1e-8))), 6) AS m_value
FROM betas
"""


def q_bh_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/K11 — Benjamini-Hochberg FDR adjustment as window math
    (reference dm.py:475-477). Synthetic p-values from orders."""
    orders = _t(spark, sf_dir, "orders")
    pvals = orders.select(
        F.col("o_orderkey").alias("test_id"),
        (((F.col("o_orderkey") * 7919) % 9973) / 9973.0).alias("p_value"),
    )
    from pylluminator_spark.operators.ordered import bh_adjust_global

    # scale path: range-partitioned two-pass BH, no single-partition window
    # (operators.ordered; functions.stats.bh_adjust is the small-data form)
    adjusted = bh_adjust_global(pvals, "p_value", "p_adj", tie_cols=["test_id"])
    return adjusted.select(
        "test_id",
        F.round("p_value", 8).alias("p_value"),
        F.round("p_adj", 8).alias("p_adj"),
    )


ORACLE_BH_ADJUST = """
WITH pvals AS (
  SELECT o_orderkey AS test_id,
         ((o_orderkey * 7919) % 9973) / 9973.0 AS p_value
  FROM orders
), ranked AS (
  -- tie-break by test_id: the ROWS-frame running min below needs a TOTAL
  -- order, else peers within a tied p_value are framed nondeterministically
  SELECT test_id, p_value,
         ROW_NUMBER() OVER (ORDER BY p_value ASC, test_id ASC) AS rnk,
         COUNT(*) OVER () AS n
  FROM pvals
)
SELECT test_id, ROUND(p_value, 8) AS p_value,
       ROUND(LEAST(1.0, MIN(p_value * n / rnk)
                         OVER (ORDER BY rnk DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             8) AS p_adj
FROM ranked
"""


def q_mask_nullout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — mask application as join + null-out, then null-aware aggregates
    (reference samples.py:577-602): mask = small parts (p_size < 10)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    mask = part.filter(F.col("p_size") < 10).select("p_partkey").withColumn(
        "_m", F.lit(True)
    )
    masked = li.join(F.broadcast(mask), li.l_partkey == mask.p_partkey, "left")
    nulled = masked.withColumn(
        "price_masked",
        F.when(F.col("_m"), F.lit(None)).otherwise(F.col("l_extendedprice")),
    )
    return nulled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("price_masked").alias("n_unmasked"),
        (
            F.sum(_cents(F.col("price_masked"))).cast("double") / 100
        ).alias("sum_unmasked"),
    )


ORACLE_MASK_NULLOUT = """
WITH masked AS (
  SELECT l_returnflag,
         CASE WHEN p.p_partkey IS NOT NULL THEN NULL
              ELSE l_extendedprice END AS price_masked
  FROM lineitem
  LEFT JOIN (SELECT p_partkey FROM part WHERE p_size < 10) p
         ON l_partkey = p.p_partkey
)
SELECT l_returnflag, COUNT(*) AS n_rows,
       COUNT(price_masked) AS n_unmasked,
       CAST(SUM(CAST(ROUND(price_masked*100) AS BIGINT)) AS DOUBLE)/100 AS sum_unmasked
FROM masked GROUP BY l_returnflag
"""


def q_merge_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A4 — type-dispatched group merge (merge_samples_by, reference
    samples.py:604-664 + utils.py:516-564): numeric -> mean, string ->
    ';'-joined sorted distinct."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        (
            F.sum(_cents(F.col("c_acctbal"))).cast("double")
            / 100
            / F.count(F.lit(1))
        ).alias("avg_acctbal"),
        F.array_join(
            F.array_sort(F.collect_set("c_mktsegment")), ";"
        ).alias("segments"),
        F.count(F.lit(1)).alias("n_customers"),
    )


ORACLE_MERGE_BY_GROUP = """
SELECT c_nationkey,
       CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100/COUNT(*) AS avg_acctbal,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ';') AS segments,
       COUNT(*) AS n_customers
FROM customer GROUP BY c_nationkey
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: keep lowest doc_id per content
    (beyond-reference training-data operator)."""
    docs = _t(spark, sf_dir, "documents")
    # Group on the 8-byte fingerprint of the normalized text, not the text
    # itself: at 100 TB the shuffle moves hashes, not documents (collision
    # odds at 2^64 are ~n^2/2^65 — immaterial for dedup).
    normalized = docs.withColumn(
        "_fp",
        F.xxhash64(F.array_join(tokens_expr(F.lower(F.col("text"))), " ")),
    )
    keep = normalized.groupBy("_fp").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return keep.select("doc_id", "n_copies")


ORACLE_DEDUP_EXACT = r"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM (
  SELECT doc_id,
         array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> x != ''), ' ') AS norm
  FROM documents
) t
GROUP BY norm
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counting + quality metrics per document."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        token_count_expr(F.col("text")).alias("n_tokens"),
        F.round(mean_token_length_expr(toks), 6).alias("mean_token_len"),
        F.round(punct_ratio_expr(F.col("text")), 6).alias("punct_ratio"),
    )


ORACLE_TOKEN_STATS = r"""
SELECT doc_id,
       LENGTH(text) AS n_chars,
       len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS n_tokens,
       ROUND(list_sum(list_transform(list_filter(regexp_split_to_array(text, '\s+'),
                                                 x -> x != ''),
                                     x -> LENGTH(x)))
             / GREATEST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                        x -> x != '')), 1) * 1.0, 6) AS mean_token_len,
       ROUND(LENGTH(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
             / GREATEST(LENGTH(text), 1) * 1.0, 6) AS punct_ratio
FROM documents
"""


def q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language profiling: per-language doc counts and mean token counts."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("_n_tok", token_count_expr(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum("_n_tok").cast("double") / F.count(F.lit(1))
            ).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


ORACLE_LANG_PROFILE = r"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''))) AS DOUBLE)
         / COUNT(*) AS avg_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search — brute-force cosine top-5 neighbors for the first
    five vectors (similarity rounded before ranking for determinism)."""
    from pylluminator_spark.operators.similarity import dot_expr, norm_expr

    emb = _t(spark, sf_dir, "embeddings")
    # Norms are computed ONCE per vector before the cross join (the per-pair
    # hot loop then does a single dot product); float math is bit-identical
    # to cosine_expr, which evaluates the same sqrt-of-sum-of-squares.
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_q"),
    ).withColumn("_qn", norm_expr(F.col("_q")))
    corpus = emb.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_c")
    ).withColumn("_cn", norm_expr(F.col("_c")))
    denom = F.col("_qn") * F.col("_cn")
    sim = F.round(
        F.when(denom > 0, dot_expr(F.col("_q"), F.col("_c")) / denom)
        .otherwise(F.lit(0.0)),
        6,
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("similarity", sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "similarity", "rank")
    )


ORACLE_COSINE_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))), 6)
           AS similarity
  FROM q CROSS JOIN embeddings e
  WHERE q.query_id != e.vec_id
)
SELECT query_id, vec_id, similarity, rank FROM (
  SELECT query_id, vec_id, similarity,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY similarity DESC, vec_id ASC) AS rank
  FROM scored
) t WHERE rank <= 5
"""


# ===========================================================================
# Batch 2 — interval joins, ECDF, Stouffer, quantile normalization, CNV
# regression, set ops, dedup signatures, text analytics
# ===========================================================================


def q_range_join_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/J9 — bucketed interval-overlap count (CNV binning shape,
    reference cnv.py:281-320) via operators.range_join."""
    from pylluminator_spark.operators.range_join import range_join as rj

    li = _t(spark, sf_dir, "lineitem")
    probes = li.select(
        (F.col("l_suppkey") % 4).cast("string").alias("chromosome"),
        ((F.col("l_partkey") * 37) % 1000000).alias("start"),
    ).withColumn("end", F.col("start") + 99)
    bins = (
        probes.select(
            "chromosome",
            (F.floor(F.col("start") / 50000) * 50000).alias("bin_start"),
        )
        .distinct()
        .withColumn("bin_end", F.col("bin_start") + 49999)
    )
    # probes on the left (fact side), 80-row bins broadcast on the right:
    # the exploded fact side must never be the build/broadcast side.
    joined = rj(
        probes,
        bins.select(
            "chromosome",
            F.col("bin_start").alias("start"),
            F.col("bin_end").alias("end"),
        ),
        bucket=50000,
        broadcast_right=True,
    )
    return (
        joined.groupBy("chromosome", F.col("r_start").alias("bin_start"))
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )


ORACLE_RANGE_JOIN_COUNT = """
WITH probes AS (
  SELECT CAST(l_suppkey % 4 AS VARCHAR) AS chromosome,
         (l_partkey * 37) % 1000000 AS start,
         (l_partkey * 37) % 1000000 + 99 AS "end"
  FROM lineitem
), bins AS (
  SELECT DISTINCT chromosome, (start // 50000) * 50000 AS bin_start,
         (start // 50000) * 50000 + 49999 AS bin_end
  FROM probes
)
SELECT b.chromosome, b.bin_start, COUNT(*) AS n_overlaps
FROM bins b JOIN probes p
  ON p.chromosome = b.chromosome
 AND b.bin_start <= p."end" AND b.bin_end >= p.start
GROUP BY b.chromosome, b.bin_start
"""


def q_ecdf_pvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/K8 — pOOBAH-style detection p-value: 1 - ECDF(background) at each
    foreground value, via the distributed union + running-count window
    (the same algorithm as preprocessing.poobah)."""
    ev = _t(spark, sf_dir, "events")
    bg = ev.filter(F.col("event_type") == "error").select(
        F.col("value"), F.lit(1).alias("_is_bg"), F.lit(None).cast("long").alias("event_id")
    )
    fg = ev.filter(F.col("event_type") == "purchase").select(
        F.col("value"), F.lit(0).alias("_is_bg"), F.col("event_id")
    )
    from pylluminator_spark.operators.ordered import with_running_sum

    n_bg = bg.count()
    # distributed ECDF: range-partitioned running count of background rows
    # in (value asc, bg-before-fg) order once past the small-input threshold
    union = bg.unionByName(fg).withColumn("_o2", 1 - F.col("_is_bg"))
    cum = with_running_sum(
        union,
        ["value", "_o2"],
        F.col("_is_bg").cast("double"),
        "_cum_bg",
        n_rows=union.count(),
    )
    return (
        cum.filter(F.col("_is_bg") == 0)
        .select(
            "event_id",
            F.round(F.lit(1.0) - F.col("_cum_bg") / F.lit(float(n_bg)), 8).alias(
                "p_value"
            ),
        )
    )


ORACLE_ECDF_PVALUE = """
WITH bg AS (
  SELECT value, 1 AS is_bg, CAST(NULL AS BIGINT) AS event_id
  FROM events WHERE event_type = 'error'
), fg AS (
  SELECT value, 0 AS is_bg, event_id FROM events WHERE event_type = 'purchase'
), unioned AS (
  SELECT * FROM bg UNION ALL SELECT * FROM fg
), counted AS (
  SELECT event_id, is_bg,
         SUM(is_bg) OVER (ORDER BY value ASC, is_bg DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_bg
  FROM unioned
)
SELECT event_id,
       ROUND(1.0 - cum_bg / CAST((SELECT COUNT(*) FROM bg) AS DOUBLE), 8)
         AS p_value
FROM counted WHERE is_bg = 0
"""


def q_stouffer_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/K10 — Stouffer p-value combination per group, exact cross-engine:
    p-values kept in the Acklam central region (bit-exact rational math),
    z-scores summed as scaled integers (reference dm.py:27-37, 616-641)."""
    from pylluminator_spark.functions.stats import ndtri_expr, norm_sf_expr

    orders = _t(spark, sf_dir, "orders")
    pvals = orders.select(
        (F.col("o_custkey") % 200).alias("grp"),
        (
            F.lit(0.03)
            + F.lit(0.94) * (((F.col("o_orderkey") * 2654435761) % 100000) / 100000.0)
        ).alias("p"),
    )
    z_scaled = F.round(ndtri_expr(F.col("p")) * 1e9).cast("long")
    agg = pvals.groupBy("grp").agg(
        F.sum(z_scaled).alias("_zsum"),
        F.count(F.lit(1)).alias("n"),
        F.min("p").alias("_p_min"),
    )
    z_comb = (F.col("_zsum").cast("double") / 1e9) / F.sqrt(F.col("n"))
    return agg.select(
        "grp",
        "n",
        F.round(
            F.when(F.col("n") == 1, F.col("_p_min")).otherwise(
                norm_sf_expr(z_comb)
            ),
            6,
        ).alias("p_combined"),
    )


def _oracle_stouffer() -> str:
    from pylluminator_spark.functions.sqlgen import ndtri_sql, norm_sf_sql

    z = ndtri_sql("p")
    zc = "(CAST(zsum AS DOUBLE) / 1e9) / sqrt(n)"
    return f"""
WITH pvals AS (
  SELECT o_custkey % 200 AS grp,
         0.03 + 0.94 * (((o_orderkey * 2654435761) % 100000) / 100000.0) AS p
  FROM orders
), agg AS (
  SELECT grp,
         SUM(CAST(ROUND({z} * 1e9) AS BIGINT)) AS zsum,
         COUNT(*) AS n,
         MIN(p) AS p_min
  FROM pvals GROUP BY grp
)
SELECT grp, n,
       ROUND(CASE WHEN n = 1 THEN p_min ELSE {norm_sf_sql(zc)} END, 6)
         AS p_combined
FROM agg
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/K4 — rank-map a source distribution onto a target distribution
    (reference stats.py:145-167): source = l_quantity, target =
    l_extendedprice; np.interp semantics with stable tie-break.

    Equal-length source/target makes np.interp degenerate to exact rank
    alignment (pos = rank, frac = 0): the r-th smallest quantity maps to
    the r-th smallest extendedprice (the general unequal-length interp
    path is preprocessing.dye_bias_correction_nl, K5). ONE two-phase
    global rank over the side-tagged STACK of both columns — side is the
    leading order key, so src ranks are 1..n and tgt ranks n+1..2n, and
    aligning them is per-row arithmetic + a single hash aggregation —
    instead of two independent rank pipelines plus a rank-equijoin
    (three data shuffles + two sample passes; the r7 3.06 s regression,
    VERDICT r7 "what's wrong" #1)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    from pylluminator_spark.operators.ordered import with_global_rank

    # ONE aggregate pass yields the exact row count AND approximate
    # quantiles of both columns — the range-cut boundaries for the
    # stacked rank (balance-only, so approximate is fine) — replacing a
    # count job plus a bottom-k boundary-sample pass over the stacked
    # rows. The percentiles run over a DETERMINISTIC ~5% keyed-hash
    # subsample inside the same aggregate (non-sample rows go NULL,
    # which percentile_approx skips): the GK sketch update was the
    # job's dominant cost at full row volume, and boundary quality only
    # affects bucket balance
    nb = 16
    fr = [i / nb for i in range(1, nb)]
    in_sample = (
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(20)) == 0
    )
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(
            F.when(in_sample, F.col("l_quantity").cast("double")),
            fr,
            1_000,
        ).alias("qq"),
        F.percentile_approx(
            F.when(in_sample, F.col("l_extendedprice").cast("double")),
            fr,
            1_000,
        ).alias("pq"),
    ).collect()[0]
    n = s["n"]

    # order-consistent bucket expression: side picks the halves, a
    # log2(nb) CASE tree over the side's own quantile cuts picks the
    # bucket within — scalar double compares, so the plan stays small
    # (a 31-cut struct-literal tree costs Catalyst a visible analysis
    # pass per call; see ordered._bucketized bucket_expr contract)
    def val_tree(cs: list[float]) -> F.Column:
        cs = sorted(set(float(c) for c in cs))

        def tree(lo: int, hi: int, cuts: list[float]):
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi + 1) // 2
            return F.when(
                F.col("val") >= F.lit(cuts[mid - 1]), tree(mid, hi, cuts)
            ).otherwise(tree(lo, mid - 1, cuts))

        return tree(0, len(cs), cs)

    # empty-sample edge (tiny tables): no cuts -> one bucket per side
    bucket = (
        F.when(F.col("side") == 0, val_tree(list(s["qq"] or [])))
        .otherwise(F.lit(nb) + val_tree(list(s["pq"] or [])))
    )
    stacked = li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(2, 0, CAST(l_quantity AS DOUBLE),"
        " 1, CAST(l_extendedprice AS DOUBLE)) AS (side, val)",
    )
    ranked = with_global_rank(
        stacked,
        ["side", "val", "l_orderkey", "l_linenumber"],
        "_rank",
        n_rows=2 * n,
        bucket_expr=bucket,
    )
    aligned = ranked.withColumn(
        "_k",
        F.when(F.col("side") == 0, F.col("_rank")).otherwise(
            F.col("_rank") - F.lit(n)
        ),
    )
    return aligned.groupBy("_k").agg(
        F.max(F.when(F.col("side") == 0, F.col("l_orderkey"))).alias(
            "l_orderkey"
        ),
        F.max(F.when(F.col("side") == 0, F.col("l_linenumber"))).alias(
            "l_linenumber"
        ),
        F.round(
            F.max(F.when(F.col("side") == 1, F.col("val"))), 6
        ).alias("qnorm"),
    ).drop("_k")


ORACLE_QUANTILE_NORMALIZE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
), src AS (
  SELECT l_orderkey, l_linenumber,
         ROW_NUMBER() OVER (ORDER BY l_quantity, l_orderkey, l_linenumber) AS rnk
  FROM li
), tgt AS (
  SELECT ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS idx,
         l_extendedprice AS tval
  FROM li
)
SELECT s.l_orderkey, s.l_linenumber, ROUND(t.tval, 6) AS qnorm
FROM src s JOIN tgt t ON t.idx = s.rnk
"""


def q_cnv_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K13 — CNV log2 ratio vs a closed-form single-feature regression
    (reference cnv.py:115-135): y ~ intercept + slope*x from exact integer
    sums, cnv = log2(y / max(pred, 1))."""
    li = _t(spark, sf_dir, "lineitem")
    xy = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    n, sx, sy, sxx, sxy = (
        float(s["n"]), float(s["sx"]), float(s["sy"]), float(s["sxx"]), float(s["sxy"])
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    pred = F.lit(intercept) + F.lit(slope) * F.col("x")
    return xy.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log2(F.col("y") / F.greatest(pred, F.lit(1.0))), 6).alias("cnv"),
    )


ORACLE_CNV_REGRESSION = """
WITH xy AS (
  SELECT l_orderkey, l_linenumber,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(x*x) AS DOUBLE) AS sxx,
         CAST(SUM(x*y) AS DOUBLE) AS sxy
  FROM xy
), fit AS (
  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
  FROM s
)
SELECT xy.l_orderkey, xy.l_linenumber,
       ROUND(log2(xy.y / GREATEST(fit.intercept + fit.slope * xy.x, 1.0)), 6)
         AS cnv
FROM xy CROSS JOIN fit
"""


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — pivot to wide at the display edge (the reference's signal pivot
    samples.py:554, done as conditional aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_cents(F.col("l_quantity"))))
        .select(
            "l_returnflag",
            (F.coalesce(F.col("O"), F.lit(0)).cast("double") / 100).alias("qty_o"),
            (F.coalesce(F.col("F"), F.lit(0)).cast("double") / 100).alias("qty_f"),
        )
    )


ORACLE_PIVOT_WIDE = """
SELECT l_returnflag,
       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O'
                              THEN CAST(ROUND(l_quantity*100) AS BIGINT) END), 0)
            AS DOUBLE)/100 AS qty_o,
       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F'
                              THEN CAST(ROUND(l_quantity*100) AS BIGINT) END), 0)
            AS DOUBLE)/100 AS qty_f
FROM lineitem GROUP BY l_returnflag
"""


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface: CUBE over (returnflag, linestatus)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        (F.sum(_cents(F.col("l_quantity"))).cast("double") / 100).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


ORACLE_CUBE_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100 AS sum_qty,
       COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (§2.6): customers ordering in 1995 EXCEPT those in 1996,
    counted by market segment (the reference's ~isin anti idiom)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    in95 = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select("o_custkey").distinct()
    in96 = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey").distinct()
    only95 = in95.join(in96, "o_custkey", "left_anti")
    return (
        cust.join(only95, cust.c_custkey == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_UNION_EXCEPT = """
WITH only95 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM only95)
GROUP BY c_mktsegment
"""


_VOCAB_CTE = r"""
tokens AS (
  SELECT doc_id, UNNEST(list_distinct(
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')))
           AS token
  FROM documents
), vocab AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY token) AS tid
  FROM (SELECT DISTINCT token FROM tokens) t
), doc_tokens AS (
  SELECT tk.doc_id, v.tid FROM tokens tk JOIN vocab v ON tk.token = v.token
)
"""

_MINHASH_PARAMS = [(7, 3), (11, 17), (13, 29), (17, 43), (19, 59), (23, 71), (29, 89), (31, 101)]
_MINHASH_P = 1000003


def _doc_tokens_df(
    spark: SparkSession, sf_dir: str, max_doc_id: int | None = None
) -> DataFrame:
    """(doc_id, tid) pairs with a deterministic relational vocabulary
    (token -> dense integer id via global ordering).

    ``max_doc_id`` restricts BOTH the docs and the vocabulary to the subset
    before the (eager) vocabulary rank — set-intersection sizes are
    invariant to the id assignment, so Jaccard-style consumers can restrict
    early without changing results (or their oracles)."""
    from pylluminator_spark.functions.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_expr(F.lower(F.col("text"))))).alias("token"),
    )
    from pylluminator_spark.operators.ordered import with_global_rank
    from pylluminator_spark.plans.checkpoint import stable_checkpoint

    # dense token ids via a *distributed* global rank (vocabulary grows with
    # the corpus; a bare row_number window would funnel it to one task).
    # stable_checkpoint, not persist: an explicit persist stays pinned in
    # the cache manager across repeated bench/emu invocations in one
    # session, while checkpointed blocks release when unreferenced
    distinct_toks = stable_checkpoint(toks.select("token").distinct())
    vocab = with_global_rank(
        distinct_toks, ["token"], "tid", n_rows=distinct_toks.count()
    ).withColumn("tid", F.col("tid").cast("int"))
    return toks.join(vocab, "token").select("doc_id", "tid")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash dedup signatures (relational formulation): 8 permutation
    hashes h_i = (a_i * tid + b_i) mod p over the token-id vocabulary.
    The engine-grade variant (operators.dedup.minhash_signature) uses
    xxhash64; this arithmetic variant is exactly replicable in ANSI SQL."""
    dt = _doc_tokens_df(spark, sf_dir)
    aggs = [
        F.min((F.lit(a) * F.col("tid") + F.lit(b)) % _MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(_MINHASH_PARAMS)
    ]
    return dt.groupBy("doc_id").agg(*aggs)


def _oracle_minhash() -> str:
    hashes = ", ".join(
        f"MIN(({a} * tid + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_PARAMS)
    )
    return f"WITH {_VOCAB_CTE} SELECT doc_id, {hashes} FROM doc_tokens GROUP BY doc_id"


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup fingerprints (relational 16-bit formulation):
    per-token hash h = (tid * 2654435761) mod 2^31; bit votes summed; the
    fingerprint sets bits with positive votes."""
    dt = _doc_tokens_df(spark, sf_dir)
    h = (F.col("tid") * F.lit(2654435761)) % F.lit(2147483647)
    votes = [
        F.sum(
            F.when(F.floor(h / F.lit(2**k)) % 2 == 1, 1).otherwise(-1)
        ).alias(f"_v{k}")
        for k in range(16)
    ]
    agg = dt.groupBy("doc_id").agg(*votes)
    fp = F.lit(0).cast("long")
    for k in range(16):
        fp = fp + F.when(F.col(f"_v{k}") > 0, F.lit(2**k)).otherwise(0)
    return agg.select("doc_id", fp.alias("simhash"))


def _oracle_simhash() -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN FLOOR(((tid * 2654435761) % 2147483647) / {2**k}) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS v{k}"
        for k in range(16)
    )
    bits = " + ".join(
        f"(CASE WHEN v{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(16)
    )
    return (
        f"WITH {_VOCAB_CTE}, votes AS "
        f"(SELECT doc_id, {votes} FROM doc_tokens GROUP BY doc_id) "
        f"SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes"
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/token Jaccard similarity on candidate pairs (dedup
    verification shape, operators.dedup.jaccard_verify semantics)."""
    dt = _doc_tokens_df(spark, sf_dir, max_doc_id=30)
    sizes = dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = dt.select(F.col("doc_id").alias("id_a"), "tid")
    b = dt.select(F.col("doc_id").alias("id_b"), "tid")
    inter = (
        a.join(b, "tid")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.05)
    )


def _oracle_ngram_jaccard() -> str:
    return f"""
WITH {_VOCAB_CTE},
small AS (SELECT * FROM doc_tokens WHERE doc_id < 30),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM small GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM small a JOIN small b ON a.tid = b.tid AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.05
"""


def q_infer_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — type I channel inference summary: per probe argmax channel
    across samples, tie -> R (reference samples.py:940-1011)."""
    signal = _signal_df(spark, sf_dir).filter(F.col("type") == "I")
    per_probe = signal.groupBy("probe_id").agg(
        F.max(F.greatest("mg", "ug")).alias("gmax"),
        F.max(F.greatest("mr", "ur")).alias("rmax"),
        F.min("channel").alias("channel"),
    )
    inferred = F.when(F.col("rmax") >= F.col("gmax"), "R").otherwise("G")
    return (
        per_probe.withColumn("inferred_channel", inferred)
        .groupBy("channel", "inferred_channel")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_INFER_CHANNEL = f"""
WITH {_SIGNAL_CTE},
per_probe AS (
  SELECT probe_id,
         MAX(GREATEST(mg, ug)) AS gmax,
         MAX(GREATEST(mr, ur)) AS rmax,
         MIN(channel) AS channel
  FROM signal WHERE type = 'I' GROUP BY probe_id
)
SELECT channel,
       CASE WHEN rmax >= gmax THEN 'R' ELSE 'G' END AS inferred_channel,
       COUNT(*) AS n
FROM per_probe GROUP BY 1, 2
"""


def q_total_ib_intensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — per-probe in-band total intensity, zero -> NULL, aggregated per
    sample (reference samples.py:1044-1072)."""
    signal = _signal_df(spark, sf_dir)
    m = F.when(F.col("type") == "II", F.col("mg")).when(
        F.col("channel") == "G", F.col("mg")
    ).otherwise(F.col("mr"))
    u = F.when(F.col("type") == "II", F.col("ur")).when(
        F.col("channel") == "G", F.col("ug")
    ).otherwise(F.col("ur"))
    tot = F.nullif(m + u, F.lit(0.0))
    return (
        signal.withColumn("_tot", tot)
        .groupBy("sample")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.count("_tot").alias("n_nonzero"),
            (F.sum(_cents(F.col("_tot"))).cast("double") / 100).alias("sum_total"),
        )
    )


ORACLE_TOTAL_IB = f"""
WITH {_SIGNAL_CTE},
tots AS (
  SELECT sample,
         NULLIF(CASE WHEN type = 'II' THEN mg
                     WHEN channel = 'G' THEN mg ELSE mr END
                + CASE WHEN type = 'II' THEN ur
                       WHEN channel = 'G' THEN ug ELSE ur END, 0.0) AS tot
  FROM signal
)
SELECT sample, COUNT(*) AS n_probes, COUNT(tot) AS n_nonzero,
       CAST(SUM(CAST(ROUND(tot*100) AS BIGINT)) AS DOUBLE)/100 AS sum_total
FROM tots GROUP BY sample
"""


def q_value_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — DMR-style change-point segmentation: per user, ordered by time,
    a new segment starts when the squared jump to the next value exceeds a
    cutoff (the reference's euclidean-distance change points dm.py:565-596)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d2 = F.pow(F.col("value") - F.lead("value").over(w), 2)
    flagged = ev.withColumn("_d2", d2).withColumn(
        "_change",
        F.when(F.col("_d2").isNull() | (F.col("_d2") > 5000.0), 1).otherwise(0),
    )
    w_cum = w.rowsBetween(Window.unboundedPreceding, -1)
    seg = flagged.withColumn(
        "segment_id", F.lit(1) + F.coalesce(F.sum("_change").over(w_cum), F.lit(0))
    )
    return seg.groupBy("user_id", "segment_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(_cents(F.col("value"))).cast("double") / 100).alias("sum_value"),
    )


ORACLE_VALUE_SEGMENTS = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN POWER(value - LEAD(value) OVER w, 2) IS NULL
               OR POWER(value - LEAD(value) OVER w, 2) > 5000.0
              THEN 1 ELSE 0 END AS change
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  SELECT user_id, value,
         1 + COALESCE(SUM(change) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS segment_id
  FROM flagged
)
SELECT user_id, CAST(segment_id AS BIGINT) AS segment_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100 AS sum_value
FROM seg GROUP BY user_id, segment_id
"""


def q_corr_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 — Pearson correlation per group from exact integer sums
    (reference visualizations.py:2198 metadata correlation)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    xy = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    agg = xy.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return agg.select("p_brand", "n", F.round(num / den, 6).alias("corr_qty_price"))


ORACLE_CORR_BY_BRAND = """
WITH xy AS (
  SELECT p_brand,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
), agg AS (
  SELECT p_brand, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
  FROM xy GROUP BY p_brand
)
SELECT p_brand, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS corr_qty_price
FROM agg
"""


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 — split + explode multi-valued attribute then aggregate
    (reference explode of ';'-separated genes/cgi dm.py:264)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.col("p_type"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_EXPLODE_TOKENS = """
SELECT token, COUNT(*) AS n
FROM (SELECT UNNEST(string_split(p_type, ' ')) AS token FROM part)
GROUP BY token
"""


def q_mask_builders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 — mask builders as predicate -> probe-set inserts (reference
    samples.py:739-831): three masks built by regex/threshold predicates,
    unioned into a masks table with cardinality counts."""
    part = _t(spark, sf_dir, "part")
    small = part.filter(F.col("p_size") < 10).select(
        F.lit("small").alias("mask_name"), F.col("p_partkey")
    )
    brand45 = part.filter(F.col("p_brand").rlike("Brand#[45]")).select(
        F.lit("brand45").alias("mask_name"), F.col("p_partkey")
    )
    promo = part.filter(F.col("p_type").startswith("PROMO")).select(
        F.lit("promo").alias("mask_name"), F.col("p_partkey")
    )
    masks = small.unionByName(brand45).unionByName(promo)
    return masks.groupBy("mask_name").agg(F.count(F.lit(1)).alias("n_probes"))


ORACLE_MASK_BUILDERS = """
WITH masks AS (
  SELECT 'small' AS mask_name, p_partkey FROM part WHERE p_size < 10
  UNION ALL
  SELECT 'brand45', p_partkey FROM part WHERE regexp_matches(p_brand, 'Brand#[45]')
  UNION ALL
  SELECT 'promo', p_partkey FROM part WHERE p_type LIKE 'PROMO%'
)
SELECT mask_name, COUNT(*) AS n_probes FROM masks GROUP BY mask_name
"""


# ===========================================================================
# Batch 3 — suffix merge, typed aggregation, interval anti-join/clustering,
# beta distribution, text quality/fingerprint, embedding near-dup, IVF ANN,
# rollup
# ===========================================================================


def q_probe_suffix_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — strip replicate suffix then average duplicates (reference
    remove_probes_suffix samples.py:666-697)."""
    li = _t(spark, sf_dir, "lineitem")
    probes = li.select(
        F.concat(
            F.lit("cg"),
            F.col("l_orderkey"),
            F.lit("_TC"),
            (F.col("l_linenumber") % 3).cast("string"),
        ).alias("probe_id"),
        F.col("l_quantity"),
    )
    merged = probes.withColumn(
        "base_id", F.regexp_replace(F.col("probe_id"), "_TC[0-9]+$", "")
    )
    return merged.groupBy("base_id").agg(
        F.count(F.lit(1)).alias("n_merged"),
        (
            F.sum(_cents(F.col("l_quantity"))).cast("double")
            / (100 * F.count(F.lit(1)))
        ).alias("avg_qty"),
    )


ORACLE_PROBE_SUFFIX_MERGE = """
WITH probes AS (
  SELECT 'cg' || l_orderkey || '_TC' || CAST(l_linenumber % 3 AS VARCHAR) AS probe_id,
         l_quantity
  FROM lineitem
)
SELECT regexp_replace(probe_id, '_TC[0-9]+$', '') AS base_id,
       COUNT(*) AS n_merged,
       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)
         / (100 * COUNT(*)) AS avg_qty
FROM probes GROUP BY 1
"""


def q_typed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J5 — type-dispatched aggregation (reference merge_series_values
    utils.py:516-564): numeric -> mean, string -> sorted ';'-join of
    distincts, bool -> any."""
    part = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        (
            F.sum(_cents(F.col("p_retailprice"))).cast("double")
            / (100 * F.count(F.lit(1)))
        ).alias("avg_price"),
        F.array_join(F.array_sort(F.collect_set("p_type")), ";").alias(
            "types"
        ),
        F.max(F.when(F.col("p_size") > 40, 1).otherwise(0)).alias("any_large"),
    )


ORACLE_TYPED_MERGE = """
SELECT p_brand,
       CAST(SUM(CAST(ROUND(p_retailprice*100) AS BIGINT)) AS DOUBLE)
         / (100 * COUNT(*)) AS avg_price,
       string_agg(DISTINCT p_type, ';' ORDER BY p_type) AS types,
       MAX(CASE WHEN p_size > 40 THEN 1 ELSE 0 END) AS any_large
FROM part GROUP BY p_brand
"""


_INTERVALS_CTE = """
probes AS (
  SELECT CAST(l_suppkey % 4 AS VARCHAR) AS chromosome,
         (l_partkey * 37) % 1000000 AS start,
         (l_partkey * 37) % 1000000 + 99 AS "end",
         l_partkey
  FROM lineitem
)
"""


def _probes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_suppkey") % 4).cast("string").alias("chromosome"),
        ((F.col("l_partkey") * 37) % 1000000).alias("start"),
        (((F.col("l_partkey") * 37) % 1000000) + 99).alias("end"),
        F.col("l_partkey"),
    )


def q_interval_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — interval anti-join (reference tiles-minus-gaps cnv.py:169):
    5 kb bins tiling the FULL chromosome span with NO overlap from the
    sparse probe subset, counted per chromosome, via the bucketed
    range_join left_anti path.

    The bins tile [0, 1M) — the reference's actual shape (tile the
    whole sequence, subtract covered regions) — NOT just buckets that
    contain a probe: probe starts are (l_partkey * 37) % 1e6, bounded
    by 37 * max(l_partkey), so the span's tail bins are genuinely empty
    at every test SF and the gate exercises nonzero anti-join output
    (VERDICT r7 "what's wrong" #2: the probe-derived-bins variant
    hash-matched on 0 rows every round)."""
    from pylluminator_spark.operators.range_join import range_join as rj

    probes = _probes_df(spark, sf_dir)
    sparse = probes.filter(F.col("l_partkey") % 17 == 0).select(
        "chromosome", "start", "end"
    )
    bins = (
        probes.select("chromosome")
        .distinct()
        .select(
            "chromosome",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(995000).cast("long"),
                    F.lit(5000).cast("long"),
                )
            ).alias("start"),
        )
        .withColumn("end", F.col("start") + 4999)
    )
    empty = rj(bins, sparse, bucket=5000, how="left_anti")
    return empty.groupBy("chromosome").agg(F.count(F.lit(1)).alias("n_empty_bins"))


ORACLE_INTERVAL_ANTI_JOIN = f"""
WITH {_INTERVALS_CTE},
sparse AS (SELECT chromosome, start, "end" FROM probes WHERE l_partkey % 17 = 0),
bins AS (
  SELECT c.chromosome, CAST(x.s AS BIGINT) AS start,
         CAST(x.s AS BIGINT) + 4999 AS "end"
  FROM (SELECT DISTINCT chromosome FROM probes) c,
       LATERAL (SELECT UNNEST(range(0, 1000000, 5000)) AS s) x
)
SELECT b.chromosome, COUNT(*) AS n_empty_bins
FROM bins b
WHERE NOT EXISTS (
  SELECT 1 FROM sparse s
  WHERE s.chromosome = b.chromosome AND b.start <= s."end" AND b."end" >= s.start
)
GROUP BY b.chromosome
"""


def q_interval_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — interval clustering (reference cluster_overlaps cnv.py:302):
    gaps-and-islands with a running max of interval ends; slack=1."""
    iv = _probes_df(spark, sf_dir).select("chromosome", "start", "end").distinct()
    w_prev = (
        Window.partitionBy("chromosome")
        .orderBy("start", "end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("chromosome").orderBy("start", "end").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = iv.withColumn("_prev_max_end", F.max("end").over(w_prev)).withColumn(
        "_new",
        F.when(
            F.col("_prev_max_end").isNull()
            | (F.col("start") > F.col("_prev_max_end") + 1),
            1,
        ).otherwise(0),
    )
    clustered = flagged.withColumn("cluster_id", F.sum("_new").over(w_run))
    return clustered.groupBy("chromosome", "cluster_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.min("start").alias("cluster_start"),
        F.max("end").alias("cluster_end"),
    )


ORACLE_INTERVAL_CLUSTER = f"""
WITH {_INTERVALS_CTE},
iv AS (SELECT DISTINCT chromosome, start, "end" FROM probes),
flagged AS (
  SELECT chromosome, start, "end",
         CASE WHEN MAX("end") OVER (PARTITION BY chromosome ORDER BY start, "end"
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
               OR start > MAX("end") OVER (PARTITION BY chromosome ORDER BY start, "end"
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS new_flag
  FROM iv
), clustered AS (
  SELECT chromosome, start, "end",
         SUM(new_flag) OVER (PARTITION BY chromosome ORDER BY start, "end"
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cluster_id
  FROM flagged
)
SELECT chromosome, CAST(cluster_id AS BIGINT) AS cluster_id,
       COUNT(*) AS n_intervals,
       MIN(start) AS cluster_start, MAX("end") AS cluster_end
FROM clustered GROUP BY chromosome, cluster_id
"""


def q_beta_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — beta-value distribution fractions per sample (reference
    visualizations.py:1906-1922): % hypo (<0.3), % hyper (>0.7), % mid."""
    signal = _signal_df(spark, sf_dir)
    m = F.when(F.col("type") == "II", F.col("mg")).when(
        F.col("channel") == "G", F.col("mg")
    ).otherwise(F.col("mr"))
    u = F.when(F.col("type") == "II", F.col("ur")).when(
        F.col("channel") == "G", F.col("ug")
    ).otherwise(F.col("ur"))
    beta = F.greatest(m, F.lit(1.0)) / F.greatest(m + u, F.lit(2.0))
    return (
        signal.withColumn("_b", beta)
        .groupBy("sample")
        .agg(
            F.round(F.avg(F.when(F.col("_b") < 0.3, 1.0).otherwise(0.0)) * 100, 6
                    ).alias("pct_hypo"),
            F.round(F.avg(F.when(F.col("_b") > 0.7, 1.0).otherwise(0.0)) * 100, 6
                    ).alias("pct_hyper"),
            F.round(
                F.avg(
                    F.when((F.col("_b") >= 0.3) & (F.col("_b") <= 0.7), 1.0
                           ).otherwise(0.0)
                ) * 100,
                6,
            ).alias("pct_mid"),
        )
    )


ORACLE_BETA_DISTRIBUTION = f"""
WITH {_SIGNAL_CTE},
betas AS (
  SELECT sample,
         GREATEST(CASE WHEN type = 'II' THEN mg
                       WHEN channel = 'G' THEN mg ELSE mr END, 1.0)
         / GREATEST(CASE WHEN type = 'II' THEN mg
                         WHEN channel = 'G' THEN mg ELSE mr END
                    + CASE WHEN type = 'II' THEN ur
                           WHEN channel = 'G' THEN ug ELSE ur END, 2.0) AS b
  FROM signal
)
SELECT sample,
       ROUND(AVG(CASE WHEN b < 0.3 THEN 1.0 ELSE 0.0 END) * 100, 6) AS pct_hypo,
       ROUND(AVG(CASE WHEN b > 0.7 THEN 1.0 ELSE 0.0 END) * 100, 6) AS pct_hyper,
       ROUND(AVG(CASE WHEN b >= 0.3 AND b <= 0.7 THEN 1.0 ELSE 0.0 END) * 100, 6)
         AS pct_mid
FROM betas GROUP BY sample
"""


_SW_EN = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on",
          "a", "an", "it", "as", "at", "by", "be"]


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring (beyond-reference): composite of length,
    punctuation density, and stopword fluency — functions.text
    quality_score_expr, replicated operation-for-operation in the oracle."""
    from pylluminator_spark.functions.text import quality_score_expr

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score_expr(F.col("text")), 6).alias("quality")
    )


_SW_LIST_SQL = ", ".join(f"'{w}'" for w in _SW_EN)

ORACLE_QUALITY_SCORES = f"""
WITH scored AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
           AS n_tok,
         len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
           * 1.0 / GREATEST(len(text), 1) AS punct_ratio,
         len(list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x != '' AND list_contains([{_SW_LIST_SQL}], lower(x))))
           AS sw_hits
  FROM documents
)
SELECT doc_id,
       ROUND((LEAST(n_tok / 50.0, 1.0)
              + (1.0 - LEAST(punct_ratio * 4, 1.0))
              + LEAST((sw_hits * 1.0 / GREATEST(n_tok, 1)) * 5, 1.0)) / 3.0, 6)
         AS quality
FROM scored
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (beyond-reference): position-weighted rolling
    hash over the character stream — pure integer arithmetic, replicable
    across engines (the engine-grade variant is functions.text
    fingerprint_expr via xxhash64).

    Shape (r9): split the text into its char array ONCE, then one
    map-side transform+aggregate fold — O(L) per document and zero row
    blowup. The previous explode-per-position form paid twice: each of
    the L exploded rows carried a COPY of the full text, and
    ``substring(text, i, 1)`` is an O(i) UTF-8 char seek, making the
    per-document cost O(L^2) — ruinous for 100 KB web documents at
    scale (measured 2.0 s at sf0.1; this form 0.2 s)."""
    docs = _t(spark, sf_dir, "documents")
    terms = F.transform(
        F.split(F.col("text"), ""),
        lambda ch, i: (
            F.ascii(ch).cast("long")
            * (((i + 1) * F.lit(2654435761)) % 1000003)
        )
        % 1000003,
    )
    fp = F.aggregate(
        terms, F.lit(0).cast("long"), lambda acc, x: acc + x
    ) % 1000003
    # zero-char documents have no character group in the oracle's
    # GROUP BY — mirror that by filtering, not NULL-ing
    return docs.filter(F.length("text") >= 1).select(
        "doc_id", fp.alias("fingerprint")
    )


ORACLE_DOC_FINGERPRINT = """
WITH chars AS (
  SELECT doc_id, unnest(generate_series(1, len(text))) AS i, text
  FROM documents
)
SELECT doc_id,
       CAST(SUM((CAST(ascii(substr(text, i, 1)) AS BIGINT)
            * ((i * 2654435761) % 1000003)) % 1000003) % 1000003 AS BIGINT)
         AS fingerprint
FROM chars GROUP BY doc_id
"""


_COSINE_SQL = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (beyond-reference dedup): all
    pairs with cosine >= 0.35, computed with the block-matrix cosine join
    (numpy matmul per block pair — see operators.similarity
    block_cosine_pairs; the sub-quadratic scale path is
    embedding_near_dups' LSH bucketing)."""
    from pylluminator_spark.operators.similarity import block_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return block_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.35, block_size=1024
    )


ORACLE_EMBEDDING_NEAR_DUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_COSINE_SQL.format(a="a.embedding", b="b.embedding")}, 6)
         AS similarity
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND({_COSINE_SQL.format(a="a.embedding", b="b.embedding")}, 6) >= 0.35
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (beyond-reference similarity search): vectors are
    assigned to the nearest of 8 fixed centroids (coarse quantizer); queries
    search ONLY their own cell — the inverted-file scale path where each
    probe touches 1/n_cells of the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_cv")
    )
    sim_c = F.round(
        cosine_expr(
            F.col("embedding").cast("array<double>"),
            F.col("_cv").cast("array<double>"),
        ),
        6,
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("_csim"), F.asc("centroid_id")
    )
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("_csim", sim_c)
        .withColumn("_rn", F.row_number().over(w_assign))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "embedding", "centroid_id")
    )
    queries = assigned.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 13)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("centroid_id").alias("_qc"),
    )
    cands = assigned.select(
        F.col("vec_id"),
        F.col("embedding").alias("_tv"),
        F.col("centroid_id").alias("_tc"),
    )
    sim_q = F.round(
        cosine_expr(
            F.col("_qv").cast("array<double>"), F.col("_tv").cast("array<double>")
        ),
        6,
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("similarity"), F.asc("vec_id")
    )
    return (
        F.broadcast(queries)
        .join(cands, F.col("_qc") == F.col("_tc"))
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("similarity", sim_q)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("query_id", "vec_id", "similarity", "rank")
    )


ORACLE_ANN_IVF = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8
), assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND({_COSINE_SQL.format(a="e.embedding", b="c.cv")}, 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) t WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, centroid_id AS qc
  FROM assigned WHERE vec_id >= 8 AND vec_id < 13
), scored AS (
  SELECT q.query_id, a.vec_id,
         ROUND({_COSINE_SQL.format(a="q.qv", b="a.embedding")}, 6) AS similarity
  FROM q JOIN assigned a ON q.qc = a.centroid_id
  WHERE q.query_id != a.vec_id
)
SELECT query_id, vec_id, similarity, rank FROM (
  SELECT query_id, vec_id, similarity,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY similarity DESC, vec_id ASC) AS rank
  FROM scored
) t WHERE rank <= 3
"""


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface: ROLLUP over (returnflag, linestatus)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.sum(_cents(F.col("l_extendedprice"))).cast("double") / 100).alias(
            "sum_price"
        ),
        F.count(F.lit(1)).alias("n"),
    )


ORACLE_ROLLUP_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100
         AS sum_price,
       COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_top_intensity_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 composition — per-sample median of the top-20 meth intensities
    (reference samples.py:1375-1376 ``nlargest(20).median()``): per-group
    top-k via partitioned row_number (never a global sort), then an exact
    percentile over the 20 survivors."""
    sig = _signal_df(spark, sf_dir)
    w = Window.partitionBy("sample").orderBy(
        F.col("mg").desc(), F.col("probe_id").asc()
    )
    top = (
        sig.filter(F.col("mg").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 20)
    )
    return top.groupBy("sample").agg(
        F.round(F.expr("percentile(mg, 0.5)"), 6).alias("top20_median")
    )


ORACLE_TOP_INTENSITY_MEDIAN = f"""
WITH {_SIGNAL_CTE},
ranked AS (
  SELECT sample, mg,
         ROW_NUMBER() OVER (PARTITION BY sample
                            ORDER BY mg DESC, probe_id ASC) AS rn
  FROM signal WHERE mg IS NOT NULL
)
SELECT sample, ROUND(MEDIAN(mg), 6) AS top20_median
FROM ranked WHERE rn <= 20 GROUP BY sample
"""


def q_top_dm_genes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/W4/A4 — dm.get_top_dm end-to-end on synthetic DMP stats: top-25
    probes by adjusted p (deterministic tie-break), gene annotation
    broadcast-joined, distinct genes ';'-merged per probe (reference
    dm.py:156-270)."""
    from pylluminator_spark.dm import get_top_dm

    orders = _t(spark, sf_dir, "orders")
    dmp = orders.select(
        F.col("o_orderkey").cast("string").alias("probe_id"),
        (((F.col("o_orderkey") * 7919) % 9973) / 9973.0).alias(
            "c_p_value_adjusted"
        ),
        ((((F.col("o_orderkey") * 31) % 200) / 100.0) - 1.0).alias("effect_size"),
    )
    li = _t(spark, sf_dir, "lineitem")
    ann = li.select(
        F.col("l_orderkey").cast("string").alias("probe_id"),
        F.concat(F.lit("G"), (F.col("l_partkey") % 50).cast("string")).alias(
            "genes"
        ),
    )
    top = get_top_dm(dmp, "c", ann, n_dms=25, pval_threshold=0.05)
    return top.select(
        "probe_id",
        F.round(F.col("c_p_value_adjusted"), 8).alias("p_adj"),
        F.round("effect_size", 6).alias("effect_size"),
        "genes",
    )


ORACLE_TOP_DM_GENES = """
WITH dmp AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS probe_id,
         ((o_orderkey * 7919) % 9973) / 9973.0 AS p_adj,
         (((o_orderkey * 31) % 200) / 100.0) - 1.0 AS effect_size
  FROM orders
), top AS (
  SELECT * FROM dmp WHERE p_adj < 0.05
  ORDER BY p_adj ASC, probe_id ASC LIMIT 25
), ann AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS probe_id,
         'G' || CAST(l_partkey % 50 AS VARCHAR) AS genes
  FROM lineitem
)
SELECT t.probe_id, ROUND(t.p_adj, 8) AS p_adj,
       ROUND(t.effect_size, 6) AS effect_size,
       COALESCE(string_agg(DISTINCT a.genes, ';' ORDER BY a.genes), '')
         AS genes
FROM top t LEFT JOIN ann a ON a.probe_id = t.probe_id
GROUP BY t.probe_id, t.p_adj, t.effect_size
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference as-of join (operators.asof): each purchase event
    picks up the most recent error value at-or-before it for the same user
    — one shuffle on the key, windowed carry, no nested-loop."""
    from pylluminator_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    out = asof_join(purchases, errors, on="user_id")
    return out.select(
        "event_id", F.round("err_value_asof", 6).alias("asof_value")
    )


ORACLE_ASOF_JOIN = """
WITH l AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, ts, MAX(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
), u AS (
  SELECT user_id, ts, 0 AS is_r, event_id, CAST(NULL AS DOUBLE) AS rv FROM l
  UNION ALL
  SELECT user_id, ts, 1 AS is_r, NULL AS event_id, err_value AS rv FROM r
), c AS (
  SELECT event_id, is_r,
         LAST_VALUE(CASE WHEN is_r = 1 THEN rv END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, is_r DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av
  FROM u
)
SELECT event_id, ROUND(av, 6) AS asof_value FROM c WHERE is_r = 0
"""


def q_outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving zero-groups + two-level aggregate (TPC-H
    Q13 shape): orders-per-customer histogram. Customers without orders must
    appear with c_count = 0 — the left join keeps them, count(o_orderkey)
    ignores the null."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.select("c_custkey")
        .join(
            orders.select(F.col("o_custkey").alias("c_custkey"), "o_orderkey"),
            "c_custkey",
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_custs")
    )


ORACLE_OUTER_JOIN_COUNTS = """
SELECT c_count, COUNT(*) AS n_custs FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) t GROUP BY c_count
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery decorrelation (TPC-H Q17 shape): lineitems
    below half their part's average quantity, aggregated per brand. Spark
    expresses the subquery as a groupBy + equi-join — Catalyst's own
    decorrelation produces the same plan for the SQL form. l_quantity is
    whole-numbered, so AVG is exact in both engines and the comparison is
    order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    avg_q = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("_aq"))
    return (
        li.join(avg_q, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("_aq"))
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(_cents(F.col("l_extendedprice"))) / 100.0, 2).alias(
                "sum_price"
            ),
        )
    )


ORACLE_SCALAR_SUBQUERY = """
SELECT p_brand, COUNT(*) AS n_items,
       ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
         AS sum_price
FROM lineitem l1
JOIN part ON l1.l_partkey = p_partkey
WHERE l1.l_quantity < 0.5 * (
  SELECT AVG(l2.l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = l1.l_partkey
)
GROUP BY p_brand
"""


def q_moving_avg_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame (RANGE BETWEEN interval PRECEDING): per event,
    count and integer-scaled sum of 'value' over the trailing hour for the
    same user. Frames are keyed on epoch microseconds so both engines bound
    them identically; partitioned by user_id — no global window."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    us = _epoch_us("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us.alias("_us"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(
            F.sum(_cents(F.col("value"))).over(w) / 100.0, 2
        ).alias("sum_1h"),
    )


ORACLE_MOVING_AVG_TIME = """
SELECT event_id,
       COUNT(*) OVER w AS n_1h,
       ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w / 100.0, 2)
         AS sum_1h
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window functions (ntile / percent_rank / cume_dist) per
    market segment over a total order — all rank-based, so cross-engine
    deterministic without float-accumulation concerns."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


ORACLE_WINDOW_RANKS = """
SELECT c_custkey, c_mktsegment,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cum_dist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal ASC, c_custkey ASC)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the cube/rollup entries): per-status,
    per-priority, and grand-total order counts in one pass."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     / CAST(100.0 AS DOUBLE), 2) AS total_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


ORACLE_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
         AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_exists_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS in one query (TPC-H Q21 shape): customers with at
    least one urgent order and no fulfilled ('F') order. Spark plans these as
    left-semi + left-anti hash joins on the same key — no subquery re-scan."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    fulfilled = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.join(urgent, "c_custkey", "left_semi")
        .join(fulfilled, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_custs"))
    )


ORACLE_EXISTS_SHAPES = """
SELECT c_mktsegment, COUNT(*) AS n_custs
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'F')
GROUP BY c_mktsegment
"""


def q_min_cost_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-matches-its-group-minimum (TPC-H Q2 shape): for each part, the
    supplier(s) whose lineitem price hits the part's minimum. The per-group
    min is a partial-aggregable groupBy re-joined on the key — two shuffles
    on l_partkey, both AQE-coalesced."""
    li = _t(spark, sf_dir, "lineitem")
    priced = li.select(
        "l_partkey", "l_suppkey", _cents(F.col("l_extendedprice")).alias("_pc")
    )
    mins = priced.groupBy("l_partkey").agg(F.min("_pc").alias("_min_pc"))
    return (
        priced.join(mins, "l_partkey")
        .filter(F.col("_pc") == F.col("_min_pc"))
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("best_suppkey"),
            F.round(F.min("_pc") / 100.0, 2).alias("min_price"),
        )
    )


ORACLE_MIN_COST_MATCH = """
WITH priced AS (
  SELECT l_partkey, l_suppkey,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem
), mins AS (
  SELECT l_partkey, MIN(pc) AS min_pc FROM priced GROUP BY l_partkey
)
SELECT p.l_partkey, MIN(p.l_suppkey) AS best_suppkey,
       ROUND(MIN(p.pc) / 100.0, 2) AS min_price
FROM priced p JOIN mins m
  ON p.l_partkey = m.l_partkey AND p.pc = m.min_pc
GROUP BY p.l_partkey
"""


def q_agg_equals_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-equals-global-max (TPC-H Q15 shape): supplier(s) with the
    maximum total revenue. The scalar max of an aggregate becomes a 1-row
    broadcast-joined comparison, not a driver collect."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .alias("_rev_c")
    )
    top = rev.agg(F.max("_rev_c").alias("_max_c"))
    return (
        rev.join(F.broadcast(top), F.col("_rev_c") == F.col("_max_c"))
        .select(
            "l_suppkey",
            F.round(F.col("_rev_c") / 100.0, 2).alias("total_revenue"),
        )
    )


ORACLE_AGG_EQUALS_MAX = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS rev_c
  FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, ROUND(rev_c / 100.0, 2) AS total_revenue
FROM rev WHERE rev_c = (SELECT MAX(rev_c) FROM rev)
"""


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators.skew.salted_agg): per
    event_type totals where one hot type dominates. Result is identical to a
    plain GROUP BY — the oracle is exactly that — while each hot key's rows
    spread over `salt` reducers in phase 1."""
    from pylluminator_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    return salted_agg(
        ev.withColumn("_vc", _cents(F.col("value"))),
        "event_type",
        [F.sum("_vc").alias("_s"), F.count(F.lit(1)).alias("_c")],
        [
            F.round(F.sum("_s") / 100.0, 2).alias("total_value"),
            F.sum("_c").alias("n_events"),
        ],
        salt=8,
    )


ORACLE_SKEW_SALTED_AGG = """
SELECT event_type,
       ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2)
         AS total_value,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by key hash
    (operators.sampling; SQL-portable multiplicative-hash variant): per
    split, document count + char sum. Same key -> same split on any engine,
    any cluster size, no shuffle for the assignment itself."""
    from pylluminator_spark.operators.sampling import arith_bucket_expr

    docs = _t(spark, sf_dir, "documents")
    b = arith_bucket_expr(F.col("doc_id"), 10)
    split = (
        F.when(b < 8, "train").when(b < 9, "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


ORACLE_HASH_SPLIT = """
SELECT CASE WHEN ((doc_id * 2654435761) % 1000003) % 10 < 8 THEN 'train'
            WHEN ((doc_id * 2654435761) % 1000003) % 10 < 9 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1
"""


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token counting (functions.text.bpe_tokens_expr,
    GPT-2-style RE2-safe pattern) vs whitespace counts, aggregated per
    source — the unit an LLM data pipeline budgets in."""
    from pylluminator_spark.functions.text import bpe_token_count_expr

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        token_count_expr(F.col("text")).alias("_ws"),
        bpe_token_count_expr(F.col("text")).alias("_bpe"),
    )
    return per_doc.groupBy("source").agg(
        F.sum("_ws").alias("ws_tokens"),
        F.sum("_bpe").alias("bpe_tokens"),
        F.round(F.sum("_bpe") / F.sum("_ws"), 6).alias("bpe_per_ws"),
    )


ORACLE_BPE_TOKEN_STATS = r"""
SELECT source,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')))
            AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text,
           '''[sdmt]|''ll|''ve|''re| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')))
            AS BIGINT) AS bpe_tokens,
       ROUND(SUM(len(regexp_extract_all(text,
           '''[sdmt]|''ll|''ve|''re| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')))
             / (SUM(len(list_filter(regexp_split_to_array(text, '\s+'),
                                    x -> x != ''))) * 1.0), 6) AS bpe_per_ws
FROM documents GROUP BY source
"""


def q_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (wide -> long, the inverse of A1's pivot): part
    measure columns stacked into (metric, value) rows, aggregated per
    metric. Spark `unpivot` == SQL UNPIVOT == pandas melt."""
    part = _t(spark, sf_dir, "part")
    long = part.unpivot(
        ["p_partkey"],
        [
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        ],
        "metric",
        "value",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_cents(F.col("value"))).alias("_sum_c"),
    ).select(
        "metric",
        "n",
        F.round(F.col("_sum_c") / 100.0, 2).alias("sum_value"),
    )


ORACLE_UNPIVOT_MELT = """
WITH long AS (
  SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
  FROM part
  UNION ALL
  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
)
SELECT metric, COUNT(*) AS n,
       ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
FROM long GROUP BY metric
"""


# ---------------------------------------------------------------------------
# Round-3 additions: real-codec multimodal gate + LSH near-dup gate
# ---------------------------------------------------------------------------


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode on a REAL public codec: deterministic RGB images
    are packed as genuine 24-bit BMP bytes in one mapInPandas pass, decoded
    back by the pure-Python BMP decoder (operators.multimodal.decode_bmp),
    and reduced to dims + a pixel checksum. Pixel value is the closed form
    (x + y + id) % 256 on all three channels, so the oracle recomputes the
    checksum in SQL — a hash match proves encode -> decode -> aggregate end
    to end with bytes that any external image tool would also accept."""
    import numpy as np
    import pandas as pd

    from pylluminator_spark.operators.multimodal import decode_images, encode_bmp

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") < 200)
    )

    def pack(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 + mid % 23, 6 + mid % 19
                yy, xx = np.mgrid[0:h, 0:w]
                v = ((xx + yy + mid) % 256).astype(np.uint8)
                rows.append(
                    (mid, "image", encode_bmp(np.stack([v, v, v], axis=2)))
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    media = ids.mapInPandas(
        pack, schema="media_id long, kind string, content binary"
    )
    return decode_images(media).select(
        "media_id",
        "width",
        "height",
        "channels",
        F.aggregate(
            "pixels", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("pix_sum"),
    )


ORACLE_MEDIA_DECODE = """
WITH ids AS (
  SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id < 200
), dims AS (
  SELECT id, 8 + id % 23 AS w, 6 + id % 19 AS h FROM ids
), px AS (
  -- w in [8, 30], h in [6, 24]: fixed series + filter (DuckDB's
  -- generate_series takes no lateral column arguments)
  SELECT d.id, d.w, d.h, ((x.x + y.y + d.id) % 256) AS v
  FROM dims d
  CROSS JOIN generate_series(0, 29) AS x(x)
  CROSS JOIN generate_series(0, 23) AS y(y)
  WHERE x.x < d.w AND y.y < d.h
)
SELECT id AS media_id,
       CAST(MAX(w) AS INTEGER) AS width,
       CAST(MAX(h) AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(SUM(v) * 3 AS BIGINT) AS pix_sum
FROM px GROUP BY id
"""


def q_media_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode on REAL baseline JPEG bytes (pure-Python codec,
    operators/jpeg.py): deterministic grayscale images of constant 8x8
    tiles with EVEN values are encoded at quality 50 (Annex K DC quantizer
    16), where the DC-only path is exactly lossless — decode returns the
    original pixels, so the oracle recomputes the checksum in closed-form
    SQL. A hash match proves the full marker/Huffman/IDCT pipeline end to
    end; lossy-path accuracy is covered by test_multimodal's roundtrip
    tolerance tests."""
    import numpy as np
    import pandas as pd

    from pylluminator_spark.operators.jpeg import encode_jpeg
    from pylluminator_spark.operators.multimodal import decode_images

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") < 150)
    )

    def pack(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                tw, th = 1 + mid % 4, 1 + mid % 3  # tiles
                ty, tx = np.mgrid[0:th, 0:tw]
                tiles = (2 * ((tx * 7 + ty * 13 + mid) % 128)).astype(np.uint8)
                img = np.kron(tiles, np.ones((8, 8), dtype=np.uint8))
                rows.append((mid, "image", encode_jpeg(img, quality=50)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    media = ids.mapInPandas(
        pack, schema="media_id long, kind string, content binary"
    )
    return decode_images(media).select(
        "media_id",
        "width",
        "height",
        "channels",
        F.aggregate(
            "pixels", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("pix_sum"),
    )


ORACLE_MEDIA_DECODE_JPEG = """
WITH ids AS (
  SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id < 150
), dims AS (
  SELECT id, 1 + id % 4 AS tw, 1 + id % 3 AS th FROM ids
), tiles AS (
  SELECT d.id, d.tw, d.th, 2 * ((tx.tx * 7 + ty.ty * 13 + d.id) % 128) AS v
  FROM dims d
  CROSS JOIN generate_series(0, 3) AS tx(tx)
  CROSS JOIN generate_series(0, 2) AS ty(ty)
  WHERE tx.tx < d.tw AND ty.ty < d.th
)
SELECT id AS media_id,
       CAST(MAX(tw) * 8 AS INTEGER) AS width,
       CAST(MAX(th) * 8 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       CAST(SUM(v) * 64 AS BIGINT) AS pix_sum
FROM tiles GROUP BY id
"""


_LSH_DIM, _LSH_BITS, _LSH_TABLES, _LSH_SEED = 64, 8, 2, 42
_LSH_THRESHOLD = 0.35


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of near-duplicate detection: LSH hyperplane bucketing
    (sub-quadratic; only same-bucket pairs are scored), vs the exact
    block-matmul gate in q_embedding_near_dup. The hyperplanes are
    seed-deterministic, so the oracle replicates the bucketing EXACTLY with
    the same plane coefficients as SQL literals — hash equality proves the
    LSH candidate generation itself, not just a recall bound."""
    from pylluminator_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pairs = embedding_near_dups(
        emb,
        threshold=_LSH_THRESHOLD,
        dim=_LSH_DIM,
        n_bits=_LSH_BITS,
        n_tables=_LSH_TABLES,
        seed=_LSH_SEED,
    )
    return pairs.select(
        "id_a", "id_b", F.round("similarity", 6).alias("similarity")
    )


def _oracle_near_dup_lsh() -> str:
    """Generate the DuckDB twin of q_embedding_near_dup_lsh: per table, the
    signature is the same bit-packed sum of hyperplane sign tests, with the
    plane coefficients inlined as literals (they are deterministic in the
    seed, operators/similarity.py:81)."""
    from pylluminator_spark.operators.similarity import _hyperplanes

    table_ctes = []
    pair_selects = []
    for t in range(_LSH_TABLES):
        planes = _hyperplanes(_LSH_DIM, _LSH_BITS, _LSH_SEED + 1000 * t)
        bits = []
        for i, plane in enumerate(planes):
            lits = ", ".join(repr(x) for x in plane)
            bits.append(
                "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
                f"[{lits}]) >= 0 THEN {1 << i} ELSE 0 END)"
            )
        sig = " + ".join(bits)
        table_ctes.append(
            f"sig{t} AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, "
            f"{sig} AS sig FROM embeddings)"
        )
        pair_selects.append(
            f"SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.emb AS ea, "
            f"b.emb AS eb FROM sig{t} a JOIN sig{t} b "
            f"ON a.sig = b.sig AND a.vec_id < b.vec_id"
        )
    cos = (
        "list_dot_product(ea, eb) / (sqrt(list_dot_product(ea, ea))"
        " * sqrt(list_dot_product(eb, eb)))"
    )
    return (
        "WITH " + ",\n".join(table_ctes) + ",\n"
        "cand AS (SELECT DISTINCT id_a, id_b, ea, eb FROM ("
        + " UNION ALL ".join(pair_selects)
        + "))\n"
        f"SELECT id_a, id_b, ROUND({cos}, 6) AS similarity\n"
        f"FROM cand WHERE {cos} >= {_LSH_THRESHOLD}"
    )


def _order_betas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long betas with REPEATED MEASURES: probe = order, sample = line
    number (1..7, naturally missing for short orders — exercises the
    per-missingness-pattern fit path). Deterministic 1-in-20 probe subset
    keeps the iterative kernels bench-bounded at any SF."""
    li = _t(spark, sf_dir, "lineitem")
    # The synthetic lineitem repeats l_linenumber within an order; collapse
    # duplicates deterministically (MAX) so the kernel input — and thus the
    # fitted values — are run-to-run stable, not pivot-order dependent.
    return (
        li.filter(F.pmod(F.xxhash64(F.col("l_orderkey").cast("string")), F.lit(40)) == 0)
        .groupBy(
            F.col("l_orderkey").cast("string").alias("probe_id"),
            F.col("l_linenumber").cast("string").alias("sample"),
        )
        .agg(
            F.max(
                F.pmod(
                    F.round(F.col("l_extendedprice") * 100).cast("long"), 1000
                )
                / 1000.0
            ).alias("beta")
        )
    )


def q_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs (operators.multimodal
    image_phash + phash_candidate_pairs — the image-modality analogue of
    the MinHash/SimHash text dedup stack): deterministic structured BMP
    fixtures from doc ids, 20 planted EXACT duplicates, 64-bit DCT
    pHashes, pigeonhole-banded hamming pairs (never all-pairs). Rows-only
    driver entry (image decode + DCT + median thresholding is not
    SQL-expressible); the correctness burden is test_phash: loop-wise
    python reference parity, robustness ordering, and banded pairs ==
    brute force with the planted duplicates found at hamming 0."""
    import numpy as np
    import pandas as _pd

    from pylluminator_spark.operators.multimodal import (
        encode_bmp,
        image_phash,
        phash_candidate_pairs,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") < 150)
    )

    def pack(batches):
        w, h = 40, 32
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                src = mid  # content id
                px = (
                    (x * ((src % 13) + 2)) ^ (y * ((src % 7) + 3))
                ) + src
                arr = np.repeat(
                    (px % 256).astype(np.uint8)[:, :, None], 3, axis=2
                )
                rows.append((mid, "image", encode_bmp(arr)))
                if mid < 20:  # planted exact duplicate under a new id
                    rows.append((1000 + mid, "image", encode_bmp(arr)))
            yield _pd.DataFrame(
                rows, columns=["media_id", "kind", "content"]
            )

    media = ids.mapInPandas(
        pack, schema="media_id long, kind string, content binary"
    )
    hashes = image_phash(media)
    pairs = phash_candidate_pairs(hashes, max_hamming=7, bands=8)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


_VND_MASKS = [0, 32, 8224, 2105376, 538976288]  # nested prefixes of
# bits {5, 13, 21, 29}: two frames whose mask indices differ by k are
# exactly hamming k apart, so max_hamming=3 admits |Δindex| <= 3 pairs


def _vnd_hash_expr(src, step: int, off: int):
    """63-bit deterministic hash assembled from 8 byte pieces of pure
    integer arithmetic (SQL-portable to DuckDB; top piece is 6 bits so
    the sum stays positive and every piece*shift fits a BIGINT under
    ANSI overflow checking)."""
    total = None
    for i in range(8):
        mod = 64 if i == 7 else 256
        piece = (src * 2654435761 + F.lit(i * step + off)) % mod
        term = piece * F.lit(1 << (8 * i))
        total = term if total is None else total + term
    return total


def _vnd_hash_sql(src: str, step: int, off: int) -> str:
    terms = []
    for i in range(8):
        mod = 64 if i == 7 else 256
        terms.append(
            f"(({src} * 2654435761 + {i * step + off}) % {mod})"
            f" * {1 << (8 * i)}"
        )
    return "(" + " + ".join(terms) + ")"


def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs from per-frame perceptual hashes
    (operators.multimodal.video_near_dup_pairs — the video analogue of
    the banded image pHash pairs): frame-hash tables synthesized with
    SQL-portable integer arithmetic (8 content groups of 4 videos whose
    frames differ by nested bit masks => planted pairs at hamming 0-3,
    plus 8 noise videos with per-frame unique hashes), pigeonhole-banded
    candidate join, per-pair matched-frame counts and containment
    fractions. The arithmetic synthesis makes the WHOLE operator
    (banding, hamming filter, multiplicity-weighted overlap aggregation)
    hash-checkable against a brute-force DuckDB twin; real DCT pHashes
    feed the same table shape via video_frame_phashes (pytest
    brute-force parity in test_phash)."""
    from pylluminator_spark.operators.multimodal import (
        video_near_dup_pairs,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("d"))
        .filter(F.col("d") < 600)
    )
    media = F.col("d") % 40
    frame = F.expr("d div 40")
    base = _vnd_hash_expr(media % 8, 40503, 12345)
    noise = _vnd_hash_expr(F.col("d"), 1013904223, 17)
    k = (frame + media) % 5
    mask = F.lit(_VND_MASKS[0])
    for idx in range(1, 5):
        mask = F.when(k == idx, F.lit(_VND_MASKS[idx])).otherwise(mask)
    phash = F.when(media >= 32, noise).otherwise(
        base.cast("long").bitwiseXOR(mask.cast("long"))
    )
    fh = docs.select(
        media.alias("media_id"),
        frame.cast("long").alias("frame_idx"),
        phash.cast("long").alias("phash"),
    )
    return video_near_dup_pairs(
        fh, max_hamming=3, bands=8, min_shared_frames=4
    )


ORACLE_VIDEO_NEAR_DUP = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS d FROM documents WHERE doc_id < 600
), fr AS (
  SELECT d, d % 40 AS media_id, d // 40 AS frame_idx FROM d
), fh AS (
  SELECT media_id, frame_idx,
         CASE WHEN media_id >= 32
              THEN {_vnd_hash_sql('d', 1013904223, 17)}
              ELSE xor(CAST({_vnd_hash_sql('(media_id % 8)', 40503, 12345)} AS BIGINT),
                       CAST(CASE (frame_idx + media_id) % 5
                            WHEN 0 THEN 0 WHEN 1 THEN 32 WHEN 2 THEN 8224
                            WHEN 3 THEN 2105376 ELSE 538976288 END AS BIGINT))
         END AS phash
  FROM fr
), tot AS (
  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n FROM fh GROUP BY media_id
), hm AS (
  SELECT a.media_id AS ia, b.media_id AS ib,
         a.frame_idx AS fa, b.frame_idx AS fb
  FROM fh a JOIN fh b
    ON a.media_id < b.media_id
   AND bit_count(xor(a.phash, b.phash)) <= 3
), ma AS (
  SELECT ia, ib, CAST(COUNT(DISTINCT fa) AS BIGINT) AS matched_a
  FROM hm GROUP BY ia, ib
), mb AS (
  SELECT ia, ib, CAST(COUNT(DISTINCT fb) AS BIGINT) AS matched_b
  FROM hm GROUP BY ia, ib
)
SELECT ma.ia AS id_a, ma.ib AS id_b, matched_a, matched_b,
       ta.n AS n_frames_a, tb.n AS n_frames_b,
       matched_a / CAST(ta.n AS DOUBLE) AS frac_a,
       matched_b / CAST(tb.n AS DOUBLE) AS frac_b
FROM ma JOIN mb ON ma.ia = mb.ia AND ma.ib = mb.ib
JOIN tot ta ON ta.media_id = ma.ia
JOIN tot tb ON tb.media_id = ma.ib
WHERE LEAST(matched_a, matched_b) >= 4
"""


def q_mixedlm_dmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 MixedLM path (reference dm.py:61-67): per-probe one-random-
    intercept REML over a paired design (sample_type fixed effect, donor
    random intercept). Iterative REML is not SQL-expressible, so this entry
    has no oracle — the driver records the rows-only check; numeric parity
    is covered by tests/test_dm.py against closed-form REML."""
    import pandas as pd

    from pylluminator_spark.dm import compute_dmp

    betas = _order_betas(spark, sf_dir)
    sheet = pd.DataFrame(
        {
            "sample": [str(i) for i in range(1, 8)],
            "sample_type": ["A", "B"] * 3 + ["A"],
            "donor": ["d0", "d0", "d1", "d1", "d2", "d2", "d3"],
        }
    )
    dmps, _ = compute_dmp(betas, sheet, "~ sample_type", group_column="donor")
    return dmps.select(
        "probe_id",
        F.round(F.col("`sample_type[T.B]_estimate`"), 6).alias("estimate"),
        F.round(F.col("`sample_type[T.B]_p_value`"), 6).alias("p_value"),
    )


def q_dr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K16 DR family smoke at driver scale: classical MDS (closed-form
    Torgerson counterpart of the reference's sklearn MDS) over the repeated-
    measures betas — distributed Gram, driver eigendecomposition. Rows-only
    gate (eigendecompositions are not SQL-expressible)."""
    from pylluminator_spark.ml import classical_mds

    betas = _order_betas(spark, sf_dir)
    scores, _ratio = classical_mds(betas, 2, n_probes=500)
    return scores.select(
        "sample",
        F.round("c1", 6).alias("c1"),
        F.round("c2", 6).alias("c2"),
    )


def _dmp_betas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-reproducible betas twin of ``_order_betas``: same repeated-
    measures shape (probe = order, sample = line number 1..7) but with a
    modulus subset (``l_orderkey % 40``) instead of xxhash64, so DuckDB can
    build the identical table."""
    li = _t(spark, sf_dir, "lineitem")
    # The synthetic lineitem repeats l_linenumber within an order, so
    # (probe, sample) needs a deterministic duplicate-collapse (MAX) to be
    # a well-formed betas table on both engines.
    return (
        li.filter(F.col("l_orderkey") % 40 == 0)
        .groupBy(
            F.col("l_orderkey").cast("string").alias("probe_id"),
            F.col("l_linenumber").cast("string").alias("sample"),
        )
        .agg(
            F.max(
                F.pmod(
                    F.round(F.col("l_extendedprice") * 100).cast("long"), 1000
                )
                / 1000.0
            ).alias("beta")
        )
    )


_DMP_BETAS_SQL = """
b AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS probe_id,
         CAST(l_linenumber AS VARCHAR) AS sample,
         MAX((CAST(ROUND(l_extendedprice * 100) AS BIGINT) % 1000) / 1000.0)
           AS beta
  FROM lineitem WHERE l_orderkey % 40 = 0
  GROUP BY 1, 2
)
"""


def q_ols_dmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9's DEFAULT OLS path (reference dm.py:40-59) with a single binary
    factor. Whatever the probe's missingness pattern, the binary-factor
    OLS closed form holds per probe over its PRESENT samples: estimate =
    mean(B) - mean(A), SE = sqrt(RSS/(n-2) * (1/nA + 1/nB)) — fully
    SQL-expressible, giving the per-probe linear-model kernel an
    oracle-bearing gate (p-values stay pytest-gated via the betainc
    parity tests). Probes with an empty group (singular design — the
    kernel's pinv fallback) or dof <= 0 are excluded on both sides."""
    import pandas as pd

    from pylluminator_spark.dm import compute_dmp

    betas = _dmp_betas(spark, sf_dir)
    st = F.when(F.col("sample").cast("int") % 2 == 1, "A").otherwise("B")
    keep = (
        betas.withColumn("_st", st)
        .groupBy("probe_id")
        .agg(
            F.count(F.when(F.col("_st") == "A", 1)).alias("_na"),
            F.count(F.when(F.col("_st") == "B", 1)).alias("_nb"),
        )
        .filter(
            (F.col("_na") >= 1)
            & (F.col("_nb") >= 1)
            & (F.col("_na") + F.col("_nb") >= 3)
        )
        .select("probe_id")
    )
    betas = betas.join(keep, "probe_id")
    sheet = pd.DataFrame(
        {
            "sample": [str(i) for i in range(1, 8)],
            "sample_type": ["A", "B"] * 3 + ["A"],
        }
    )
    dmps, _ = compute_dmp(betas, sheet, "~ sample_type")
    return dmps.select(
        "probe_id",
        F.round(F.col("`sample_type[T.B]_estimate`"), 6).alias("estimate"),
        F.round(F.col("`sample_type[T.B]_std_err`"), 6).alias("std_err"),
    )


ORACLE_OLS_DMP = f"""
WITH {_DMP_BETAS_SQL},
bb AS (
  SELECT b.*,
         CASE WHEN CAST(sample AS INT) % 2 = 1 THEN 'A' ELSE 'B' END AS st
  FROM b
),
stats AS (
  SELECT probe_id,
         AVG(CASE WHEN st = 'A' THEN beta END) AS ma,
         AVG(CASE WHEN st = 'B' THEN beta END) AS mb,
         COUNT(CASE WHEN st = 'A' THEN 1 END) AS na,
         COUNT(CASE WHEN st = 'B' THEN 1 END) AS nb
  FROM bb GROUP BY probe_id
  HAVING na >= 1 AND nb >= 1 AND na + nb >= 3
),
r AS (
  SELECT bb.probe_id,
         SUM(POWER(beta - CASE WHEN st = 'A' THEN ma ELSE mb END, 2)) AS ss
  FROM bb JOIN stats ON bb.probe_id = stats.probe_id
  GROUP BY bb.probe_id
)
SELECT s.probe_id,
       ROUND(mb - ma, 6) AS estimate,
       ROUND(SQRT(ss / (na + nb - 2) * (1.0 / na + 1.0 / nb)), 6) AS std_err
FROM stats s JOIN r ON s.probe_id = r.probe_id
"""


def q_sample_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K17 clustering input (ml.sample_distance_matrix — the linkage input
    behind the reference dendrogram, visualizations.py:670): pairwise
    euclidean sample distances over complete probes via the distributed
    Gram matrix. A plain self-join + agg in SQL, so the driver gets an
    oracle-bearing row for the K17 surface."""
    from pylluminator_spark.ml import sample_distance_matrix

    betas = _dmp_betas(spark, sf_dir)
    d = sample_distance_matrix(betas)
    return d.select("s1", "s2", F.round("dist", 6).alias("dist"))


ORACLE_SAMPLE_DISTANCES = f"""
WITH {_DMP_BETAS_SQL},
comp AS (
  SELECT probe_id FROM b GROUP BY probe_id
  HAVING COUNT(*) = (SELECT COUNT(DISTINCT sample) FROM b)
),
bb AS (SELECT b.* FROM b JOIN comp USING (probe_id))
SELECT x.sample AS s1, y.sample AS s2,
       ROUND(SQRT(SUM(POWER(x.beta - y.beta, 2))), 6) AS dist
FROM bb x JOIN bb y ON x.probe_id = y.probe_id
GROUP BY x.sample, y.sample
"""


def q_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K16's SCALE-CRITICAL stage with an oracle: the distributed centered
    Gram matrix G[i,j] = sum_p (x[p,i]-mean_p)(x[p,j]-mean_p) that every
    Gram-trick DR model (PCA/IPCA/TSVD/KPCA/MDS, ml._gram_matrix) reduces
    the probe axis with — the only part that touches fact-table-sized data
    at 100 TB (the n x n eigendecomposition is driver-side and
    SQL-inexpressible, gated rows-only via dr_scores). Pure self-join +
    aggregation, so DuckDB checks it exactly."""
    betas = _dmp_betas(spark, sf_dir)
    mean = F.avg("beta").over(Window.partitionBy("probe_id"))
    centered = betas.withColumn("c", F.col("beta") - mean)
    a = centered.select("probe_id", F.col("sample").alias("s1"), F.col("c").alias("x1"))
    b = centered.select("probe_id", F.col("sample").alias("s2"), F.col("c").alias("x2"))
    return (
        a.join(b, "probe_id")
        .groupBy("s1", "s2")
        .agg(F.round(F.sum(F.col("x1") * F.col("x2")), 6).alias("g"))
    )


ORACLE_PCA_GRAM = f"""
WITH {_DMP_BETAS_SQL},
centered AS (
  SELECT probe_id, sample,
         beta - AVG(beta) OVER (PARTITION BY probe_id) AS c
  FROM b
)
SELECT a.sample AS s1, b2.sample AS s2, ROUND(SUM(a.c * b2.c), 6) AS g
FROM centered a JOIN centered b2 ON a.probe_id = b2.probe_id
GROUP BY a.sample, b2.sample
"""


def q_beta_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KDE density data-side (reference visualizations.py:222 FFTKDE over
    betas): per-sample binned Gaussian KDE on a fixed grid, Silverman
    bandwidth — ml.beta_density_grid, all codegen (one fact-table histogram
    aggregation + a dimension-sized convolution). Fixed-grid kernel sums
    are closed-form SQL, so the viz-backing aggregate gets an oracle row.
    Density rounded to 4 dp: the float-sum over ~64 bins is the only
    cross-engine ordering exposure."""
    from pylluminator_spark.ml import beta_density_grid

    betas = _dmp_betas(spark, sf_dir)
    d = beta_density_grid(betas, grid_points=21, n_bins=64)
    return d.select(
        "sample",
        F.round("x", 6).alias("x"),
        F.round("density", 4).alias("density"),
    )


ORACLE_BETA_DENSITY = f"""
WITH {_DMP_BETAS_SQL},
f AS (SELECT * FROM b WHERE beta >= 0 AND beta <= 1),
st AS (
  SELECT sample, COUNT(beta) AS n, STDDEV_SAMP(beta) AS sd,
         quantile_cont(beta, 0.75) - quantile_cont(beta, 0.25) AS iqr
  FROM f GROUP BY sample
),
hs AS (
  SELECT sample, n,
         0.9 * (CASE WHEN iqr > 0 THEN LEAST(sd, iqr / 1.34) ELSE sd END)
             * POWER(n, -0.2) AS h
  FROM st
),
ctr AS (
  SELECT sample, (bin + 0.5) / 64.0 AS center, cnt
  FROM (
    SELECT sample, LEAST(63, CAST(FLOOR(beta * 64) AS INT)) AS bin,
           COUNT(*) AS cnt
    FROM f GROUP BY 1, 2
  )
),
gx AS (SELECT UNNEST(range(0, 21)) * CAST(0.05 AS DOUBLE) AS x)
SELECT c.sample, ROUND(x, 6) AS x,
       ROUND(SUM(cnt * EXP(-0.5 * POWER((x - center) / h, 2)))
             / (ANY_VALUE(n) * ANY_VALUE(h) * SQRT(2 * PI())), 4) AS density
FROM ctr c JOIN hs USING (sample) CROSS JOIN gx
GROUP BY c.sample, x
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING (beyond-reference): token-Jaccard pairs
    over a doc subset become duplicate groups via distributed connected
    components (min-label propagation + pointer jumping,
    operators.graph.connected_components); singleton docs keep themselves.
    The oracle computes the same components as a recursive-CTE transitive
    closure of min reachable id — exact hash equality on the grouping."""
    from pylluminator_spark.operators.graph import dedup_components
    from pylluminator_spark.functions.text import tokens_expr

    # Join on raw tokens, not vocabulary ids: set-intersection sizes are
    # invariant to the id assignment, and skipping the (eager rank) vocab
    # phase removes four jobs from this already-iterative query.
    dt = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(tokens_expr(F.lower(F.col("text"))))
            ).alias("tid"),
        )
    )
    sizes = dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = dt.select(F.col("doc_id").alias("id_a"), "tid")
    b = dt.select(F.col("doc_id").alias("id_b"), "tid")
    inter = (
        a.join(b, "tid")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.05)
        .select("id_a", "id_b")
    )
    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .filter(F.col("doc_id") < 100)
    )
    # num_partitions sizes the per-round iterative shuffles to the state
    # (100 docs here): at the session's full width every round pays ~32
    # near-empty tasks of pure scheduling floor. At real scale this knob is
    # n_nodes/5M, not a constant (see connected_components docstring).
    comp = dedup_components(pairs, docs, num_partitions=4)
    return comp.select(
        "doc_id", F.col("component").cast("long").alias("component")
    )


def _oracle_dedup_components() -> str:
    return r"""
WITH RECURSIVE
small AS (
  SELECT doc_id, UNNEST(list_distinct(
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')))
           AS tid
  FROM documents WHERE doc_id < 100
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM small GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM small a JOIN small b ON a.tid = b.tid AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.05
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
docs_sub AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents WHERE doc_id < 100
),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM docs_sub
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(lab) AS BIGINT) AS component
FROM reach GROUP BY node
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (beyond-reference training-data
    prep): 200-char chunks every 150 chars (50 overlap), one row per chunk.
    Pure sequence+substring codegen — the shape a 100 TB pretokenization
    pass uses (no Python, no shuffle; chunk count scales with doc length)."""
    # Zero-length texts emit no chunks: floor((0-1)/150) = -1 would make
    # Spark's sequence(0, -1) descend and emit two spurious rows, while
    # DuckDB's truncating `//` gives 0 — filtering len>0 makes both sides
    # agree (and matches the training-pipeline semantics: nothing to chunk).
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    step, size = 150, 200
    n = F.length("text")
    return (
        docs.withColumn(
            "chunk_idx",
            F.explode(
                F.sequence(
                    F.lit(0), F.floor((n - 1) / step).cast("int")
                )
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx").cast("long") * step).alias("chunk_start"),
            F.substring(
                F.col("text"), F.col("chunk_idx") * step + 1, size
            ).alias("chunk"),
        )
    )


# The chunk-index series bound is derived from MAX(len(text)) (DuckDB's
# generate_series cannot laterally reference len(text), and a literal cap
# would silently drop chunks of any document longer than cap*150 chars).
# len(text) > 0 mirrors the Spark-side empty-text filter; with len >= 1
# the (len-1)//150 truncating division equals floor division.
ORACLE_CHUNK_DOCUMENTS = """
WITH idx AS (
  SELECT UNNEST(range(0,
    GREATEST(CAST((SELECT MAX(len(text)) FROM documents) // 150 + 1 AS BIGINT),
             1))) AS i
)
SELECT doc_id,
       CAST(x.i AS BIGINT) AS chunk_idx,
       CAST(x.i * 150 AS BIGINT) AS chunk_start,
       substr(text, x.i * 150 + 1, 200) AS chunk
FROM documents CROSS JOIN idx AS x
WHERE len(text) > 0 AND x.i <= (len(text) - 1) // 150
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filtering (operators.corpus.gopher_signals, Rae
    et al. 2021 §A1.1): per-doc signals from ONE token explode + doc-keyed
    hash aggregate (map-side partial combine), plus the keep/drop decision.
    The oracle replicates every signal with DuckDB list ops."""
    from pylluminator_spark.operators.corpus import (
        gopher_keep_expr,
        gopher_signals,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = gopher_signals(docs).withColumn(
        "keep", gopher_keep_expr(min_words=20).cast("int")
    )
    return sig.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        "stopword_hits",
        F.round("dup_word_fraction", 6).alias("dup_word_fraction"),
        F.round("top_word_fraction", 6).alias("top_word_fraction"),
        "keep",
    )


# derived from the SAME constant gopher_signals defaults to — a hand-typed
# copy would silently desynchronize the two engines on any future edit
def _gopher_sw_sql() -> str:
    from pylluminator_spark.functions.text import STOPWORDS_EN

    return ", ".join(f"'{w.lower()}'" for w in STOPWORDS_EN)


_GOPHER_SW_SQL = _gopher_sw_sql()

ORACLE_GOPHER_QUALITY = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')
           AS t
  FROM documents
), sig AS (
  SELECT doc_id,
         len(t) AS n_words,
         len(list_distinct(t)) AS n_distinct,
         list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t)
           AS mean_word_len,
         len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0
           / len(t) AS alpha_ratio,
         len(list_filter(t, x -> list_contains([{_GOPHER_SW_SQL}], x)))
           AS stopword_hits,
         1.0 - len(list_distinct(t)) * 1.0 / len(t) AS dup_word_fraction,
         list_max(list_transform(list_distinct(t),
                                 d -> len(list_filter(t, x -> x = d))))
           * 1.0 / len(t) AS top_word_fraction
  FROM toks
  -- docs with zero tokens emit no Spark-side aggregate row; the filter
  -- keeps the twin identical and guards the len(t) divisions
  WHERE len(t) > 0
)
SELECT doc_id, n_words, n_distinct,
       ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(alpha_ratio, 6) AS alpha_ratio,
       stopword_hits,
       ROUND(dup_word_fraction, 6) AS dup_word_fraction,
       ROUND(top_word_fraction, 6) AS top_word_fraction,
       CAST(n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND alpha_ratio >= 0.8 AND stopword_hits >= 2
            AND dup_word_fraction <= 0.63 AS INT) AS keep
FROM sig
"""


def q_repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals over word bigrams
    (operators.corpus.repetition_stats): total bigrams, the top bigram's
    share, and the duplicate-bigram fraction — explode + doc-keyed
    aggregation, linear at corpus scale."""
    from pylluminator_spark.operators.corpus import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    st = repetition_stats(docs, n=2)
    return st.select(
        "doc_id",
        "n_ngrams",
        F.round("top_ngram_fraction", 6).alias("top_ngram_fraction"),
        F.round("dup_ngram_fraction", 6).alias("dup_ngram_fraction"),
    )


ORACLE_REPETITION_RATIOS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')
           AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2
              THEN list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i + 1])
              ELSE [] END AS g
  FROM toks
)
SELECT doc_id,
       CAST(len(g) AS BIGINT) AS n_ngrams,
       CASE WHEN len(g) = 0 THEN 0.0
            ELSE ROUND(list_max(list_transform(list_distinct(g),
                                d -> len(list_filter(g, x -> x = d))))
                       * 1.0 / len(g), 6) END AS top_ngram_fraction,
       CASE WHEN len(g) = 0 THEN 0.0
            ELSE ROUND(1.0 - len(list_distinct(g)) * 1.0 / len(g), 6)
            END AS dup_ngram_fraction
FROM grams
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style benchmark decontamination
    (operators.corpus.ngram_overlap, Brown et al. 2020 App. C): candidate
    docs whose distinct word 4-grams overlap a benchmark set (docs with
    doc_id % 25 == 0 stand in for the benchmark; n=4 because the synthetic
    corpus is short — GPT-3 used 13-grams). The benchmark n-gram set is
    dimension-sized and broadcast; the only shuffles are the within-doc gram
    dedup and the doc-keyed count."""
    from pylluminator_spark.operators.corpus import ngram_overlap

    docs = _t(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % 25 == 0
    res = ngram_overlap(
        docs.filter(~bench_pred), docs.filter(bench_pred), n=4
    )
    return res.select(
        "doc_id",
        "n_grams",
        "n_overlapping",
        F.round("overlap_fraction", 6).alias("overlap_fraction"),
    )


ORACLE_DECONTAMINATE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')
           AS t
  FROM documents
), grams AS (
  SELECT doc_id, UNNEST(list_distinct(
           CASE WHEN len(t) >= 4
                THEN list_transform(generate_series(1, len(t) - 3),
                       i -> array_to_string(list_slice(t, i, i + 3), ' '))
                ELSE [] END)) AS gram
  FROM toks
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0
), cand AS (
  SELECT * FROM grams WHERE doc_id % 25 <> 0
), totals AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM cand GROUP BY doc_id
), hits AS (
  SELECT doc_id, COUNT(*) AS n_overlapping
  FROM cand JOIN bench USING (gram) GROUP BY doc_id
)
SELECT h.doc_id, t.n_grams, h.n_overlapping,
       ROUND(h.n_overlapping * 1.0 / t.n_grams, 6) AS overlap_fraction
FROM hits h JOIN totals t ON h.doc_id = t.doc_id
"""


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level FUZZY decontamination
    (operators.corpus.ngram_containment_pairs): for each (training doc,
    benchmark doc) pair, the fraction of the benchmark doc\'s distinct
    word 3-grams contained in the training doc — the near-match rule
    practitioners threshold after the set-level exact screen
    (q_decontaminate; n=3 and a low threshold because the synthetic
    corpus is short). Benchmark grams broadcast; shuffles are the
    within-doc dedup and the pair aggregation."""
    from pylluminator_spark.operators.corpus import (
        ngram_containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % 25 == 0
    res = ngram_containment_pairs(
        docs.filter(~bench_pred),
        docs.filter(bench_pred),
        n=3,
        min_containment=0.05,
    )
    return res.select(
        "doc_id",
        "bench_id",
        "n_shared",
        "bench_grams",
        F.round("containment", 6).alias("containment"),
    )


ORACLE_DECONTAMINATE_FUZZY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')
           AS t
  FROM documents
), grams AS (
  SELECT doc_id, UNNEST(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(list_slice(t, i, i + 2), ' '))
                ELSE [] END)) AS gram
  FROM toks
), dg AS (
  SELECT doc_id, gram FROM grams WHERE doc_id % 25 <> 0
), bg AS (
  SELECT doc_id AS bench_id, gram FROM grams WHERE doc_id % 25 = 0
), bs AS (
  SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS bench_grams
  FROM bg GROUP BY bench_id
), sh AS (
  SELECT dg.doc_id, bg.bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM dg JOIN bg USING (gram) GROUP BY dg.doc_id, bg.bench_id
)
SELECT sh.doc_id, sh.bench_id, n_shared, bench_grams,
       ROUND(n_shared / CAST(bench_grams AS DOUBLE), 6) AS containment
FROM sh JOIN bs USING (bench_id)
WHERE n_shared / CAST(bench_grams AS DOUBLE) >= 0.05
"""


_BM25_TERMS = ["hash", "spark", "window"]  # fixed alphabetical order
_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 (operators.corpus.bm25_scores dataflow): tokens
    exploded once and filtered to the query terms BEFORE aggregation, so the
    shuffled volume tracks query matches, not corpus size; corpus stats are
    a broadcast 1-row scalar. Cross-engine float determinism: avgdl is the
    exact-integer sum/count quotient, each term's contribution is computed
    from exact integers, and the per-doc score adds the per-term columns in
    one FIXED order on both engines (no accumulation-order ambiguity); the
    final order is by the ROUNDED score, doc_id tie-break."""
    docs = _t(spark, sf_dir, "documents")
    q_arr = F.array(*[F.lit(t) for t in _BM25_TERMS])
    toks = docs.select(
        "doc_id", tokens_expr(F.lower(F.col("text"))).alias("_toks")
    )
    lengths = toks.select("doc_id", F.size("_toks").alias("dl"))
    corpus = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    matches = (
        toks.select("doc_id", F.explode("_toks").alias("term"))
        .filter(F.array_contains(q_arr, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_per_term = matches.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # association order mirrors the SQL twin's left-associative
    # `ln(...) * tf * 2.2 / D` exactly — (log*tf)*k, NOT log*(tf*k)
    contrib = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        * F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    per_term = (
        matches.join(F.broadcast(df_per_term), "term")
        .join(lengths, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn("_contrib", contrib)
    )
    # exactly one row per (doc, term): the conditional sums pick single
    # exact values; the fixed-order addition below is bit-reproducible
    pivoted = per_term.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("term") == t, F.col("_contrib"))
            ).alias(f"_c_{t}")
            for t in _BM25_TERMS
        ],
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    score = None
    for t in _BM25_TERMS:
        c = F.coalesce(F.col(f"_c_{t}"), F.lit(0.0))
        score = c if score is None else score + c
    return (
        pivoted.select(
            "doc_id",
            F.round(score, 6).alias("bm25"),
            "n_terms_matched",
        )
        .orderBy(F.desc("bm25"), F.col("doc_id").asc())
        .limit(20)
    )


_BM25_CONTRIB_SQL = " + ".join(
    f"COALESCE(SUM(CASE WHEN term = '{t}' THEN "
    f"ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * {_BM25_K1 + 1} "
    f"/ (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl)) "
    f"END), 0.0)"
    for t in _BM25_TERMS
)

ORACLE_BM25_RANK = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')
           AS t
  FROM documents
), lens AS (
  SELECT doc_id, len(t) AS dl FROM toks
), corpus AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS BIGINT) * 1.0 / COUNT(*) AS avgdl
  FROM lens
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(t) AS term FROM toks)
  WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
)
SELECT tf.doc_id,
       ROUND({_BM25_CONTRIB_SQL}, 6) AS bm25,
       COUNT(*) AS n_terms_matched
FROM tf
JOIN dfq USING (term)
JOIN lens ON lens.doc_id = tf.doc_id
CROSS JOIN corpus
GROUP BY tf.doc_id
ORDER BY bm25 DESC, tf.doc_id
LIMIT 20
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling
    (operators.sampling.stratified_sample, SQL-portable arith-hash variant):
    re-balance languages by keeping a per-lang fraction of doc keys —
    map-side predicate, no shuffle for the decision; the gate aggregates the
    kept set per language with exact-integer checksums."""
    from pylluminator_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "es": 0.25, "fr": 0.1},
        "doc_id",
        default_rate=0.05,
        portable=True,
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("id_checksum"),
    )


ORACLE_STRATIFIED_SAMPLE = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
WHERE ((doc_id * 2654435761) % 1000003) % 10000 <
      CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500
                WHEN 'fr' THEN 1000 ELSE 500 END
GROUP BY lang
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sliding windows (beyond-reference §2.9): the
    REAL readStream pipeline through streaming.events.sliding_window_counts
    (1 h window, 30 min slide — every event lands in exactly 2 panes),
    drained availableNow in complete mode. Counts only: exact integers.
    The DuckDB twin materializes both panes per event via a
    generate_series cross join on tz-free epoch arithmetic."""
    from pylluminator_spark.streaming.events import (
        read_event_stream_auto,
        run_available_now,
        sliding_window_counts,
        wall_clock_window_offset,
    )

    stream = read_event_stream_auto(spark, f"{sf_dir}/events.parquet")
    agg = sliding_window_counts(
        stream,
        window_duration="1 hour",
        slide="30 minutes",
        watermark="10 minutes",
        # align the 30-min pane grid to the session wall clock (matters
        # only for :15/:45-offset zones; '0 seconds' everywhere else)
        start_time=wall_clock_window_offset(spark, 1800),
    )
    res = run_available_now(
        agg, output_mode="complete", shuffle_partitions=8
    )
    return res.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n_events",
    )


ORACLE_STREAM_SLIDING = """
WITH panes AS (
  SELECT event_type,
         TIMESTAMP '1970-01-01 00:00:00' + to_microseconds(
           ((epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) - i) * 1800000000
         ) AS pane_start
  FROM events CROSS JOIN (SELECT UNNEST(generate_series(0, 1)) AS i)
)
SELECT strftime(pane_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(pane_start + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
         AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM panes GROUP BY 1, 2, 3
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions.text.redact_pii_expr): the canonical
    pre-training privacy pass — emails/SSNs/phones/IPv4s replaced by typed
    placeholders via an RE2-compatible regexp_replace chain (whole-stage
    codegen, identical pattern strings on both engines). The corpus has no
    real PII, so each doc gets deterministic synthetic spans injected from
    doc_id; the gate hash-compares the FULL redacted strings plus per-kind
    counts."""
    from pylluminator_spark.functions.text import (
        pii_count_expr,
        redact_pii_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    injected = F.concat(
        F.lit("contact u"), d.cast("string"),
        F.lit("@ex"), (d % 7).cast("string"),
        F.lit(".com call 555-867-"),
        F.lpad(((d * 37) % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."), (d % 256).cast("string"), F.lit(".1 "),
        F.col("text"),
    )
    return docs.select(
        "doc_id",
        pii_count_expr(injected, "email").cast("long").alias("n_emails"),
        pii_count_expr(injected, "phone").cast("long").alias("n_phones"),
        pii_count_expr(injected, "ipv4").cast("long").alias("n_ips"),
        redact_pii_expr(injected).alias("redacted"),
    )


# the same RE2-safe pattern strings as functions.text.PII_PATTERNS; DuckDB
# regexp_replace needs the explicit 'g' flag (Spark replaces all by default)
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
_PII_SSN = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"

ORACLE_PII_REDACT = rf"""
WITH injected AS (
  SELECT doc_id,
         'contact u' || CAST(doc_id AS VARCHAR)
           || '@ex' || CAST(doc_id % 7 AS VARCHAR)
           || '.com call 555-867-'
           || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0')
           || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 '
           || text AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         '{_PII_EMAIL}', '<EMAIL>', 'g'),
         '{_PII_SSN}', '<SSN>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g'),
         '{_PII_IPV4}', '<IPV4>', 'g') AS redacted
FROM injected
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session windows (beyond-reference §2.9): the
    REAL readStream pipeline through streaming.events.session_window_agg
    (30-min gap-merged per-user sessions), drained availableNow in complete
    mode. The DuckDB twin is the gaps-and-islands formulation: new session
    when the gap to the previous event is >= 30 min (Spark's session window
    is [start, last_event + gap), so an event landing exactly at the merged
    window's end starts a NEW session — hence >=, not >); session_end =
    last event + gap. Counts only: exact integers."""
    from pylluminator_spark.streaming.events import (
        read_event_stream_auto,
        run_available_now,
        session_window_agg,
    )

    stream = read_event_stream_auto(spark, f"{sf_dir}/events.parquet")
    agg = session_window_agg(stream, gap="30 minutes", watermark="10 minutes")
    res = run_available_now(
        agg, output_mode="complete", shuffle_partitions=8
    )
    return res.select(
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "user_id",
        "n_events",
    )


ORACLE_STREAM_SESSION = """
WITH flagged AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS nts,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                   >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessions AS (
  SELECT user_id, nts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY nts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT strftime(MIN(nts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(nts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
         AS session_end,
       user_id,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring-dedup detection (operators.corpus.repeated_spans,
    Lee et al. 2021): strided 40-char windows, spans recurring in >= 2
    distinct docs flagged with their offsets. Gate uses the raw-span key
    (ANSI-replicable); the engine-grade path keys by xxhash64."""
    from pylluminator_spark.operators.corpus import repeated_spans

    docs = _t(spark, sf_dir, "documents")
    res = repeated_spans(
        docs, window=40, stride=20, min_docs=2, fingerprint=False
    )
    return res.withColumnRenamed("key", "span")


ORACLE_REPEATED_SPANS = """
WITH spans AS (
  SELECT doc_id, CAST(x.i * 20 AS BIGINT) AS "offset",
         substr(text, x.i * 20 + 1, 40) AS span
  FROM documents CROSS JOIN (
    SELECT UNNEST(range(0,
      GREATEST(CAST((SELECT MAX(len(text)) FROM documents) // 20 + 1
               AS BIGINT), 1))) AS i) x
  WHERE len(text) >= 40 AND x.i <= (len(text) - 40) // 20
), rep AS (
  SELECT span, COUNT(DISTINCT doc_id) AS n_docs
  FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT s.doc_id, s."offset", s.span, r.n_docs
FROM spans s JOIN rep r USING (span)
"""


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means nearest-centroid assignment over embeddings
    (operators.similarity.kmeans_assign — the clustering stage of
    SemDeDup-style semantic dedup). Centroids = the 8 vectors with
    vec_id % 64 == 0, broadcast; assignment is map-side, no shuffle.
    Cross-engine determinism: the squared distance is a fixed-order fold
    over dimensions in float64 on both engines (the oracle unrolls the
    64-term left-associative sum with per-element DOUBLE casts), so the
    argmin needs no tolerance."""
    from pylluminator_spark.operators.similarity import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter((F.col("vec_id") % 64 == 0) & (F.col("vec_id") < 1024)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    res = kmeans_assign(emb, cents)
    return res.select(
        "vec_id", "cluster", F.round("sq_dist", 6).alias("sq_dist")
    )


_KMEANS_DIST_SQL = " + ".join(
    f"(CAST(e.embedding[{i}] AS DOUBLE) - CAST(c.embedding[{i}] AS DOUBLE))"
    f" * (CAST(e.embedding[{i}] AS DOUBLE) - CAST(c.embedding[{i}] AS DOUBLE))"
    for i in range(1, 65)
)

ORACLE_KMEANS_ASSIGN = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 64 = 0 AND vec_id < 1024
), dists AS (
  SELECT e.vec_id, c.cid, {_KMEANS_DIST_SQL} AS d
  FROM embeddings e CROSS JOIN cents c
), ranked AS (
  SELECT vec_id, cid, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC)
           AS rn
  FROM dists
)
SELECT vec_id, cid AS cluster, ROUND(d, 6) AS sq_dist
FROM ranked WHERE rn = 1
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document quality scoring
    (operators.corpus.unigram_lm_scores, CCNet-shaped): per-doc average
    negative log-likelihood under an add-one unigram model fit on the
    corpus. Determinism: contributions fold in sorted term order on both
    engines (Spark aggregate over sort_array == DuckDB list_reduce over
    list(... ORDER BY term); the 0.0-init fold and the no-init reduce
    agree exactly since 0.0 + x == x)."""
    from pylluminator_spark.operators.corpus import unigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    res = unigram_lm_scores(docs)
    return res.select(
        "doc_id", "n_tokens", F.round("avg_nll", 6).alias("avg_nll")
    )


ORACLE_LM_SCORE = r"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x != '')) AS term
  FROM documents
), vocab AS (
  SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
), corpus AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS t_total, COUNT(*) AS v_size FROM vocab
), dt AS (
  SELECT doc_id, term, COUNT(*) AS dcnt FROM toks GROUP BY doc_id, term
), contrib AS (
  SELECT doc_id, term, dcnt,
         dcnt * ln((cnt + 1.0) / (t_total + (v_size + 1.0))) AS c
  FROM dt JOIN vocab USING (term) CROSS JOIN corpus
), agg AS (
  SELECT doc_id,
         CAST(SUM(dcnt) AS BIGINT) AS n_tokens,
         list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS s
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_tokens, ROUND(-s / n_tokens, 6) AS avg_nll FROM agg
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches
    (operators.corpus.pack_sequences): documents in doc_id order assigned
    to fixed 500-token-budget sequences via the size-dispatched global
    running sum (integer `div`, exact past 2^53). All-integer output."""
    from pylluminator_spark.operators.corpus import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    res = pack_sequences(docs, budget=500)
    return res.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "seq_id"
    )


ORACLE_PACK_SEQUENCES = r"""
WITH sized AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''))
           AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM sized
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((c - n_tokens) // 500 AS BIGINT) AS seq_id
FROM cum
"""


def q_semantic_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end (operators.similarity.semantic_near_dups):
    k-means cluster assignment (vec_id % 64 == 0 seeds, broadcast), then
    cosine near-dup pairs WITHIN clusters only. Every float op is a
    fixed-order float64 fold, so the threshold comparison and the rounded
    cosines match the oracle's unrolled SQL bit-for-bit."""
    from pylluminator_spark.operators.similarity import semantic_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter((F.col("vec_id") % 64 == 0) & (F.col("vec_id") < 1024)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    res = semantic_near_dups(emb, cents, threshold=0.35)
    return res.select(
        "id_a", "id_b", "cluster", F.round("cosine", 6).alias("cosine")
    )


_SND_DOT = " + ".join(
    f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
    for i in range(1, 65)
)
_SND_NA = " + ".join(
    f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(a.embedding[{i}] AS DOUBLE)"
    for i in range(1, 65)
)
_SND_NB = " + ".join(
    f"CAST(b.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
    for i in range(1, 65)
)

ORACLE_SEMANTIC_NEAR_DUP = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 64 = 0 AND vec_id < 1024
), dists AS (
  SELECT e.vec_id, c.cid, {_KMEANS_DIST_SQL} AS d
  FROM embeddings e CROSS JOIN cents c
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) rn
    FROM dists) WHERE rn = 1
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, aa.cid AS cluster,
       ROUND(({_SND_DOT}) / (sqrt({_SND_NA}) * sqrt({_SND_NB})), 6) AS cosine
FROM embeddings a
JOIN assign aa ON a.vec_id = aa.vec_id
JOIN assign bb ON aa.cid = bb.cid
JOIN embeddings b ON b.vec_id = bb.vec_id
WHERE a.vec_id < b.vec_id
  AND ({_SND_DOT}) / (sqrt({_SND_NA}) * sqrt({_SND_NB})) >= 0.35
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with watermark-bounded state
    (streaming.events.streaming_dedup, dropDuplicatesWithinWatermark):
    drained availableNow. The watermark exceeds the dataset's time span, so
    every key is emitted exactly once and the key set equals batch
    DISTINCT; which duplicate's payload survives is nondeterministic, so
    the gate projects the keys only. (Shorter watermarks re-emit keys that
    recur after eviction — that state-bounding behavior is exercised in
    test_streaming.)"""
    from pylluminator_spark.streaming.events import (
        read_event_stream_auto,
        run_available_now,
        streaming_dedup,
    )

    stream = read_event_stream_auto(spark, f"{sf_dir}/events.parquet")
    # project before dedup: the state store fingerprints and the emitted
    # rows carry 3 columns, not the full event payload
    deduped = streaming_dedup(
        stream.select("ts", "user_id", "event_type"),
        keys=("user_id", "event_type"),
        watermark="3650 days",
    )
    res = run_available_now(
        deduped, output_mode="append", shuffle_partitions=8
    )
    return res.select("user_id", "event_type")


ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join gate (beyond-reference §2.9,
    streaming.events.stream_stream_interval_join): purchases joined to the
    same user's views within the 30 minutes AFTER the purchase — two
    watermarked branches of the readStream source, state bounded by the
    watermark, drained availableNow. Inner stream-stream joins emit
    eagerly, so the drained result equals the batch interval join the
    DuckDB oracle runs. Output is exact integers only (ids + second lag)."""
    from pylluminator_spark.streaming.events import (
        read_event_stream_auto,
        run_available_now,
        stream_stream_interval_join,
    )

    stream = read_event_stream_auto(spark, f"{sf_dir}/events.parquet")
    left = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    right = stream.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("view_id"),
    )
    joined = stream_stream_interval_join(
        left,
        right,
        key="user_id",
        left_ts="ts",
        right_ts="r_ts",
        # the test datasets span days, not years: a huge watermark keeps
        # every buffered row live until the drain finishes, making the
        # availableNow result exactly the batch join (state-bounding
        # behavior with short watermarks is exercised in test_streaming)
        watermark="3650 days",
        within="30 minutes",
    )
    # shuffle_partitions=4: a stream-stream join keeps FOUR state
    # stores per partition, so its drain pays 4x the store-commit
    # overhead of the single-store agg gates (which stay at 8); the
    # gate drain is small (see run_available_now) — measured 5.5 s at
    # the session width -> 2.5 s at 8 -> 2.1 s at 4 (sf0.1 min-of-3;
    # ~37k rows/partition at that SF, ample headroom)
    res = run_available_now(
        joined, output_mode="append", shuffle_partitions=4
    )
    return res.select(
        "user_id",
        "purchase_id",
        "view_id",
        # microsecond diff then floor-div: boundary-counting vs truncation
        # semantics can't diverge at the µs resolution the data carries
        F.expr("timestampdiff(MICROSECOND, ts, r_ts) div 1000000")
        .cast("bigint")
        .alias("lag_s"),
    )


ORACLE_STREAM_JOIN = """
WITH p AS (
  SELECT user_id, ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts AS r_ts, event_id AS view_id
  FROM events WHERE event_type = 'view'
)
SELECT p.user_id, p.purchase_id, v.view_id,
       CAST(date_diff('microsecond', p.ts, v.r_ts) // 1000000 AS BIGINT)
         AS lag_s
FROM p JOIN v
  ON p.user_id = v.user_id
 AND v.r_ts >= p.ts
 AND v.r_ts <= p.ts + INTERVAL 30 MINUTE
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profiling (operators.profile.column_profile): row
    count, null count, exact cardinality, and min/max per column of the
    documents table from a single aggregation. Profiled columns are
    bigint/string only, so the string-rendered min/max format identically
    on both engines."""
    from pylluminator_spark.operators.profile import column_profile

    docs = _t(spark, sf_dir, "documents")
    return column_profile(docs)


ORACLE_TABLE_PROFILE = """
SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       COUNT(DISTINCT doc_id) AS n_distinct,
       CAST(MIN(doc_id) AS VARCHAR) AS min_value,
       CAST(MAX(doc_id) AS VARCHAR) AS max_value
FROM documents
UNION ALL
SELECT 'text', COUNT(*),
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT text), MIN(text), MAX(text)
FROM documents
UNION ALL
SELECT 'lang', COUNT(*),
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT lang), MIN(lang), MAX(lang)
FROM documents
UNION ALL
SELECT 'source', COUNT(*),
       CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT source), MIN(source), MAX(source)
FROM documents
UNION ALL
SELECT 'n_chars', COUNT(*),
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT n_chars),
       CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
FROM documents
"""


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 word bigrams (operators.corpus.top_ngrams):
    explode -> hash aggregate -> top-k, deterministic (count desc, gram
    asc) order."""
    from pylluminator_spark.operators.corpus import top_ngrams

    docs = _t(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=50)


ORACLE_TOP_NGRAMS = r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')
           AS t
  FROM documents
), grams AS (
  SELECT UNNEST(CASE WHEN len(t) >= 2
                THEN list_transform(generate_series(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i + 1])
                ELSE [] END) AS gram
  FROM toks
)
SELECT gram, COUNT(*) AS n_occurrences
FROM grams GROUP BY gram
ORDER BY n_occurrences DESC, gram ASC
LIMIT 50
"""


def q_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing toward target source weights
    (operators.corpus.source_mixing, The Pile / DoReMi shape): target
    weight for src<i> is (i+1)/210 (sums to 1 over the 20 sources), rates
    from the closed-form downsample-only feasibility scalar, kept set via
    the deterministic arith key hash. Gate aggregates the kept set per
    source with exact-integer token checksums."""
    from pylluminator_spark.operators.corpus import source_mixing

    docs = _t(spark, sf_dir, "documents")
    weight = (
        F.substring(F.col("source"), 4, 10).cast("int") + 1
    ) / F.lit(210.0)
    kept, rates = source_mixing(docs, weight)
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("_n_tokens").alias("tokens_kept"),
    )
    return rates.join(agg, "source", "left").select(
        "source",
        "tokens_total",
        F.round("rate", 6).alias("rate"),
        F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
        F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
    )


ORACLE_SOURCE_MIXING = r"""
WITH sized AS (
  SELECT doc_id, source,
         (CAST(substr(source, 4, 10) AS INT) + 1) / 210.0 AS w,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''))
           AS n_tokens
  FROM documents
), stats AS (
  SELECT source, w, CAST(SUM(n_tokens) AS BIGINT) AS T
  FROM sized GROUP BY source, w
), c AS (
  SELECT MIN(T / w) AS C FROM stats
), rates AS (
  SELECT source, T, LEAST(1.0, w * (SELECT C FROM c) / NULLIF(T, 0)) AS rate
  FROM stats
), thr AS (
  SELECT source, T, rate, FLOOR(rate * 10000) AS thr FROM rates
), kept AS (
  SELECT s.source, s.n_tokens
  FROM sized s JOIN thr ON s.source = thr.source
  WHERE ((s.doc_id * 2654435761) % 1000003) % 10000 < thr.thr
), agg AS (
  SELECT source, COUNT(*) AS n_docs_kept,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
  FROM kept GROUP BY source
)
SELECT t.source, t.T AS tokens_total, ROUND(t.rate, 6) AS rate,
       COALESCE(a.n_docs_kept, 0) AS n_docs_kept,
       COALESCE(a.tokens_kept, 0) AS tokens_kept
FROM thr t LEFT JOIN agg a ON t.source = a.source
"""


_FUNNEL_STEPS = ["signup", "view", "purchase"]


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order event funnel (operators.funnel): users completing
    signup -> view (strictly after) -> purchase (strictly after), counts
    per step plus an exact epoch-second checksum of the per-user step
    times. One shuffle + an O(n) sorted fold per user; the oracle is the
    classic chained-MIN SQL formulation."""
    from pylluminator_spark.operators.funnel import funnel_user_steps

    ev = _t(spark, sf_dir, "events")
    per_user = funnel_user_steps(ev, _FUNNEL_STEPS)
    names = [f"t_{i + 1}_{s}" for i, s in enumerate(_FUNNEL_STEPS)]
    aggs = []
    for i, n in enumerate(names):
        aggs.append(F.count(F.col(n)).alias(f"n_{i}"))
        aggs.append(
            F.sum(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                    f" CAST({n} AS TIMESTAMP_NTZ)) div 1000000"
                )
            ).alias(f"c_{i}")
        )
    row = per_user.agg(*aggs)
    parts = [
        F.struct(
            F.lit(i + 1).alias("step_idx"),
            F.lit(s).alias("step"),
            F.col(f"n_{i}").alias("n_users"),
            F.col(f"c_{i}").alias("ts_checksum"),
        )
        for i, s in enumerate(_FUNNEL_STEPS)
    ]
    return row.select(F.explode(F.array(*parts)).alias("_p")).select("_p.*")


ORACLE_EVENT_FUNNEL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'view' AND e.ts > t1.t GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY e.user_id
)
SELECT 1 AS step_idx, 'signup' AS step, COUNT(*) AS n_users,
       CAST(SUM(epoch_us(CAST(t AS TIMESTAMP)) // 1000000) AS BIGINT)
         AS ts_checksum
FROM t1
UNION ALL
SELECT 2, 'view', COUNT(*),
       CAST(SUM(epoch_us(CAST(t AS TIMESTAMP)) // 1000000) AS BIGINT)
FROM t2
UNION ALL
SELECT 3, 'purchase', COUNT(*),
       CAST(SUM(epoch_us(CAST(t AS TIMESTAMP)) // 1000000) AS BIGINT)
FROM t3
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators.funnel.cohort_retention): users
    bucketed by first-activity week, counted in each later week they
    return. Two shuffles (distinct user-weeks, cohort counts); the oracle
    is the plain first-week self-join formulation."""
    from pylluminator_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events")
    res = cohort_retention(ev, period="week", max_offset=8)
    return res.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "offset",
        "n_users",
    )


ORACLE_COHORT_RETENTION = """
WITH per AS (
  SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS p
  FROM events
), first AS (
  SELECT user_id, MIN(p) AS cohort FROM per GROUP BY user_id
)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
       CAST((epoch_us(per.p) - epoch_us(f.cohort)) // 604800000000 AS BIGINT)
         AS "offset",
       COUNT(DISTINCT per.user_id) AS n_users
FROM per JOIN first f ON per.user_id = f.user_id
WHERE (epoch_us(per.p) - epoch_us(f.cohort)) // 604800000000 <= 8
GROUP BY 1, 2
"""


def q_clean_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML stripping / boilerplate removal (functions.text.strip_html_expr):
    the web-crawl front door — script/style/comment blocks dropped, tags
    replaced by spaces, common entities decoded, whitespace collapsed. Pure
    regexp_replace/replace chain in whole-stage codegen. The corpus is plain
    text, so each doc gets a deterministic HTML wrapper injected from doc_id;
    the gate hash-compares the FULL cleaned strings."""
    from pylluminator_spark.functions.text import strip_html_expr

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    injected = F.concat(
        F.lit("<html><head><title>D"), d.cast("string"),
        F.lit("</title><style>.x{color:red}</style><script>var d="),
        d.cast("string"), F.lit(";\nalert(d)</script></head>"),
        F.lit("<body><h1 class=\"t\">Doc "), d.cast("string"),
        F.lit("</h1><!-- hidden\ncomment --><p>"), F.col("text"),
        F.lit("</p>&amp; &lt;raw&gt;&nbsp;tail</body></html>"),
    )
    return docs.select(
        "doc_id",
        strip_html_expr(injected).alias("clean"),
        F.length(strip_html_expr(injected)).cast("long").alias("n_chars_clean"),
    )


# identical RE2-safe pattern strings as functions.text (DuckDB needs the
# explicit 'g' flag; Spark replaces all by default)
_HTML_BLOCK = r"(?is)<(script|style)[^>]*>.*?</(script|style)>"
_HTML_COMMENT = r"(?s)<!--.*?-->"
_HTML_TAG = r"(?s)</?[A-Za-z!][^>]*>"

ORACLE_CLEAN_HTML = rf"""
WITH injected AS (
  SELECT doc_id,
         '<html><head><title>D' || CAST(doc_id AS VARCHAR)
           || '</title><style>.x{{color:red}}</style><script>var d='
           || CAST(doc_id AS VARCHAR) || ';' || chr(10)
           || 'alert(d)</script></head><body><h1 class="t">Doc '
           || CAST(doc_id AS VARCHAR) || '</h1><!-- hidden' || chr(10)
           || 'comment --><p>' || text
           || '</p>&amp; &lt;raw&gt;&nbsp;tail</body></html>' AS t
  FROM documents
), stripped AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(t,
               '{_HTML_BLOCK}', ' ', 'g'),
               '{_HTML_COMMENT}', ' ', 'g'),
               '{_HTML_TAG}', ' ', 'g'),
             '&nbsp;', ' '), '&quot;', '"'), '&apos;', ''''),
             '&#39;', ''''), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
           '\s+', ' ', 'g')) AS clean
  FROM injected
)
SELECT doc_id, clean, CAST(len(clean) AS BIGINT) AS n_chars_clean
FROM stripped
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + canonicalization (functions.urls): scheme/host/port/
    path extraction, naive eTLD+1 registered domain (multi-label public-
    suffix aware), and dedup-key normalization (lowercase scheme+host, strip
    fragment/tracking params/default ports/trailing slash). RE2-safe regexp
    chain, codegen end to end — the corpus has no URL column, so each doc
    gets a deterministic URL built from doc_id covering every branch
    (mixed case, multi-label suffixes, default/explicit ports, utm strips,
    fragments)."""
    from pylluminator_spark.functions.urls import (
        normalize_url_expr,
        url_domain_expr,
        url_host_expr,
        url_path_expr,
        url_port_expr,
        url_scheme_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    suffix = (
        F.when(d % 4 == 0, F.lit("com"))
        .when(d % 4 == 1, F.lit("co.uk"))
        .when(d % 4 == 2, F.lit("org"))
        .otherwise(F.lit("com.au"))
    )
    port = (
        F.when(d % 5 == 0, F.lit(":443"))
        .when(d % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    trail = F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit(""))
    frag = F.when(d % 2 == 0, F.lit("#sec")).otherwise(F.lit(""))
    url = F.concat(
        scheme, F.lit("://News.Site"), (d % 20).cast("string"), F.lit("."),
        suffix, port, F.lit("/Art/"), (d % 7).cast("string"), trail,
        F.lit("?q="), (d % 13).cast("string"),
        F.lit("&utm_source=tw&r="), (d % 11).cast("string"),
        F.lit("&gclid=g"), frag,
    )
    return docs.select(
        "doc_id",
        url_scheme_expr(url).alias("scheme"),
        url_host_expr(url).alias("host"),
        url_port_expr(url).alias("port"),
        url_path_expr(url).alias("path"),
        url_domain_expr(url).alias("domain"),
        normalize_url_expr(url).alias("norm_url"),
    )


# the same RE2-safe component patterns as functions.urls; DuckDB replacement
# backrefs are \1, Spark's are $1
_URL_SCHEME = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOST = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#@]*@)?([^/?#:]+)"
_URL_PORT = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]+:([0-9]+)"
_URL_PATH = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)"
_URL_TRACK = r"(utm_[A-Za-z]+|fbclid|gclid|msclkid|ref_src)=[^&#]*"

ORACLE_URL_NORMALIZE = rf"""
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
           || '://News.Site' || CAST(doc_id % 20 AS VARCHAR) || '.'
           || (CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
               WHEN 2 THEN 'org' ELSE 'com.au' END)
           || (CASE doc_id % 5 WHEN 0 THEN ':443' WHEN 1 THEN ':8080'
               ELSE '' END)
           || '/Art/' || CAST(doc_id % 7 AS VARCHAR)
           || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
           || '?q=' || CAST(doc_id % 13 AS VARCHAR)
           || '&utm_source=tw&r=' || CAST(doc_id % 11 AS VARCHAR)
           || '&gclid=g'
           || (CASE WHEN doc_id % 2 = 0 THEN '#sec' ELSE '' END) AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '{_URL_SCHEME}', 1)) AS scheme,
         lower(regexp_extract(url, '{_URL_HOST}', 2)) AS host,
         regexp_extract(url, '{_URL_HOST}', 2) AS host_raw,
         regexp_extract(url, '{_URL_PORT}', 1) AS port_s,
         regexp_extract(url, '{_URL_PATH}', 1) AS path_s
  FROM u
), dom AS (
  SELECT *, string_split(host, '.') AS labels FROM parts
), dom2 AS (
  SELECT *,
         array_to_string(labels[GREATEST(len(labels) - 1, 1):len(labels)],
                         '.') AS last2,
         array_to_string(labels[GREATEST(len(labels) - 2, 1):len(labels)],
                         '.') AS last3
  FROM dom
)
SELECT doc_id, scheme, host,
       CAST(NULLIF(port_s, '') AS INTEGER) AS port,
       CASE WHEN path_s = '' THEN '/' ELSE path_s END AS path,
       CASE WHEN len(labels) >= 3 AND last2 IN
                 ('co.uk', 'ac.uk', 'gov.uk', 'org.uk', 'com.au', 'net.au',
                  'org.au', 'co.jp', 'ne.jp', 'or.jp', 'com.br', 'com.cn',
                  'com.mx', 'co.in', 'co.kr', 'co.nz')
            THEN last3 ELSE last2 END AS domain,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(
           scheme || '://'
             || replace(regexp_replace(url, '{_URL_SCHEME}', ''),
                        host_raw, host),
           '#(.*)$', ''),
           '{_URL_TRACK}', '', 'g'),
         '\?&+', '?'), '&{{2,}}', '&', 'g'), '[?&]+$', ''),
         '(://[^/?#:]+):(80|443)([/?#]|$)', '\1\3'),
         '(://[^/?#]+/[^?#]*[^/?#])/+(\?|$)', '\1\2') AS norm_url
FROM dom2
"""


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup (operators.cleanup.dedup_paragraphs): the
    boilerplate-removal granularity between whole-doc exact dedup and
    substring span detection — each paragraph's globally-first occurrence
    (by doc_id, position) is kept, repeats are dropped, and documents are
    reassembled. Two high-cardinality shuffles (8-byte fingerprint, then
    doc_id); the winner table never carries text. The corpus has no
    paragraph breaks, so deterministic HEADER/FOOTER boilerplate paragraphs
    are injected per source; the gate hash-compares the FULL reassembled
    documents."""
    from pylluminator_spark.operators.cleanup import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents")
    ptext = F.concat_ws(
        "\n\n",
        F.concat(F.lit("HEADER "), F.col("source")),
        F.substring("text", 1, 60),
        F.lit("FOOTER common to all documents"),
        F.substring("text", 61, 100000),
    )
    res = dedup_paragraphs(docs.select("doc_id", ptext.alias("text")))
    return res.select(
        "doc_id", "clean_text", "n_paras_kept", "n_paras_dropped"
    )


ORACLE_DEDUP_PARAGRAPHS = r"""
WITH base AS (
  SELECT doc_id,
         'HEADER ' || source || chr(10) || chr(10)
           || substr(text, 1, 60) || chr(10) || chr(10)
           || 'FOOTER common to all documents' || chr(10) || chr(10)
           || substr(text, 61, 100000) AS t
  FROM documents
), split AS (
  SELECT doc_id, string_split_regex(t, '\n{2,}') AS lst FROM base
), paras AS (
  SELECT doc_id, i AS para_idx, trim(lst[i + 1]) AS para
  FROM split, LATERAL (SELECT UNNEST(generate_series(0, len(lst) - 1)) AS i) g
  WHERE trim(lst[i + 1]) <> ''
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY para ORDER BY doc_id, para_idx) AS rn
  FROM paras
), rebuilt AS (
  SELECT doc_id,
         COALESCE(string_agg(para, chr(10) || chr(10) ORDER BY para_idx)
                    FILTER (WHERE rn = 1), '') AS clean_text,
         COUNT(*) FILTER (WHERE rn = 1) AS n_paras_kept,
         COUNT(*) FILTER (WHERE rn > 1) AS n_paras_dropped
  FROM ranked GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_paras_kept, 0) AS BIGINT) AS n_paras_kept,
       CAST(COALESCE(r.n_paras_dropped, 0) AS BIGINT) AS n_paras_dropped
FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
"""


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap + blocklist (operators.cleanup.cap_per_domain /
    blocklist_filter): the C4/Gopher crawl-diversity controls — drop
    blocklisted domains (broadcast anti-join, corpus never shuffles for
    the policy check), keep at most 20 docs per domain (one hash-
    partitioned streaming row_number window; explicit doc_id order so the
    oracle can mirror it). Gate compares exact per-domain survivor counts
    and integer checksums."""
    from pylluminator_spark.operators.cleanup import (
        blocklist_filter,
        cap_per_domain,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    dom = F.concat(
        F.lit("d"), ((d * 7919) % 11).cast("string"), F.lit(".example."),
        F.when(d % 3 == 0, F.lit("com"))
        .when(d % 3 == 1, F.lit("org"))
        .otherwise(F.lit("net")),
    )
    corpus = docs.select("doc_id", "n_chars", dom.alias("domain"))
    kept = cap_per_domain(
        blocklist_filter(corpus, ["d3.example.com", "d5.example.org"]),
        cap=20,
        order_by=[F.col("doc_id")],
    )
    return kept.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum("n_chars").alias("sum_chars"),
    )


ORACLE_DOMAIN_CAP = """
WITH corpus AS (
  SELECT doc_id, n_chars,
         'd' || CAST((doc_id * 7919) % 11 AS VARCHAR) || '.example.'
           || (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
               ELSE 'net' END) AS domain
  FROM documents
), allowed AS (
  SELECT * FROM corpus
  WHERE domain NOT IN ('d3.example.com', 'd5.example.org')
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY domain ORDER BY doc_id) AS rn
  FROM allowed
)
SELECT domain, COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM ranked WHERE rn <= 20 GROUP BY domain
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators.sampling.weighted_sample — Efraimidis-Spirakis A-ES):
    top-15 docs per source with probability proportional to n_chars, the
    keyed-hash u making the draw reproducible across runs and engines.
    Per-stratum streaming row_number window; priority rounded to 9 dp so
    sub-ulp libm ln() differences can't flip the cross-engine ordering.
    The gate compares the exact selected rows."""
    from pylluminator_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(
        docs.select("doc_id", "source", "n_chars"),
        15,
        "n_chars",
        "doc_id",
        strata_col="source",
        portable=True,
        priority_digits=9,
    )


ORACLE_WEIGHTED_SAMPLE = """
WITH pri AS (
  SELECT doc_id, source, n_chars,
         ROUND(
           ln((((doc_id * 2654435761) % 1000003 + 1000003) % 1000003
               % 10000 + 0.5) / 10000.0)
           / CAST(n_chars AS DOUBLE), 9) AS p
  FROM documents WHERE n_chars > 0
), ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY p DESC, doc_id) AS rn
  FROM pri
)
SELECT doc_id, source, n_chars FROM ranked WHERE rn <= 15
"""


def q_logreg_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier inference (operators.classifier
    .logreg_predict_expr): sigmoid of a fixed published weight vector over
    SQL-expressible text features — chars/100, whitespace-token count,
    punctuation ratio. Pure codegen, no shuffle: the shape every CCNet/
    GPT-3-style corpus filter runs over 100 TB. Scores rounded to 6 dp
    (identical feature arithmetic both engines; only exp() can differ by
    an ulp)."""
    from pylluminator_spark.operators.classifier import logreg_predict_expr

    docs = _t(spark, sf_dir, "documents")
    x1 = F.col("n_chars").cast("double") / F.lit(100.0)
    x2 = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != "")).cast(
        "double"
    )
    x3 = (
        F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
        / F.greatest(F.length("text"), F.lit(1))
    ).cast("double")
    p = logreg_predict_expr([x1, x2, x3], [0.5, 0.05, -2.0], -3.0)
    return docs.select(
        "doc_id",
        F.round(p, 6).alias("score"),
        (p > 0.5).alias("keep"),
    )


ORACLE_LOGREG_PREDICT = r"""
WITH feats AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) / 100.0 AS x1,
         CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS x2,
         CAST(len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
           / GREATEST(len(text), 1) AS x3
  FROM documents
), scored AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-((((-3.0) + x1 * 0.5) + x2 * 0.05)
                            + x3 * (-2.0)))) AS p
  FROM feats
)
SELECT doc_id, ROUND(p, 6) AS score, p > 0.5 AS keep FROM scored
"""


def q_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-classifier TRAINING stage (operators.classifier
    .newton_step): one distributed IRLS iteration from beta=0 — the
    fact-table-scale part is the single sufficient-statistics aggregation
    (O(d^2) running sums, map-side partial); the driver solves the tiny
    system. From beta=0 the update has the closed form
    4 * (X'X)^-1 X'(y - 1/2), which the DuckDB twin evaluates by Cramer on
    the same EXACT integer/half-integer sums (x = n_chars, w = 1/4,
    z = 4y-2 — every running sum is exactly representable, so the
    aggregation is order-independent). Same suffstats-then-driver-solve
    split as ols_dmp / pca_gram."""
    from pylluminator_spark.operators.classifier import newton_step

    docs = _t(spark, sf_dir, "documents")
    fdf = docs.select(
        F.col("n_chars").cast("double").alias("x"),
        (F.col("doc_id") % 3 == 0).cast("double").alias("y"),
    )
    beta, _, n = newton_step(fdf, ["x"], "y", [0.0, 0.0], ridge=0.0)
    return spark.createDataFrame(
        [(round(beta[0], 6), round(beta[1], 6), n)],
        "b0 double, b1 double, n bigint",
    )


ORACLE_LOGREG_STEP = """
WITH s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(n_chars) AS DOUBLE) AS sx,
         CAST(SUM(n_chars * n_chars) AS DOUBLE) AS sxx,
         SUM(CASE WHEN doc_id % 3 = 0 THEN 0.5 ELSE -0.5 END) AS syp,
         SUM(n_chars * (CASE WHEN doc_id % 3 = 0 THEN 0.5 ELSE -0.5 END))
           AS sxyp
  FROM documents
)
SELECT ROUND(4.0 * (sxx * syp - sx * sxyp)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS b0,
       ROUND(4.0 * (CAST(n AS DOUBLE) * sxyp - sx * syp)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS b1,
       n
FROM s
"""


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (operators.quantize.pq_encode):
    m=2 subspaces of 32 dims, codebooks = the vec_id % 64 == 0 vectors'
    subvectors (data-derived, like the kmeans_assign gate). Encoding is
    map-side only — codebooks broadcast as literals, no shuffle at any
    corpus size. Cross-engine determinism: per-subspace distances are
    fixed-order float64 folds; the oracle unrolls the same left-
    associative 32-term sums, so the per-subspace argmin and the summed
    reconstruction error match bit-for-bit (rounded at the edge only)."""
    from pylluminator_spark.operators.quantize import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter((F.col("vec_id") % 64 == 0) & (F.col("vec_id") < 1024))
    books = None
    for s in (0, 1):
        b = cents.select(
            F.lit(s).alias("sub_id"),
            F.col("vec_id").alias("cid"),
            F.slice("embedding", s * 32 + 1, 32)
            .cast("array<double>")
            .alias("cvec"),
        )
        books = b if books is None else books.union(b)
    res = pq_encode(emb, books, method="expr")
    return res.select(
        "vec_id",
        res["codes"][0].alias("code_0"),
        res["codes"][1].alias("code_1"),
        F.round("recon_err", 6).alias("recon_err"),
    )


def _pq_dist_sql(lo: int) -> str:
    return " + ".join(
        f"(CAST(e.embedding[{i}] AS DOUBLE) - CAST(c.embedding[{i}] AS DOUBLE))"
        f" * (CAST(e.embedding[{i}] AS DOUBLE) - CAST(c.embedding[{i}] AS DOUBLE))"
        for i in range(lo, lo + 32)
    )


ORACLE_PQ_ENCODE = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 64 = 0 AND vec_id < 1024
), d0 AS (
  SELECT e.vec_id, c.cid, {_pq_dist_sql(1)} AS d
  FROM embeddings e CROSS JOIN cents c
), d1 AS (
  SELECT e.vec_id, c.cid, {_pq_dist_sql(33)} AS d
  FROM embeddings e CROSS JOIN cents c
), b0 AS (
  SELECT vec_id, cid, d FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn FROM d0
  ) WHERE rn = 1
), b1 AS (
  SELECT vec_id, cid, d FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn FROM d1
  ) WHERE rn = 1
)
SELECT b0.vec_id, b0.cid AS code_0, b1.cid AS code_1,
       ROUND(b0.d + b1.d, 6) AS recon_err
FROM b0 JOIN b1 ON b0.vec_id = b1.vec_id
"""


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE-training pair statistics (operators.bpe
    .bpe_pair_counts): the first merge step of tokenizer training as a
    pure DataFrame aggregation — word-type counts first (the Zipf trick:
    the pair explode runs over types weighted by frequency, not raw
    tokens), then adjacent character-pair weighted sums. Exact integer
    counts; the driver-side merge loop over the bounded type table is
    pytest-verified against the hand-computed Sennrich et al. example."""
    from pylluminator_spark.operators.bpe import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, min_count=5)


ORACLE_BPE_PAIRS = r"""
WITH words AS (
  SELECT word, COUNT(*) AS wcnt FROM (
    SELECT UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x != '')) AS word
    FROM documents
  ) GROUP BY word
), pairs AS (
  SELECT substr(word, i, 1) || ' ' || substr(word, i + 1, 1) AS pair, wcnt
  FROM words,
       LATERAL (SELECT UNNEST(generate_series(1, len(word) - 1)) AS i) g
  WHERE len(word) >= 2
)
SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt
FROM pairs GROUP BY pair HAVING SUM(wcnt) >= 5
"""


def q_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/SSL-prototype diversity pruning (operators.similarity
    .prototype_prune, Sorscher et al. 2022 / Tirumala et al. 2023): within
    each k-means cluster drop the most prototypical (closest-to-centroid)
    points, keep the farthest 50%. Broadcast-centroid map-side assignment
    + one streaming window per cluster. Distances are the fixed-order
    float64 fold, rounded to 6 dp BEFORE ranking so both engines order
    ties identically."""
    from pylluminator_spark.operators.similarity import prototype_prune

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter((F.col("vec_id") % 64 == 0) & (F.col("vec_id") < 1024)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    kept = prototype_prune(emb, cents, 0.5, round_digits=6)
    return kept.select(
        "vec_id", "cluster", "sq_dist",
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


ORACLE_PROTOTYPE_PRUNE = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 64 = 0 AND vec_id < 1024
), dists AS (
  SELECT e.vec_id, c.cid, {_KMEANS_DIST_SQL} AS d
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cid AS cluster, ROUND(d, 6) AS sq_dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC)
      AS rn
    FROM dists
  ) WHERE rn = 1
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY cluster ORDER BY sq_dist DESC, vec_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
  FROM assigned
)
SELECT vec_id, cluster, sq_dist, CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rk <= CEIL(cluster_size * 0.5)
"""


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k search (operators.quantize
    .pq_adc_topk): the query's m x k distance lookup table is built once
    driver-side and shipped as literals; scoring touches ONLY the 8-byte
    codes (map-side), and the top-50 is a distributed TakeOrdered. LUT
    entries use the same left-associative float64 accumulation as the
    encode fold, so the oracle's unrolled sums match bit-for-bit and the
    top-k cut needs no tolerance."""
    from pylluminator_spark.operators.quantize import pq_adc_topk, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter((F.col("vec_id") % 64 == 0) & (F.col("vec_id") < 1024))
    books = None
    for s in (0, 1):
        b = cents.select(
            F.lit(s).alias("sub_id"),
            F.col("vec_id").alias("cid"),
            F.slice("embedding", s * 32 + 1, 32)
            .cast("array<double>")
            .alias("cvec"),
        )
        books = b if books is None else books.union(b)
    query = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 1).collect()[0]["embedding"]
    ]
    codes = pq_encode(emb, books, method="expr").select("vec_id", "codes")
    top = pq_adc_topk(codes, books, query, 50)
    return top.select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


def _pq_qdist_sql(lo: int) -> str:
    return " + ".join(
        f"(CAST(q.embedding[{i}] AS DOUBLE) - CAST(c.embedding[{i}] AS DOUBLE))"
        f" * (CAST(q.embedding[{i}] AS DOUBLE) - CAST(c.embedding[{i}] AS DOUBLE))"
        for i in range(lo, lo + 32)
    )


ORACLE_PQ_ADC = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 64 = 0 AND vec_id < 1024
), q AS (
  SELECT embedding FROM embeddings WHERE vec_id = 1
), d0 AS (
  SELECT e.vec_id, c.cid, {_pq_dist_sql(1)} AS d
  FROM embeddings e CROSS JOIN cents c
), d1 AS (
  SELECT e.vec_id, c.cid, {_pq_dist_sql(33)} AS d
  FROM embeddings e CROSS JOIN cents c
), b0 AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn FROM d0
  ) WHERE rn = 1
), b1 AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn FROM d1
  ) WHERE rn = 1
), qd0 AS (
  SELECT c.cid, {_pq_qdist_sql(1)} AS d FROM q CROSS JOIN cents c
), qd1 AS (
  SELECT c.cid, {_pq_qdist_sql(33)} AS d FROM q CROSS JOIN cents c
), scored AS (
  SELECT b0.vec_id, qd0.d + qd1.d AS adc
  FROM b0
  JOIN b1 ON b0.vec_id = b1.vec_id
  JOIN qd0 ON qd0.cid = b0.cid
  JOIN qd1 ON qd1.cid = b1.cid
)
SELECT vec_id, ROUND(adc, 6) AS adc_dist
FROM scored ORDER BY adc ASC, vec_id ASC LIMIT 50
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between consecutive user events
    (operators.funnel.event_transitions): one user-keyed window (lag) + one
    hash aggregate; ties on ts rank by event_id so both engines order
    identically. Exact integer counts."""
    from pylluminator_spark.operators.funnel import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev)


ORACLE_EVENT_TRANSITIONS = """
WITH pairs AS (
  SELECT COALESCE(
           LAG(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id),
           '<start>') AS prev_type,
         event_type AS next_type
  FROM events
)
SELECT prev_type, next_type, COUNT(*) AS n_transitions
FROM pairs GROUP BY 1, 2
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the events value column
    (operators.profile.numeric_histogram): min/max scan + one bucketed
    hash aggregate (width_bucket semantics, edge bins clamp). Bin edges
    are identical IEEE arithmetic on both engines (same min/max doubles,
    same width division), so no tolerance is needed."""
    from pylluminator_spark.operators.profile import numeric_histogram

    ev = _t(spark, sf_dir, "events")
    return numeric_histogram(ev, "value", bins=20)


ORACLE_VALUE_HISTOGRAM = """
WITH rng AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
), binned AS (
  SELECT LEAST(GREATEST(
           CAST(FLOOR((value - lo) / ((hi - lo) / 20)) AS BIGINT),
           0), 19) AS bin,
         lo, hi
  FROM events, rng WHERE value IS NOT NULL
)
SELECT bin,
       lo + bin * ((hi - lo) / 20) AS lo_edge,
       lo + (bin + 1) * ((hi - lo) / 20) AS hi_edge,
       COUNT(*) AS n_rows
FROM binned GROUP BY 1, 2, 3
"""


def q_validate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality checks (operators.validate): six contract
    rules over the documents table — null/unique/range/regex/set/positive —
    ALL compiled into ONE aggregation pass (conditional counts +
    count-minus-countDistinct), the only shape that survives a 100 TB
    scan-per-stage budget. Exact integer violation counts."""
    from pylluminator_spark.operators.validate import (
        in_range,
        in_set,
        matches,
        not_null,
        positive,
        unique,
        validate,
    )

    docs = _t(spark, sf_dir, "documents")
    return validate(
        docs,
        [
            not_null("text"),
            unique("doc_id"),
            in_range("n_chars", 0, 10000),
            matches("lang", "[a-z]{2}"),
            in_set("lang", ["en", "es", "fr", "de"]),
            positive("n_chars"),
        ],
    )


ORACLE_VALIDATE_RULES = r"""
WITH s AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
    CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT) AS v1,
    CAST(SUM(CASE WHEN n_chars IS NOT NULL
              AND (n_chars < 0 OR n_chars > 10000)
              THEN 1 ELSE 0 END) AS BIGINT) AS v2,
    CAST(SUM(CASE WHEN lang IS NOT NULL
              AND NOT regexp_matches(lang, '^(?:[a-z]{2})$')
              THEN 1 ELSE 0 END) AS BIGINT) AS v3,
    CAST(SUM(CASE WHEN lang IS NOT NULL
              AND lang NOT IN ('en', 'es', 'fr', 'de')
              THEN 1 ELSE 0 END) AS BIGINT) AS v4,
    CAST(SUM(CASE WHEN n_chars IS NOT NULL AND n_chars <= 0
              THEN 1 ELSE 0 END) AS BIGINT) AS v5
  FROM documents
)
SELECT 'not_null(text)' AS rule, 'text' AS "column",
       n AS n_rows, v0 AS n_violations, v0 = 0 AS passed FROM s
UNION ALL SELECT 'unique(doc_id)', 'doc_id', n, v1, v1 = 0 FROM s
UNION ALL SELECT 'in_range(n_chars,0,10000)', 'n_chars', n, v2, v2 = 0 FROM s
UNION ALL SELECT 'matches(lang)', 'lang', n, v3, v3 = 0 FROM s
UNION ALL SELECT 'in_set(lang)', 'lang', n, v4, v4 = 0 FROM s
UNION ALL SELECT 'positive(n_chars)', 'n_chars', n, v5, v5 = 0 FROM s
"""


def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-interval resampling with gap-fill + forward fill
    (operators.timeseries.resample / forward_fill): per-user 6-hour buckets
    of purchase values, densified to each user's min..max bucket with a
    distributed sequence+explode grid, then the last non-NULL bucket sum
    carried forward over one partitioned window. Counts and integer-scaled
    sums are exact; gap rows have n_rows = 0 and NULL sum_value."""
    from pylluminator_spark.operators.timeseries import forward_fill, resample

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = resample(
        ev, "ts", "value", every_us=21_600_000_000, group_cols=["user_id"]
    )
    out = forward_fill(
        out.withColumn("ffill_sum", F.col("sum_value")),
        ["ffill_sum"],
        order_col="bucket",
        group_cols=["user_id"],
    )
    return out.select(
        "user_id",
        "bucket",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "n_rows",
        "sum_value",
        "ffill_sum",
    )


ORACLE_TS_RESAMPLE = """
WITH b AS (
  SELECT user_id, epoch_us(ts) // 21600000000 AS bucket,
         COUNT(*) AS n, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1, 2
), r AS (
  SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY 1
), grid AS (
  SELECT user_id, UNNEST(range(lo, hi + 1)) AS bucket FROM r
)
SELECT g.user_id, g.bucket,
       strftime(make_timestamp(g.bucket * 21600000000),
                '%Y-%m-%d %H:%M:%S') AS bucket_ts,
       COALESCE(b.n, 0) AS n_rows,
       ROUND(b.s / 100, 2) AS sum_value,
       LAST_VALUE(ROUND(b.s / 100, 2) IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_sum
FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket
"""


def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential smoothing (operators.timeseries.ewma,
    adjust=False): deterministic left fold over the time-sorted value array,
    seeded with the first element — bit-identical to DuckDB's list_reduce
    over list(value ORDER BY ts, event_id) because both engines execute the
    same float64 op sequence. alpha = 0.25 so both weight literals (0.25,
    0.75) are exactly representable."""
    from pylluminator_spark.operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = ewma(
        ev,
        "value",
        alpha=0.25,
        order_cols=["ts", "event_id"],
        group_cols=["user_id"],
    )
    return out.select("user_id", F.round("ewma", 6).alias("ewma"))


ORACLE_TS_EWMA = """
SELECT user_id,
       ROUND(list_reduce(list(value ORDER BY ts, event_id),
                         (acc, x) -> 0.25 * x + 0.75 * acc), 6) AS ewma
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


def q_ts_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags (operators.timeseries.rolling_zscore):
    each purchase against its user's trailing 10 events. The windowed
    moments are EXACT integer sums of cents and squared cents over a ROWS
    frame, so the derived mean/var/z floats are identical cross-engine;
    both engines then apply the same |z| > 2 cut."""
    from pylluminator_spark.operators.timeseries import rolling_zscore

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = rolling_zscore(
        ev,
        "value",
        order_cols=["ts", "event_id"],
        group_cols=["user_id"],
        window_rows=10,
        min_rows=3,
    )
    return out.filter(F.abs(F.col("zscore")) > 2).select(
        "event_id", "user_id", "roll_n", "roll_mean", "zscore"
    )


ORACLE_TS_ANOMALIES = """
WITH c AS (
  SELECT event_id, user_id, ts,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT event_id, user_id, v,
         COUNT(v) OVER w AS n,
         CAST(SUM(v) OVER w AS BIGINT) AS s,
         CAST(SUM(v * v) OVER w AS BIGINT) AS q
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
), z AS (
  SELECT event_id, user_id, n AS roll_n,
         ROUND((s / n) / 100, 6) AS roll_mean,
         CASE WHEN n >= 3 AND (q / n - (s / n) * (s / n)) > 0
              THEN ROUND((v - s / n)
                         / sqrt(q / n - (s / n) * (s / n)), 6)
         END AS zscore
  FROM m
)
SELECT event_id, user_id, roll_n, roll_mean, zscore
FROM z WHERE ABS(zscore) > 2
"""


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 pair discovery (operators.fuzzy.fuzzy_self_pairs):
    FastSS deletion-neighborhood blocking — every string emits |s|+1
    deletion variants, candidates equi-join on the variant key, one
    codegen levenshtein verifies. The oracle is the BRUTE-FORCE quadratic
    join, so a hash match proves the blocking lossless (no false
    negatives) on real data. Keys are 6-hex-char md5 prefixes of part
    keys — identical on both engines — giving a realistic sparse
    near-neighbor structure."""
    from pylluminator_spark.operators.fuzzy import fuzzy_self_pairs

    part = _t(spark, sf_dir, "part")
    codes = part.select(
        F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 6).alias(
            "code"
        )
    )
    return fuzzy_self_pairs(codes, "code", max_dist=1)


ORACLE_FUZZY_PAIRS = """
WITH codes AS (
  SELECT DISTINCT substr(md5(CAST(p_partkey AS VARCHAR)), 1, 6) AS code
  FROM part
)
SELECT a.code AS left_val, b.code AS right_val,
       levenshtein(a.code, b.code) AS dist
FROM codes a JOIN codes b
  ON a.code < b.code AND levenshtein(a.code, b.code) <= 1
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase graph: parts appearing in the same order.
    Derived identically in both engines (self-join on l_orderkey with
    l_partkey < l_partkey, distinct). The gate/bench graph keeps a
    deterministic 1/3 of orders (l_orderkey % 3 = 0) — the co-purchase
    graph densifies superlinearly with SF, and the gate verifies the
    algorithms, not the corpus size."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey", "l_partkey")
    )
    l1 = li.withColumnRenamed("l_partkey", "u")
    l2 = li.withColumnRenamed("l_partkey", "v")
    return (
        l1.join(l2, "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (operators.graph.triangles): degree-ordered
    orientation caps every wedge center's out-degree at O(sqrt(m)) — the
    classic O(m^1.5)-work plan — then one equi-join closes wedges against
    the canonical edge set. Gated as the one-row (n_nodes, n_edges,
    n_triangles) summary of the co-purchase graph; the oracle counts
    triangles by the direct three-way join, so a match verifies the
    oriented enumeration is exact (each triangle once)."""
    from pylluminator_spark.operators.graph import triangle_stats

    # num_partitions=8: the gate graph is ~400k edges; 8 cache partitions
    # keep the three downstream branches' map-task counts proportionate
    # (the knob scales as m / 5M at cluster size — see triangles()).
    return triangle_stats(
        _copurchase_edges(spark, sf_dir), "u", "v", num_partitions=8
    )


ORACLE_GRAPH_TRIANGLES = """
WITH e AS (
  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
  WHERE l1.l_orderkey % 3 = 0
)
SELECT
  (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) FROM
     (SELECT u AS n FROM e UNION ALL SELECT v FROM e)) AS n_nodes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM e e1
     JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
     JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles
"""


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators.graph.pagerank): 3 power iterations
    with ALL arithmetic in scaled integers (units of 1e-12), so the ranks
    are bit-identical under any shuffle order or engine — the oracle
    unrolls the same three integer iterations in SQL and must match
    exactly, no tolerance. Top-20 hubs of the symmetric co-purchase
    graph."""
    from pylluminator_spark.operators.graph import pagerank

    und = _copurchase_edges(spark, sf_dir)
    sym = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    # assume_distinct: the symmetric union of a canonical DISTINCT u<v
    # edge set is distinct by construction (the halves are disjoint), so
    # the edge-dedup shuffle is pure waste. `und` is intentionally NOT
    # persisted: both union branches share the identical distinct
    # exchange inside _copurchase_edges, which AQE's ReuseExchange
    # dedupes during the one job that materializes pagerank's persisted
    # edge table — only the final distinct aggregate runs twice, and a
    # persist here measured slower (extra cache write + read).
    # num_partitions=8 as in q_graph_triangles.
    pr = pagerank(sym, iters=3, assume_distinct=True, num_partitions=8)
    return pr.orderBy(F.col("rank_int").desc(), F.col("node").asc()).limit(20)


ORACLE_GRAPH_PAGERANK = """
WITH und AS (
  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
  WHERE l1.l_orderkey % 3 = 0
), e AS (
  SELECT u AS s, v AS d FROM und UNION ALL SELECT v, u FROM und
), deg AS (
  SELECT s, COUNT(*) AS c FROM e GROUP BY s
), nn AS (
  SELECT COUNT(*) AS n FROM deg
), r0 AS (
  SELECT deg.s AS node, 1000000000000 // nn.n AS r FROM deg, nn
), i1 AS (
  SELECT e.d AS node, SUM(r.r // g.c) AS ins
  FROM e JOIN r0 r ON r.node = e.s JOIN deg g ON g.s = e.s GROUP BY e.d
), r1 AS (
  SELECT r0.node,
         (15 * (1000000000000 // nn.n) + 85 * COALESCE(i1.ins, 0)) // 100
           AS r
  FROM r0 CROSS JOIN nn LEFT JOIN i1 ON i1.node = r0.node
), i2 AS (
  SELECT e.d AS node, SUM(r.r // g.c) AS ins
  FROM e JOIN r1 r ON r.node = e.s JOIN deg g ON g.s = e.s GROUP BY e.d
), r2 AS (
  SELECT r1.node,
         (15 * (1000000000000 // nn.n) + 85 * COALESCE(i2.ins, 0)) // 100
           AS r
  FROM r1 CROSS JOIN nn LEFT JOIN i2 ON i2.node = r1.node
), i3 AS (
  SELECT e.d AS node, SUM(r.r // g.c) AS ins
  FROM e JOIN r2 r ON r.node = e.s JOIN deg g ON g.s = e.s GROUP BY e.d
), r3 AS (
  SELECT r2.node,
         (15 * (1000000000000 // nn.n) + 85 * COALESCE(i3.ins, 0)) // 100
           AS r
  FROM r2 CROSS JOIN nn LEFT JOIN i3 ON i3.node = r2.node
)
SELECT node, CAST(r AS BIGINT) AS rank_int
FROM r3 ORDER BY rank_int DESC, node ASC LIMIT 20
"""


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key computation (operators.layout.morton_key): the
    bit-interleave that drives multi-dimensional file clustering, computed
    as pure shift/and/or codegen over (l_partkey % 256, l_suppkey % 256)
    at 8 bits, summarized per 64-key block. The oracle re-derives every
    bit term with the same integer arithmetic, so a hash match proves the
    interleave is exact."""
    from pylluminator_spark.operators.layout import morton_key

    li = _t(spark, sf_dir, "lineitem")
    z = morton_key(
        [F.col("l_partkey") % 256, F.col("l_suppkey") % 256], bits=8
    )
    return (
        li.select(z.alias("zkey"))
        .select(F.expr("zkey div 64").alias("zblock"), "zkey")
        .groupBy("zblock")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("zkey").alias("sum_zkey"),
            F.min("zkey").alias("min_zkey"),
            F.max("zkey").alias("max_zkey"),
        )
    )


def _gen_oracle_zorder() -> str:
    terms = []
    for i in range(8):
        for j, c in enumerate(("l_partkey % 256", "l_suppkey % 256")):
            # full parens: DuckDB's | binds TIGHTER than <<, so an
            # unparenthesized shift term absorbs the whole OR chain
            terms.append(f"(((({c}) >> {i}) & 1) << {i * 2 + j})")
    expr = " | ".join(terms)
    return f"""
WITH z AS (
  SELECT ({expr}) AS zkey FROM lineitem
)
SELECT zkey // 64 AS zblock,
       COUNT(*) AS n_rows,
       CAST(SUM(zkey) AS BIGINT) AS sum_zkey,
       MIN(zkey) AS min_zkey,
       MAX(zkey) AS max_zkey
FROM z GROUP BY 1
"""


ORACLE_ZORDER_KEY = _gen_oracle_zorder()


def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (operators.sketch.hll_registers_arith):
    per-event-type distinct-user sketches with the SQL-replicable
    multiply-mod hash (engine-grade variant uses xxhash64). The register
    table is integer-exact — bucket from the low 8 hash bits, rho from the
    leading-zero rank of the remaining 23 computed via indicator terms,
    not float log — so the driver gate hashes the sketch itself."""
    from pylluminator_spark.operators.sketch import hll_registers_arith

    ev = _t(spark, sf_dir, "events")
    return hll_registers_arith(
        ev, "user_id", group_cols=["event_type"], p=8
    )


def _gen_oracle_hll() -> str:
    a, b, p = 1_103_515_245, 12_345, 2_147_483_647
    m, wbits = 256, 23
    bitlen = " + ".join(
        f"(CASE WHEN w >= {1 << k} THEN 1 ELSE 0 END)" for k in range(wbits)
    )
    return f"""
WITH h AS (
  SELECT event_type,
         ({a} * CAST(user_id AS BIGINT) + {b}) % {p} AS hv
  FROM events WHERE user_id IS NOT NULL
), parts AS (
  SELECT event_type,
         CAST(hv % {m} AS INT) AS bucket,
         hv // {m} AS w
  FROM h
)
SELECT event_type, bucket,
       CAST(MAX({wbits} - ({bitlen}) + 1) AS INT) AS rho
FROM parts GROUP BY event_type, bucket
"""


ORACLE_HLL_REGISTERS = _gen_oracle_hll()


def q_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch counter matrix (operators.sketch.cms_build_arith):
    3 x 64 exact integer counters over event user ids, mergeable by
    addition — gated as the full data structure (the estimates' one-sided
    guarantee is pytest-verified in test_sketch)."""
    from pylluminator_spark.operators.sketch import cms_build_arith

    ev = _t(spark, sf_dir, "events")
    return cms_build_arith(ev, "user_id", width=64)


def _gen_oracle_cms() -> str:
    p = 2_147_483_647
    selects = [
        f"SELECT {r} AS row, CAST((({a} * CAST(user_id AS BIGINT) + {b})"
        f" % {p}) % 64 AS INT) AS col"
        " FROM events WHERE user_id IS NOT NULL"
        for r, (a, b) in enumerate(((421, 7), (1031, 19), (2017, 41)))
    ]
    union = " UNION ALL ".join(selects)
    return f"SELECT row, col, COUNT(*) AS cnt FROM ({union}) GROUP BY 1, 2"


ORACLE_CMS_COUNTERS = _gen_oracle_cms()


def q_chi_square_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test (operators.stats_tests.chi_square) of
    document language vs source: one contingency aggregate, the FULL
    marginal grid (zero-observed cells contribute e_ij), and a sorted-fold
    chi2 sum — delta*delta, never libm pow — so the statistic is
    bit-identical cross-engine from the exact integer cell counts."""
    from pylluminator_spark.operators.stats_tests import chi_square

    docs = _t(spark, sf_dir, "documents")
    return chi_square(docs, "lang", "source")


ORACLE_CHI_SQUARE_ASSOC = """
WITH cells AS (
  SELECT lang AS x, source AS y, COUNT(*) AS n FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
), rx AS (
  SELECT x, CAST(SUM(n) AS BIGINT) AS rx FROM cells GROUP BY x
), cy AS (
  SELECT y, CAST(SUM(n) AS BIGINT) AS cy FROM cells GROUP BY y
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS t FROM cells
), grid AS (
  SELECT rx.x, cy.y, rx.rx, cy.cy, tot.t,
         COALESCE(cells.n, 0) AS n
  FROM rx CROSS JOIN cy CROSS JOIN tot
  LEFT JOIN cells ON cells.x = rx.x AND cells.y = cy.y
), terms AS (
  SELECT x, y, t,
         (CAST(n AS DOUBLE) - rx * cy / t)
           * (CAST(n AS DOUBLE) - rx * cy / t)
           / (rx * cy / t) AS term
  FROM grid
), folded AS (
  SELECT MAX(t) AS n,
         (SELECT COUNT(*) FROM rx) AS n_x,
         (SELECT COUNT(*) FROM cy) AS n_y,
         list_reduce(list(term ORDER BY x, y), (a, b) -> a + b) AS chi2
  FROM terms
)
SELECT n, n_x, n_y,
       (n_x - 1) * (n_y - 1) AS dof,
       ROUND(chi2, 6) AS chi2,
       ROUND(sqrt(chi2 / (n * (LEAST(n_x, n_y) - 1))), 6) AS cramers_v
FROM folded
"""


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source)
    (operators.stats_tests.mutual_information, natural log): observed
    cells only (zero cells contribute 0), sorted-fold sum of
    p_xy * ln(n * t / (rx * cy)) — natural log matches the repo's
    lm_score precedent for cross-engine libm agreement."""
    from pylluminator_spark.operators.stats_tests import mutual_information

    docs = _t(spark, sf_dir, "documents")
    return mutual_information(docs, "lang", "source", base2=False)


ORACLE_MUTUAL_INFO = """
WITH cells AS (
  SELECT lang AS x, source AS y, COUNT(*) AS n FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
), marg AS (
  SELECT x, y, n,
         CAST(SUM(n) OVER (PARTITION BY x) AS BIGINT) AS rx,
         CAST(SUM(n) OVER (PARTITION BY y) AS BIGINT) AS cy,
         CAST(SUM(n) OVER () AS BIGINT) AS t
  FROM cells
), terms AS (
  SELECT x, y, t,
         (n / t) * ln(CAST(n AS DOUBLE) * t / (rx * cy)) AS term
  FROM marg
)
SELECT MAX(t) AS n,
       ROUND(list_reduce(list(term ORDER BY x, y), (a, b) -> a + b), 6)
         AS mi
FROM terms
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability drift monitor
    (operators.stats_tests.psi_categorical): language distribution of
    even- vs odd-keyed documents, add-0.5 smoothing over the category
    union, sorted-fold sum — deterministic with no epsilon clamps. The
    halves are drawn from the same corpus, so the gate also sanity-checks
    a near-zero PSI on undrifted data."""
    from pylluminator_spark.operators.stats_tests import psi_categorical

    docs = _t(spark, sf_dir, "documents")
    return psi_categorical(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        "lang",
    )


ORACLE_PSI_DRIFT = """
WITH e AS (
  SELECT lang AS c, COUNT(*) AS ne FROM documents
  WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1
), a AS (
  SELECT lang AS c, COUNT(*) AS na FROM documents
  WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1
), cells AS (
  SELECT COALESCE(e.c, a.c) AS c,
         CAST(COALESCE(e.ne, 0) AS BIGINT) AS ne,
         CAST(COALESCE(a.na, 0) AS BIGINT) AS na
  FROM e FULL OUTER JOIN a ON e.c = a.c
), tot AS (
  SELECT c, ne, na,
         CAST(SUM(ne) OVER () AS BIGINT) AS te,
         CAST(SUM(na) OVER () AS BIGINT) AS ta,
         COUNT(*) OVER () AS k
  FROM cells
), terms AS (
  SELECT c, te, ta, k,
         ((ne + 0.5) / (te + 0.5 * k) - (na + 0.5) / (ta + 0.5 * k))
           * ln(((ne + 0.5) / (te + 0.5 * k))
                / ((na + 0.5) / (ta + 0.5 * k))) AS term
  FROM tot
)
SELECT MAX(te) AS n_expected, MAX(ta) AS n_actual,
       MAX(k) AS n_categories,
       ROUND(list_reduce(list(term ORDER BY c), (x, y) -> x + y), 6)
         AS psi
FROM terms
"""


def q_fk_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity validation (operators.validate.references):
    events.user_id checked against the full customer key set (passes) and
    against a deliberately restricted subset (fails with an exact orphan
    count) — each fk rule is one distinct-key left join, never a
    collect."""
    from pylluminator_spark.operators.validate import references, validate

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    return validate(
        ev,
        [
            references("user_id", cust, "c_custkey", name="fk_all"),
            references(
                "user_id",
                cust.where(F.col("c_custkey") <= 100),
                "c_custkey",
                name="fk_restricted",
            ),
        ],
    )


ORACLE_FK_CHECK = """
SELECT 'fk_all' AS rule, 'user_id' AS "column",
       (SELECT COUNT(*) FROM events) AS n_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
         WHERE user_id IS NOT NULL AND NOT EXISTS
           (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
         AS n_violations,
       (SELECT COUNT(*) FROM events e
         WHERE user_id IS NOT NULL AND NOT EXISTS
           (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) = 0
         AS passed
UNION ALL
SELECT 'fk_restricted', 'user_id',
       (SELECT COUNT(*) FROM events),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
         WHERE user_id IS NOT NULL AND NOT EXISTS
           (SELECT 1 FROM customer c
             WHERE c.c_custkey = e.user_id AND c.c_custkey <= 100)),
       (SELECT COUNT(*) FROM events e
         WHERE user_id IS NOT NULL AND NOT EXISTS
           (SELECT 1 FROM customer c
             WHERE c.c_custkey = e.user_id AND c.c_custkey <= 100)) = 0
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 version table (operators.scd.scd2_from_changes): the
    events log as a change stream of each user's event_type state — no-op
    updates collapse via one lag, intervals close via one lead, both over
    a single user-keyed sort; same-instant rewrites drop as zero-length
    intervals. Interval bounds exported as epoch micros."""
    from pylluminator_spark.operators.scd import scd2_from_changes

    ev = _t(spark, sf_dir, "events")
    hist = scd2_from_changes(
        ev, "user_id", "ts", ["event_type"], tiebreak=["event_id"]
    )
    to_us = lambda c: F.expr(  # noqa: E731
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" CAST({c} AS TIMESTAMP_NTZ))"
    )
    return hist.select(
        "user_id",
        "event_type",
        to_us("valid_from").alias("from_us"),
        to_us("valid_to").alias("to_us"),
        "is_current",
    )


ORACLE_SCD2_HISTORY = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER w IS DISTINCT FROM event_type AS new_version
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), versions AS (
  SELECT user_id, event_type,
         epoch_us(ts) AS from_us,
         epoch_us(LEAD(ts) OVER w2) AS to_us
  FROM flagged WHERE new_version
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id, event_type, from_us, to_us,
       to_us IS NULL AS is_current
FROM versions
WHERE to_us IS NULL OR to_us > from_us
"""


def q_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (operators.skyline.skyline_2d):
    cheapest-AND-largest parts — minimize price, maximize size (negated
    into the minimize form). One exclusive-running-min window over the
    DISTINCT pair table; the oracle is the quadratic NOT EXISTS dominance
    self-join, so a hash match proves the windowed frontier exact."""
    from pylluminator_spark.operators.skyline import skyline_2d

    part = _t(spark, sf_dir, "part").select(
        F.col("p_retailprice").alias("price"),
        (-F.col("p_size")).cast("long").alias("neg_size"),
    )
    front = skyline_2d(part, "price", "neg_size")
    return front.select(
        "price", (-F.col("neg_size")).cast("long").alias("size")
    )


ORACLE_SKYLINE_FRONTIER = """
WITH pts AS (
  SELECT DISTINCT p_retailprice AS price, CAST(p_size AS BIGINT) AS size
  FROM part
)
SELECT price, size FROM pts q
WHERE NOT EXISTS (
  SELECT 1 FROM pts p
  WHERE p.price <= q.price AND p.size >= q.size
    AND (p.price < q.price OR p.size > q.size)
)
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff (operators.diff.snapshot_diff): two
    deterministic versions of the customer table (mod-keyed deletions,
    insertions, and an acctbal bump on every 7th key) classified
    added/removed/changed per key by one full-outer join — gated on the
    non-unchanged rows with both value versions."""
    from pylluminator_spark.operators.diff import snapshot_diff

    cust = _t(spark, sf_dir, "customer")
    old = cust.where(F.col("c_custkey") % 11 != 0)
    new = cust.where(F.col("c_custkey") % 13 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")),
    )
    d = snapshot_diff(old, new, ["c_custkey"], ["c_acctbal"])
    return d.where(F.col("change_type") != "unchanged").select(
        "c_custkey", "change_type", "old_c_acctbal", "new_c_acctbal"
    )


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 11 <> 0
), new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 13 <> 0
), d AS (
  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
         CASE WHEN o.c_custkey IS NULL THEN 'added'
              WHEN n.c_custkey IS NULL THEN 'removed'
              WHEN o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
                THEN 'unchanged'
              ELSE 'changed' END AS change_type,
         o.c_acctbal AS old_c_acctbal,
         n.c_acctbal AS new_c_acctbal
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
SELECT c_custkey, change_type, old_c_acctbal, new_c_acctbal
FROM d WHERE change_type <> 'unchanged'
"""


def q_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (operators.index.build_inverted_index):
    per token, document frequency, collection frequency, and an exact
    integer checksum folded over the NESTED postings structure (doc *
    1000003 + position per occurrence) — the oracle computes the same
    checksum from the flat token stream, so a match verifies the
    two-level collect built every posting and position."""
    from pylluminator_spark.operators.index import build_inverted_index

    docs = _t(spark, sf_dir, "documents")
    idx = build_inverted_index(docs)
    cks = F.aggregate(
        F.col("postings"),
        F.lit(0).cast("long"),
        lambda acc, p: acc
        + F.aggregate(
            p["positions"],
            F.lit(0).cast("long"),
            lambda a, q: a + p["doc"] * 1000003 + q,
        ),
    )
    return idx.select(
        "token", "n_docs", "n_occurrences", cks.alias("postings_checksum")
    )


ORACLE_INVERTED_POSTINGS = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(lower(text), '\s+') AS arr
  FROM documents
), flat AS (
  SELECT doc_id,
         arr[i] AS token,
         i - 1 AS pos
  FROM toks, UNNEST(generate_series(1, len(arr))) AS g(i)
  WHERE len(arr[i]) > 0
)
SELECT token,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       COUNT(*) AS n_occurrences,
       CAST(SUM(doc_id * 1000003 + pos) AS BIGINT) AS postings_checksum
FROM flat GROUP BY token
"""


def q_json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction (operators.json_ops.json_extract_typed) over
    the events props column: get_json_object pulls $.k as bigint (pure
    codegen, NULL on malformed), then an exact integer aggregate per
    event_type."""
    from pylluminator_spark.operators.json_ops import json_extract_typed

    ev = _t(spark, sf_dir, "events")
    typed = json_extract_typed(ev, "props", {"k": "k:bigint"})
    return typed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


ORACLE_JSON_EXTRACT_AGG = """
WITH typed AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM typed GROUP BY event_type
"""


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test (operators.stats_tests.ab_test): purchase
    vs view event values from ONE conditional-sum aggregation pass over
    exact integer cents; the two-sided p-value uses the repo's erfc
    polynomial, mirrored term-for-term in the oracle via
    functions.sqlgen.norm_sf_sql."""
    from pylluminator_spark.operators.stats_tests import ab_test

    ev = _t(spark, sf_dir, "events")
    return ab_test(ev, "event_type", "value", "purchase", "view")


def _gen_oracle_ab_test() -> str:
    from pylluminator_spark.functions.sqlgen import norm_sf_sql

    z = "((s_a / n_a / 100) - (s_b / n_b / 100)) / se"
    return f"""
WITH s AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN event_type = 'view' AND value IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) AS s_a,
    CAST(SUM(CASE WHEN event_type = 'view'
             THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) AS s_b,
    CAST(SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(ROUND(value * 100) AS BIGINT)
                  * CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT)
      AS q_a,
    CAST(SUM(CASE WHEN event_type = 'view'
             THEN CAST(ROUND(value * 100) AS BIGINT)
                  * CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT)
      AS q_b
  FROM events
), w AS (
  SELECT n_a, n_b, s_a, s_b,
         (CASE WHEN n_a >= 2 THEN
            (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a)
            / (n_a - 1) END) / (100 * 100) AS v_a,
         (CASE WHEN n_b >= 2 THEN
            (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b)
            / (n_b - 1) END) / (100 * 100) AS v_b
  FROM s
), t AS (
  SELECT n_a, n_b, s_a, s_b,
         sqrt(v_a / n_a + v_b / n_b) AS se
  FROM w
)
SELECT n_a, n_b,
       ROUND(s_a / n_a / 100, 6) AS mean_a,
       ROUND(s_b / n_b / 100, 6) AS mean_b,
       ROUND((s_a / n_a / 100) - (s_b / n_b / 100), 6) AS diff,
       ROUND(se, 6) AS se,
       ROUND({z}, 6) AS z,
       ROUND(2.0 * {norm_sf_sql(f"abs({z})")}, 6) AS p_value
FROM t
"""


ORACLE_AB_TEST = _gen_oracle_ab_test()


def q_geo_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo radius self-join (operators.geo.radius_pairs): customer points
    (lat/lon derived arithmetically from keys, identical in both engines)
    paired within 300 km via lossless grid-cell blocking (3x3 wrapped
    neighborhoods) + one codegen haversine verify. The oracle is the
    quadratic brute-force join with the same trig formula, so a match
    proves the blocking loses no pair — including across the
    antimeridian."""
    from pylluminator_spark.operators.geo import radius_pairs

    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 48271) % 120000) / 1000.0 - 60.0).alias(
            "lat"
        ),
        (
            ((F.col("c_custkey") * 69621 + 17) % 360000) / 1000.0 - 180.0
        ).alias("lon"),
    )
    return radius_pairs(pts, "id", "lat", "lon", 300.0)


ORACLE_GEO_RADIUS_PAIRS = """
WITH pts AS (
  SELECT c_custkey AS id,
         ((c_custkey * 48271) % 120000) / 1000.0 - 60.0 AS lat,
         ((c_custkey * 69621 + 17) % 360000) / 1000.0 - 180.0 AS lon
  FROM customer
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         2.0 * 6371.0 * asin(sqrt(
           sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * sin(radians(b.lon - a.lon) / 2)
             * sin(radians(b.lon - a.lon) / 2)
         )) AS dist_km
  FROM pts a JOIN pts b ON a.id < b.id
)
SELECT id_a, id_b, ROUND(dist_km, 6) AS dist_km
FROM pairs WHERE dist_km <= 300.0
"""


def q_impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mean imputation (operators.impute): every 13th event's
    value is deterministically NULLed, then filled with its event_type's
    exact integer-scaled mean (one stats aggregate + broadcast join).
    Gated on the imputed rows only."""
    from pylluminator_spark.operators.impute import impute

    ev = _t(spark, sf_dir, "events").withColumn(
        "value",
        F.when(F.col("event_id") % 13 == 0, None).otherwise(
            F.col("value")
        ),
    )
    out = impute(ev, {"value": "mean"}, group_cols=["event_type"])
    return out.where(F.col("value_imputed")).select(
        "event_id", "event_type", F.round("value", 6).alias("value")
    )


ORACLE_IMPUTE_MEAN = """
WITH nulled AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value
  FROM events
), stats AS (
  SELECT event_type,
         CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
           / COUNT(value) / 1000000 AS fill
  FROM nulled GROUP BY event_type
)
SELECT n.event_id, n.event_type, ROUND(s.fill, 6) AS value
FROM nulled n JOIN stats s ON n.event_type = s.event_type
WHERE n.value IS NULL AND s.fill IS NOT NULL
"""


def q_last_touch_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (operators.attribution.last_touch): each
    purchase attributed to the user's most recent view/click within 24h
    via the union + last(ignorenulls) carry idiom — one user-keyed
    window, no self-join. Same-instant touches sort before conversions,
    ties by event id on both engines."""
    from pylluminator_spark.operators.attribution import last_touch

    ev = _t(spark, sf_dir, "events")
    return last_touch(
        ev,
        touch_types=["view", "click"],
        conversion_type="purchase",
        lookback_us=86_400_000_000,
    )


ORACLE_LAST_TOUCH_ATTR = """
WITH base AS (
  SELECT user_id AS u, epoch_us(ts) AS us, event_id AS eid,
         event_type AS etype
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
), stream AS (
  SELECT u, us, eid,
         CASE WHEN etype IN ('view', 'click')
              THEN struct_pack(us := us, eid := eid, etype := etype)
         END AS touch,
         CASE WHEN etype = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM base
), carried AS (
  SELECT u, us, eid, is_conv,
         LAST_VALUE(touch IGNORE NULLS) OVER (
           PARTITION BY u ORDER BY us, is_conv, eid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
  FROM stream
)
SELECT eid AS conversion_id, u AS user, us AS conversion_us,
       CASE WHEN lt IS NOT NULL AND us - lt.us <= 86400000000
            THEN lt.eid END AS touch_id,
       CASE WHEN lt IS NOT NULL AND us - lt.us <= 86400000000
            THEN lt.etype END AS touch_type,
       CASE WHEN lt IS NOT NULL AND us - lt.us <= 86400000000
            THEN lt.us END AS touch_us
FROM carried WHERE is_conv = 1
"""


def q_linear_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution
    (operators.attribution.linear_attribution): every view/click in the
    24h window before a purchase shares the conversion's credit as EXACT
    integer ppm (floor division — remainder documented dropped), summed
    per channel. User-keyed interval join; pair count bounded by touches
    per window."""
    from pylluminator_spark.operators.attribution import linear_attribution

    ev = _t(spark, sf_dir, "events")
    return linear_attribution(
        ev,
        touch_types=["view", "click"],
        conversion_type="purchase",
        lookback_us=86_400_000_000,
    )


ORACLE_LINEAR_ATTR = """
WITH base AS (
  SELECT user_id AS u, epoch_us(ts) AS us, event_id AS eid,
         event_type AS etype
  FROM events
), t AS (
  SELECT u, us AS t_us, eid AS t_eid, etype AS t_type FROM base
  WHERE etype IN ('view', 'click')
), c AS (
  SELECT u, us AS c_us, eid AS c_eid FROM base WHERE etype = 'purchase'
), pairs AS (
  SELECT t.t_type, c.c_eid, c.u,
         COUNT(*) OVER (PARTITION BY c.u, c.c_eid) AS n
  FROM c JOIN t ON c.u = t.u
   AND t.t_us <= c.c_us AND c.c_us - t.t_us <= 86400000000
)
SELECT t_type AS touch_type,
       CAST(COUNT(DISTINCT c_eid) AS BIGINT) AS n_conversions,
       CAST(SUM(1000000 // n) AS BIGINT) AS credit_ppm
FROM pairs GROUP BY t_type
"""


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (operators.basket.association_rules) over order
    baskets of parts: frequent pairs (>= 2 co-orders) in both rule
    directions with support/confidence/lift from exact integer counts —
    identical ratio expressions on both engines."""
    from pylluminator_spark.operators.basket import association_rules

    li = _t(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2
    )


ORACLE_BASKET_RULES = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS pair_count
  FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), bidir AS (
  SELECT item_a, item_b, pair_count FROM pairs
  UNION ALL
  SELECT item_b, item_a, pair_count FROM pairs
), items AS (
  SELECT i AS item, CAST(COUNT(*) AS BIGINT) AS item_count
  FROM bi GROUP BY i
), nb AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM bi
)
SELECT p.item_a AS antecedent, p.item_b AS consequent,
       p.pair_count,
       ia.item_count AS antecedent_count,
       ib.item_count AS consequent_count,
       ROUND(p.pair_count / nb.n_baskets, 6) AS support,
       ROUND(p.pair_count / ia.item_count, 6) AS confidence,
       ROUND(p.pair_count * nb.n_baskets
             / (ia.item_count * ib.item_count), 6) AS lift
FROM bidir p
JOIN items ia ON ia.item = p.item_a
JOIN items ib ON ib.item = p.item_b
CROSS JOIN nb
"""


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling autocorrelation (operators.timeseries.rolling_corr): each
    purchase value against its user's previous value over a trailing
    20-row frame. All six windowed moments are EXACT integer sums of
    cents, so the Pearson floats are cross-engine identical; degenerate
    windows yield NULL."""
    from pylluminator_spark.operators.timeseries import rolling_corr

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    df = ev.withColumn("prev", F.lag("value").over(w))
    out = rolling_corr(
        df,
        "value",
        "prev",
        order_cols=["ts", "event_id"],
        group_cols=["user_id"],
        window_rows=20,
        min_rows=3,
    )
    return out.select("event_id", "user_id", "corr_n", "rolling_corr")


ORACLE_ROLLING_CORR = """
WITH base AS (
  SELECT event_id, user_id, ts, value,
         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events WHERE event_type = 'purchase'
), cents AS (
  SELECT event_id, user_id, ts,
         CASE WHEN value IS NOT NULL AND prev IS NOT NULL
              THEN CAST(ROUND(value * 100) AS BIGINT) END AS x,
         CASE WHEN value IS NOT NULL AND prev IS NOT NULL
              THEN CAST(ROUND(prev * 100) AS BIGINT) END AS y
  FROM base
), m AS (
  SELECT event_id, user_id,
         CAST(SUM(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END) OVER w
              AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
  FROM cents
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, n AS corr_n,
       CASE WHEN n >= 3 THEN
         ROUND((n * sxy - sx * sy)
               / sqrt(CASE WHEN (n * sxx - sx * sx) > 0
                            AND (n * syy - sy * sy) > 0
                      THEN CAST(n * sxx - sx * sx AS DOUBLE)
                           * (n * syy - sy * sy) END), 6)
       END AS rolling_corr
FROM m
"""


def q_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio spectral features (operators.multimodal.
    audio_spectral_features): deterministic sine + harmonic WAV fixtures
    synthesized from part keys, decoded through the real RIFF/PCM16 codec,
    then framed-Hann-rfft centroid/bandwidth/rolloff/flatness. Rows-only
    driver entry (FFT DSP is not SQL-expressible); the physics checks
    (sine centroid == f0, noise flatness, resample tone preservation) live
    in test_multimodal.TestAudioDsp."""
    import numpy as np
    import pandas as _pd

    from pylluminator_spark.operators.multimodal import (
        audio_spectral_features,
        encode_wav,
    )
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    part = _t(spark, sf_dir, "part").select("p_partkey").limit(24)
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                sr = 8000
                f0 = 200.0 + (int(k) % 17) * 100.0
                t = np.arange(2000) / sr
                x = 0.4 * np.sin(2 * np.pi * f0 * t)
                x += 0.2 * np.sin(2 * np.pi * 2 * f0 * t)
                pcm = np.round(x * 32767).astype("<i2")
                rows.append((int(k), encode_wav(pcm, sr)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    media = part.mapInPandas(gen, schema=schema)
    return audio_spectral_features(media)


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via PPJoin-style prefix filtering
    (operators.dedup.jaccard_join_exact) — the no-false-negative
    complement to the approximate MinHash-LSH path. Gated on the
    deterministic doc_id % 10 == 0 subset (the corpus is densely
    templated: the full table yields ~1M qualifying pairs at sf0.1,
    which is a property of the data, not the algorithm — the subset
    keeps the gate row count and the DuckDB brute-force oracle sane).
    """
    from pylluminator_spark.operators.dedup import jaccard_join_exact

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    out = jaccard_join_exact(docs, threshold=0.8)
    return out.select(
        "id_a",
        "id_b",
        "inter_size",
        "union_size",
        F.round("jaccard", 6).alias("jaccard"),
    ).orderBy("id_a", "id_b")


def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Bloom filter register table
    (operators.sketch.bloom_build_arith): 1024 bits as 32 BIGINT words
    of 32 bits, 4 SQL-replicable multiply-mod hashes over user ids —
    the mergeable membership sketch next to HLL (cardinality) and
    count-min (frequency). Gated as the full data structure; the
    no-false-negative probe guarantee is pytest-verified in
    test_sketch."""
    from pylluminator_spark.operators.sketch import bloom_build_arith

    ev = _t(spark, sf_dir, "events")
    return bloom_build_arith(
        ev, "user_id", m_bits=1024, group_cols=("event_type",)
    ).orderBy("event_type", "word")


def _gen_oracle_bloom() -> str:
    p = 2_147_483_647
    selects = [
        f"SELECT event_type, (({a} * CAST(user_id AS BIGINT) + {b})"
        f" % {p}) % 1024 AS pos"
        " FROM events WHERE user_id IS NOT NULL"
        for a, b in ((5, 11), (433, 17), (1861, 3), (3643, 101))
    ]
    union = " UNION ALL ".join(selects)
    return f"""
WITH pos AS ({union})
SELECT event_type, CAST(pos // 32 AS INT) AS word,
       CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS BIGINT)
         AS register
FROM pos GROUP BY event_type, word
ORDER BY event_type, word
"""


ORACLE_BLOOM_FILTER = _gen_oracle_bloom()


# Oracle is brute-force all-pairs exact Jaccard over the same subset —
# an independent O(n^2) algorithm, so a hash match also certifies that
# prefix filtering lost no pairs (the lossless-blocking claim itself).
ORACLE_JACCARD_PAIRS = r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(
           regexp_split_to_array(lower(text), '\s+'), x -> x != ''))
           AS s
  FROM documents
  WHERE doc_id % 10 = 0
), sized AS (
  SELECT doc_id, s, len(s) AS sz FROM toks WHERE len(s) > 0
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS inter_size,
         a.sz + b.sz - len(list_intersect(a.s, b.s)) AS union_size
  FROM sized a JOIN sized b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(inter_size AS BIGINT) AS inter_size,
       CAST(union_size AS BIGINT) AS union_size,
       ROUND(inter_size / union_size, 6) AS jaccard
FROM pairs
WHERE inter_size / union_size >= 0.8
ORDER BY id_a, id_b
"""


def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted near-dup discovery (operators.dedup.tfidf_cosine_pairs —
    Bayardo et al. WWW'07 all-pairs with sklearn-convention TF-IDF):
    every doc pair in the doc_id%10 subset with cosine >= 0.5, inverted-
    index self-join, max_df=40 feature pruning (the sum(df^2) scale
    control). Both varying-size float sums — the per-doc norm and the
    per-pair dot product — are folded in sorted token order on BOTH
    engines (F.aggregate over sort_array ↔ list_reduce ORDER BY token),
    and idf's ln argument is an exact small-int rational, so the cosine
    is bit-identical cross-engine before the ROUND(6) gate."""
    from pylluminator_spark.operators.dedup import tfidf_cosine_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pairs = tfidf_cosine_pairs(docs, 0.5, max_df=40)
    return pairs.select(
        "id_a",
        "id_b",
        "n_shared",
        F.round("cosine", 6).alias("cosine"),
    )


ORACLE_TFIDF_PAIRS = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x != '')) AS token
  FROM documents WHERE doc_id % 10 = 0
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), n1 AS (
  SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id % 10 = 0
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), w AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS w
  FROM tf JOIN df USING (token) CROSS JOIN n1
  WHERE df <= 40
), nrm AS (
  SELECT doc_id,
         list_reduce(list(w * w ORDER BY token), (a, b) -> a + b) AS n2
  FROM w GROUP BY doc_id
), wn AS (
  SELECT w.doc_id, w.token, w.w / sqrt(nrm.n2) AS wn
  FROM w JOIN nrm USING (doc_id)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS n_shared,
         list_reduce(list(a.wn * b.wn ORDER BY a.token),
                     (x, y) -> x + y) AS cosine
  FROM wn a JOIN wn b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
       ROUND(cosine, 6) AS cosine
FROM pairs WHERE cosine >= 0.5
ORDER BY id_a, id_b
"""


def q_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE/upsert (operators.diff.apply_changes — the lakehouse
    table-maintenance primitive): customer snapshot + a change batch
    derived from orders (one change per order: version = o_orderkey,
    op = 'D' every 11th key, else upsert with the order's payload).
    Last-writer-wins per key; winning deletes drop the key; untouched
    snapshot keys pass through. All payloads exact integers/strings, so
    the hash gate needs no rounding. ONE window over the change batch +
    one anti-join — the snapshot is never sorted."""
    from pylluminator_spark.operators.diff import apply_changes

    snap = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    changes = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("bal_cents"),
        F.col("o_orderpriority").alias("seg"),
        F.col("o_orderkey").alias("version"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_changes(snap, changes, ["k"])


ORACLE_APPLY_CHANGES = """
WITH snap AS (
  SELECT c_custkey AS k,
         CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents,
         c_mktsegment AS seg
  FROM customer
), chg AS (
  SELECT o_custkey AS k,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS bal_cents,
         o_orderpriority AS seg, o_orderkey AS version,
         CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders
), latest AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY k
    ORDER BY version DESC, (op = 'D') DESC, op ASC) AS rn
  FROM chg
), winner AS (
  SELECT k, bal_cents, seg, op FROM latest WHERE rn = 1
)
SELECT s.k, s.bal_cents, s.seg
FROM snap s LEFT JOIN winner w ON s.k = w.k
WHERE w.k IS NULL
UNION ALL
SELECT k, bal_cents, seg FROM winner WHERE op <> 'D'
ORDER BY k
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity report (operators.validate.k_anonymity, Sweeney 2002 —
    the governance check a training-data release runs): equivalence
    classes over the (c_mktsegment, c_nationkey) quasi-identifier with
    every class under k=10 flagged. One hash aggregate on the quasi key,
    map-side partials, violation flag in codegen."""
    from pylluminator_spark.operators.validate import k_anonymity

    return k_anonymity(
        _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey"),
        ["c_mktsegment", "c_nationkey"],
        k=10,
    )


ORACLE_K_ANONYMITY = """
SELECT c_mktsegment, c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS class_size,
       COUNT(*) < 10 AS is_violation
FROM customer
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey
"""


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join reduction (operators.sketch.bloom_prune_join
    — the classic 100 TB shuffle-avoidance primitive, here hash-gated
    against the UNPRUNED join): orders joined to the 1-in-7 customer dim
    with the fact side pre-filtered by an inlined-literal Bloom probe
    (pure codegen, zero extra shuffle). Bloom membership has no false
    negatives and the real join removes false positives, so the result
    must EQUAL the plain inner join the oracle runs — per-segment exact
    integer aggregates of the surviving orders."""
    from pylluminator_spark.operators.sketch import bloom_prune_join

    fact = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", "c_mktsegment")
    )
    joined = bloom_prune_join(fact, dim, "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("sum_orderkey"),
    )


ORACLE_BLOOM_PRUNE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o.o_orderkey) AS BIGINT) AS sum_orderkey
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey % 7 = 0
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram stupid-backoff LM perplexity filter
    (operators.corpus.bigram_lm_scores — Brants et al. 2007, the
    web-scale scheme CCNet's KenLM filter approximates; upgrades the
    unigram `lm_score` entry): per-doc average NLL with
    min_bigram_count=2 so the count-prune/backoff path is exercised
    (singleton bigrams fall through to the add-one unigram estimate).
    The bigram model table is corpus-sized and joins by hash — never
    broadcast; the per-doc sum folds in sorted (u, w) order so the
    float is bit-identical cross-engine before the ROUND(6) gate."""
    from pylluminator_spark.operators.corpus import bigram_lm_scores

    out = bigram_lm_scores(
        _t(spark, sf_dir, "documents"), min_bigram_count=2
    )
    return out.select(
        "doc_id", "n_bigrams", F.round("avg_nll", 6).alias("avg_nll")
    )


ORACLE_BIGRAM_LM = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), big AS (
  SELECT doc_id, t[i] AS u, t[i + 1] AS w
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
), doc_big AS (
  SELECT doc_id, u, w, COUNT(*) AS dcnt FROM big GROUP BY doc_id, u, w
), model AS (
  SELECT u, w, COUNT(*) AS cuw FROM big GROUP BY u, w HAVING COUNT(*) >= 2
), u_tot AS (
  SELECT u, COUNT(*) AS cu FROM big GROUP BY u
), uni AS (
  SELECT w, COUNT(*) AS cw FROM big GROUP BY w
), corpus AS (
  SELECT SUM(cw) AS t_total, COUNT(*) AS v_size FROM uni
), scored AS (
  SELECT d.doc_id, d.u, d.w, d.dcnt,
         d.dcnt * ln(CASE WHEN m.cuw IS NOT NULL THEN m.cuw / ut.cu
                     ELSE 0.4 * ((COALESCE(un.cw, 0) + 1.0)
                                 / (c.t_total + 1.0 * (c.v_size + 1)))
                     END) AS contrib
  FROM doc_big d
  LEFT JOIN model m ON d.u = m.u AND d.w = m.w
  JOIN u_tot ut ON d.u = ut.u
  LEFT JOIN uni un ON d.w = un.w
  CROSS JOIN corpus c
)
SELECT doc_id, CAST(SUM(dcnt) AS BIGINT) AS n_bigrams,
       ROUND(-list_reduce(list(contrib ORDER BY u, w), (a, b) -> a + b)
             / SUM(dcnt), 6) AS avg_nll
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators.dsir — Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): hashed
    unigram+bigram bucket features (256 buckets, SQL-portable polynomial
    char hash), target = the English documents, raw = the whole corpus;
    per-doc log weight = sum_b cnt(b) * (log p_en(b) - log q_all(b)) with
    add-one smoothing, folded in sorted bucket order so the float is
    bit-identical cross-engine before the ROUND(6) gate. The log-ratio
    table is <= 256 rows — broadcast — so scoring is map-side after the
    one (doc, bucket) aggregation."""
    from pylluminator_spark.operators.dsir import dsir_log_weights

    docs = _t(spark, sf_dir, "documents")
    out = dsir_log_weights(
        docs,
        docs.filter(F.col("lang") == "en"),
        buckets=256,
        alpha=1.0,
        arith=True,
        # the target is the corpus's own English slice: carve its
        # feature counts out of the materialized raw feature table
        # (integer-exact) instead of re-hashing the English half
        target_within=True,
    )
    return out.select(
        "doc_id", "n_grams", F.round("log_weight", 6).alias("log_weight")
    )


ORACLE_DSIR_WEIGHTS = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, lang, UNNEST(t) AS gram FROM toks
  UNION ALL
  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS gram
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
), bucketed AS (
  SELECT doc_id, lang,
         list_reduce(
           list_prepend(0, list_transform(
             generate_series(1, len(gram)),
             i -> ascii(substr(gram, i, 1)))),
           (a, c) -> (a * 31 + c) % 1000003) % 256 AS bucket
  FROM grams
), doc_feat AS (
  SELECT doc_id, bucket, COUNT(*) AS cnt
  FROM bucketed GROUP BY doc_id, bucket
), raw_b AS (
  SELECT bucket, SUM(cnt) AS rc FROM doc_feat GROUP BY bucket
), tgt_b AS (
  SELECT bucket, COUNT(*) AS tc FROM bucketed WHERE lang = 'en'
  GROUP BY bucket
), tot AS (
  SELECT (SELECT SUM(tc) FROM tgt_b) AS tt,
         (SELECT SUM(rc) FROM raw_b) AS tr
), ratio AS (
  SELECT r.bucket,
         ln((COALESCE(g.tc, 0) + 1.0) / (t.tt + 256.0))
           - ln((r.rc + 1.0) / (t.tr + 256.0)) AS log_ratio
  FROM raw_b r LEFT JOIN tgt_b g ON r.bucket = g.bucket CROSS JOIN tot t
), scored AS (
  SELECT d.doc_id, d.bucket, d.cnt, d.cnt * x.log_ratio AS contrib
  FROM doc_feat d JOIN ratio x ON d.bucket = x.bucket
)
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
       ROUND(list_reduce(list(contrib ORDER BY bucket), (a, b) -> a + b),
             6) AS log_weight
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch (operators.sketch.hist_sketch /
    hist_quantiles): fixed 220-bin grid on [0, 110000) over
    l_extendedprice per return flag, interpolated p25/p50/p75/p95/p99 off
    the sketch. Exact integer bin counts on a FIXED grid (mergeable by
    addition across shards — unlike GK/t-digest summaries); the quantile
    arithmetic is fixed-order double ops replicated term-for-term in the
    DuckDB twin. The cumulative window runs over the <=220-row sketch,
    never the fact table."""
    from pylluminator_spark.operators.sketch import (
        hist_quantiles,
        hist_sketch,
    )

    li = _t(spark, sf_dir, "lineitem")
    sk = hist_sketch(
        li, "l_extendedprice", ["l_returnflag"], lo=0.0, hi=110000.0,
        bins=220,
    )
    est = hist_quantiles(
        sk, [0.25, 0.5, 0.75, 0.95, 0.99], ["l_returnflag"],
        lo=0.0, hi=110000.0, bins=220,
    )
    return est.select(
        "l_returnflag", "q", F.round("est", 6).alias("est")
    )


ORACLE_HIST_QUANTILES = """
WITH sk AS (
  SELECT l_returnflag,
         GREATEST(0, LEAST(219,
           CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / 500.0) AS INT)))
           AS bin,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, bin, cnt,
         SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS c
  FROM sk
), tot AS (
  SELECT l_returnflag, SUM(cnt) AS n FROM sk GROUP BY l_returnflag
), qs AS (
  SELECT CAST(UNNEST([0.25, 0.5, 0.75, 0.95, 0.99]) AS DOUBLE) AS q
)
SELECT c.l_returnflag, q.q,
       ROUND(0.0 + 500.0 * (c.bin + (q.q * t.n - (c.c - c.cnt)) / c.cnt),
             6) AS est
FROM cum c JOIN tot t ON c.l_returnflag = t.l_returnflag CROSS JOIN qs q
WHERE c.c - c.cnt < q.q * t.n AND q.q * t.n <= c.c
"""


from pylluminator_spark.operators.dedup import _kmer_pows as _mini_kmer_pows

_MINI_POWS = _mini_kmer_pows(8)  # one source of truth for the hash params
_MINI_SQL_SIGS = f"""
WITH kh AS (
  SELECT doc_id,
    list_transform(generate_series(1, len(text) - 7),
      i -> list_reduce(
             list_transform(generate_series(0, 7),
               j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT)
                    * ([{", ".join(map(str, _MINI_POWS))}][j + 1])),
             (a, b) -> a + b) % 1000003) AS hs
  FROM documents
), mn AS (
  SELECT doc_id,
    CASE WHEN len(hs) >= 8 THEN
           list_distinct(list_transform(generate_series(1, len(hs) - 7),
             i -> list_min(hs[i:i+7])))
         WHEN len(hs) >= 1 THEN [list_min(hs)]
         ELSE [] END AS ms
  FROM kh
), sigs AS (
  SELECT doc_id, unnest(ms) AS minimizer FROM mn
)"""


def q_minimizer_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing minimizer signatures (operators.dedup
    minimizer_signatures — Schleimer et al., SIGMOD 2003; the
    exact-substring blocking scheme of MOSS/minimap2, beyond-reference
    dedup surface): (8,8)-minimizers of each document's polynomial k-mer
    hash stream, gated as per-doc signature aggregates (count + exact
    integer sum + extrema pin the full distinct-minimizer set). The
    signature is pure higher-order array exprs — no explode until the
    ~4x-compressed minimizer stream, no Python, no shuffle before the
    doc-keyed aggregate."""
    from pylluminator_spark.operators.dedup import minimizer_signatures

    sigs = minimizer_signatures(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=8, w=8,
        num_partitions=32,
    )
    return sigs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_minimizers"),
        F.sum("minimizer").alias("sig_sum"),
        F.min("minimizer").alias("sig_min"),
        F.max("minimizer").alias("sig_max"),
    )


ORACLE_MINIMIZER_SIGS = (
    _MINI_SQL_SIGS
    + """
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_minimizers,
       CAST(SUM(minimizer) AS BIGINT) AS sig_sum,
       CAST(MIN(minimizer) AS BIGINT) AS sig_min,
       CAST(MAX(minimizer) AS BIGINT) AS sig_max
FROM sigs GROUP BY doc_id
"""
)


def q_minimizer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimizer-blocked candidate pairs (operators.dedup
    minimizer_candidate_pairs): documents sharing >= 3 distinct
    (8,8)-minimizers, with stop-word-like minimizers (document frequency
    > 60) dropped BEFORE the self-join — the same bounded-bucket
    discipline as LSH bands/PPJoin prefixes, worst bucket C(60, 2).
    The synthetic corpus's tiny vocabulary makes minimizers collide
    corpus-wide, so the gate uses the aggressive stop-minimizer cap a
    duplicate-heavy shard would need (joined rows drop ~40x vs df<=400;
    the cap binds at every SF, so the cap path is hash-verified).
    Winnowing guarantee: any shared exact substring of >= 15 chars
    shares a minimizer, so the blocking is LOSSLESS for long-substring
    dup detection (contrast probabilistic MinHash); dropping hot
    minimizers is the standard recall/cost dial (as in MOSS)."""
    from pylluminator_spark.operators.dedup import (
        minimizer_candidate_pairs,
        minimizer_signatures,
    )

    sigs = minimizer_signatures(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=8, w=8,
        num_partitions=32,
    )
    return minimizer_candidate_pairs(
        sigs, "doc_id", min_shared=3, max_df=60, bucket_partitions=32
    )


ORACLE_MINIMIZER_PAIRS = (
    _MINI_SQL_SIGS
    + """
, capped AS (
  SELECT * FROM sigs
  QUALIFY COUNT(*) OVER (PARTITION BY minimizer) <= 60
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM capped a
JOIN capped b ON a.minimizer = b.minimizer AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 3
"""
)


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier reliability table (operators.classifier
    calibration_bins — Guo et al. 2017; the QA step after training a
    FineWeb-Edu-style quality classifier): the logreg_predict scores
    bucketed into 10 equal-width bins vs the lang=='en' label. One keyed
    hash aggregate, <= 10 output rows; frac_pos is integer/integer,
    avg_score folds in sorted doc_id order (bit-reproducible — the
    combat_stats discipline)."""
    from pylluminator_spark.operators.classifier import (
        calibration_bins,
        logreg_predict_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    x1 = F.col("n_chars").cast("double") / F.lit(100.0)
    x2 = token_count_expr(F.col("text")).cast("double")
    x3 = (
        F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
        / F.greatest(F.length("text"), F.lit(1))
    ).cast("double")
    scored = docs.select(
        "doc_id",
        logreg_predict_expr([x1, x2, x3], [0.5, 0.05, -2.0], -3.0).alias(
            "score"
        ),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    out = calibration_bins(
        scored, "score", "label", bins=10, key_col="doc_id"
    )
    return out.select(
        "bin",
        "n",
        "n_pos",
        F.round("frac_pos", 6).alias("frac_pos"),
        F.round("avg_score", 6).alias("avg_score"),
    )


ORACLE_CALIBRATION_BINS = r"""
WITH scored AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-((((-3.0)
             + (CAST(n_chars AS DOUBLE) / 100.0) * 0.5)
             + CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) * 0.05)
             + (CAST(len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                     AS DOUBLE) / GREATEST(len(text), 1)) * (-2.0))))
           AS score,
         CAST(lang = 'en' AS INT) AS label
  FROM documents
)
SELECT GREATEST(0, LEAST(9, CAST(FLOOR(score * 10) AS INT))) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(label) AS BIGINT) AS n_pos,
       ROUND(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6) AS frac_pos,
       ROUND(list_reduce(list(score ORDER BY doc_id), (a, b) -> a + b)
             / COUNT(*), 6) AS avg_score
FROM scored
GROUP BY 1
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization (operators.impute.winsorize): clamp
    events.value into the per-event-type exact [p5, p95] band — one
    grouped exact-percentile pass broadcast back onto the stream, then a
    pure codegen least/greatest clamp (the impute scale shape: stats
    pass + map-side edit, no second shuffle). The gate hash-compares a
    1-in-17 systematic sample of the full clamped rows (clamped value
    ROUND(6): Spark exact percentile and DuckDB quantile_cont share the
    linear-interpolation definition; only the interp arithmetic can
    differ by an ulp)."""
    from pylluminator_spark.operators.impute import winsorize

    ev = _t(spark, sf_dir, "events")
    out = winsorize(
        ev, ["value"], group_cols=["event_type"], lower=0.05, upper=0.95
    )
    return out.filter(F.col("event_id") % 17 == 0).select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        "value_winsorized",
    )


ORACLE_WINSORIZE = """
WITH bands AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND(CASE WHEN e.value IS NULL THEN NULL
                  ELSE LEAST(GREATEST(e.value, b.lo), b.hi) END, 6) AS value,
       COALESCE(e.value < b.lo OR e.value > b.hi, FALSE) AS value_winsorized
FROM events e LEFT JOIN bands b ON e.event_type = b.event_type
WHERE e.event_id % 17 = 0
"""


def q_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust standardization (operators.impute
    robust_zscore): per-event-type outlier scores that survive the
    outliers themselves — two grouped exact-percentile passes broadcast
    back, final score pure codegen (the winsorize shape doubled). The
    gate hash-compares a 1-in-13 systematic sample; both engines share
    the linear-interpolation percentile definition, ROUND(6) absorbs
    the division ulp."""
    from pylluminator_spark.operators.impute import robust_zscore

    ev = _t(spark, sf_dir, "events")
    out = robust_zscore(ev, ["value"], group_cols=["event_type"])
    return out.filter(F.col("event_id") % 13 == 0).select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round("value_rz", 6).alias("value_rz"),
    )


ORACLE_ROBUST_ZSCORE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.m), 0.5) AS d
  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
)
SELECT e.event_id, e.event_type,
       ROUND(e.value, 6) AS value,
       ROUND((e.value - m.m) / (1.4826 * NULLIF(d.d, 0)), 6) AS value_rz
FROM events e
LEFT JOIN med m USING (event_type)
LEFT JOIN mad d USING (event_type)
WHERE e.event_id % 13 = 0
"""


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency feature discretization (operators.ordered
    quantile_discretize): exact NTILE(12) semantics over the global
    (l_extendedprice, l_orderkey, l_linenumber) order, derived
    arithmetically from the two-phase distributed global rank — never a
    single-partition NTILE window (the gate runs the SCALE path: range
    partition -> per-partition row_number + offset join). Per-bucket
    exact-integer aggregates (count + cent-scaled min/max/sum) pin every
    bucket boundary."""
    from pylluminator_spark.operators.ordered import quantile_discretize

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    binned = quantile_discretize(
        li, "l_extendedprice", 12, ["l_orderkey", "l_linenumber"]
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(_cents(F.col("l_extendedprice"))).alias("min_cents"),
        F.max(_cents(F.col("l_extendedprice"))).alias("max_cents"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("sum_cents"),
    )


ORACLE_QUANTILE_BINS = """
WITH binned AS (
  SELECT l_extendedprice,
         NTILE(12) OVER (
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) AS bucket
  FROM lineitem
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(MAX(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS max_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM binned GROUP BY bucket
"""


def q_combat_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K12 ComBat's DISTRIBUTED stage with an oracle (reference
    samples.py:1609-1701 wraps pycombat_norm whole; combat.py here
    re-derives Johnson et al. 2007): combat.combat_batch_stats — the
    per-(probe, batch) sufficient statistics (n, sum_z, ssq) of the
    standardized values plus per-probe pooled variance, i.e. the only
    fact-table-scale computation; everything after it is (probe x batch)-
    sized scalar arithmetic (the EB fixed point, gated by test_combat).
    Betas from the oracle-reproducible _dmp_betas twin; batch = sample
    parity, no covariates, so the broadcast-design OLS is the closed form
    the oracle rebuilds: b_j = sum(present y in batch j) * (1/N_j) with
    N_j the FULL sheet batch size, grand = sum_j (N_j/n) b_j, fitted =
    b_batch, varp = sum((y - fitted)^2)/n_sheet. Probes with ~zero pooled
    variance are excluded on both sides (the EB step divides by it)."""
    from pylluminator_spark.combat import combat_batch_stats

    betas = _dmp_betas(spark, sf_dir)
    sheet = (
        betas.select("sample")
        .distinct()
        .withColumn(
            "batch", (F.col("sample").cast("int") % 2).cast("string")
        )
    )
    stats = combat_batch_stats(betas, sheet, "batch", value_col="beta")
    return stats.filter(F.col("var_pooled") > 1e-9).select(
        "probe_id",
        "batch",
        "n",
        F.round("sum_z", 6).alias("sum_z"),
        F.round("ssq", 6).alias("ssq"),
        F.round("var_pooled", 6).alias("var_pooled"),
    )


ORACLE_COMBAT_STATS = f"""
WITH {_DMP_BETAS_SQL},
sheet AS (
  SELECT DISTINCT sample,
         CAST(CAST(sample AS INTEGER) % 2 AS VARCHAR) AS batch
  FROM b
), sizes AS (
  SELECT batch, COUNT(*) AS nb FROM sheet GROUP BY batch
), tot AS (
  SELECT COUNT(*) AS ns FROM sheet
), v AS (
  SELECT b.probe_id, b.sample, b.beta AS y, s.batch
  FROM b JOIN sheet s USING (sample)
), coefs AS (
  -- b_j = sum over PRESENT samples of (1/N_j) * y, N_j from the FULL
  -- sheet. Every float SUM below is a sample-ordered list_reduce — the
  -- bit-deterministic twin of combat.py's _det_sum fold (ADVICE r5:
  -- unordered SUMs flip ROUND(6) boundaries at sf0.01+).
  SELECT v.probe_id, v.batch,
         list_reduce(list(v.y * (1.0 / z.nb) ORDER BY v.sample),
                     (a, b) -> a + b) AS bj
  FROM v JOIN sizes z ON v.batch = z.batch
  GROUP BY v.probe_id, v.batch
), grand AS (
  SELECT c.probe_id,
         list_reduce(list(c.bj * (z.nb / (1.0 * t.ns)) ORDER BY c.batch),
                     (a, b) -> a + b) AS g
  FROM coefs c JOIN sizes z ON c.batch = z.batch CROSS JOIN tot t
  GROUP BY c.probe_id
), fit AS (
  SELECT v.probe_id, v.batch, v.sample, v.y, c.bj AS fitted
  FROM v JOIN coefs c ON v.probe_id = c.probe_id AND v.batch = c.batch
), varp AS (
  SELECT f.probe_id,
         list_reduce(list((f.y - f.fitted) * (f.y - f.fitted)
                          ORDER BY f.sample),
                     (a, b) -> a + b) / (1.0 * t.ns) AS vp
  FROM fit f CROSS JOIN tot t
  GROUP BY f.probe_id, t.ns
), z AS (
  SELECT f.probe_id, f.batch, f.sample,
         (f.y - g.g) / sqrt(vp.vp) AS z, vp.vp
  FROM fit f
  JOIN grand g USING (probe_id)
  JOIN varp vp USING (probe_id)
  WHERE vp.vp > 1e-9
)
SELECT probe_id, batch,
       COUNT(*) AS n,
       ROUND(list_reduce(list(z ORDER BY sample), (a, b) -> a + b), 6)
         AS sum_z,
       ROUND(list_reduce(list(z * z ORDER BY sample), (a, b) -> a + b), 6)
         AS ssq,
       ROUND(ANY_VALUE(vp), 6) AS var_pooled
FROM z GROUP BY probe_id, batch
"""


def q_cbs_tstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K15 CBS's split statistic with an oracle (cnv.cbs_split_tstats;
    reference cnv.py:191-209 wraps the linear_segment C library — Olshen
    et al. 2004 is the public spec): per-chromosome max-|t| over every
    ordered binary split, from an ORDERED-window prefix sum plus
    per-chromosome moment aggregates — the distributed twin of the numpy
    _cbs_t_stats the seeded permutation recursion calls per block (the
    permutation test itself stays pytest-gated). Bin values are exact
    integer-valued doubles (quantity sums mod 1000), so every window sum
    is exact and the derived t is IEEE-identical cross-engine."""
    from pylluminator_spark.cnv import cbs_split_tstats

    li = _t(spark, sf_dir, "lineitem")
    bins = li.groupBy(
        F.pmod(F.col("l_suppkey"), F.lit(8)).cast("string").alias(
            "chromosome"
        ),
        F.pmod(F.col("l_partkey"), F.lit(200)).alias("start_bin"),
    ).agg(
        F.pmod(
            F.sum(F.col("l_quantity").cast("long")), F.lit(1000)
        ).cast("double").alias("cnv")
    )
    out = cbs_split_tstats(bins)
    return out.select(
        "chromosome",
        "n_bins",
        F.col("split_k").cast("bigint").alias("split_k"),
        F.round("t_max", 6).alias("t_max"),
        F.round("mean_left", 6).alias("mean_left"),
        F.round("mean_right", 6).alias("mean_right"),
    )


ORACLE_CBS_TSTAT = """
WITH bins AS (
  SELECT CAST(l_suppkey % 8 AS VARCHAR) AS chromosome,
         l_partkey % 200 AS start_bin,
         CAST(CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) % 1000
              AS DOUBLE) AS cnv
  FROM lineitem GROUP BY 1, 2
), d AS (
  SELECT chromosome,
         ROW_NUMBER() OVER
           (PARTITION BY chromosome ORDER BY start_bin) AS k,
         SUM(cnv) OVER (PARTITION BY chromosome ORDER BY start_bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS csum,
         COUNT(*) OVER (PARTITION BY chromosome) AS n,
         SUM(cnv) OVER (PARTITION BY chromosome) AS total,
         SUM(cnv * cnv) OVER (PARTITION BY chromosome) AS ssq
  FROM bins
), scored AS (
  SELECT chromosome, n AS n_bins, k AS split_k,
         csum / k AS mean_left,
         (total - csum) / (n - k) AS mean_right,
         abs(csum / k - (total - csum) / (n - k))
           / (sqrt(ssq / n - (total / n) * (total / n))
              * sqrt(1.0 / k + 1.0 / (n - k))) AS t
  FROM d
  WHERE n >= 4 AND k < n
    AND sqrt(ssq / n - (total / n) * (total / n)) > 0
), best AS (
  SELECT *, ROW_NUMBER() OVER
    (PARTITION BY chromosome ORDER BY t DESC, split_k ASC) AS rk
  FROM scored
)
SELECT chromosome, n_bins, split_k,
       ROUND(t, 6) AS t_max,
       ROUND(mean_left, 6) AS mean_left,
       ROUND(mean_right, 6) AS mean_right
FROM best WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Round-7 additions: suffix-array machinery + exact substring dedup
# (Lee et al. 2021 ExactSubstr — the exact method repeated_spans
# approximates; operators/suffix.py)
# ---------------------------------------------------------------------------

_SUBSTR_L = 15  # duplicated-window length for the gate corpus


def q_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-duplication spans (operators.suffix
    exact_substring_spans — Lee et al. 2021 ExactSubstr, keep-first
    semantics): prefix-doubling rank tables decide length-15 window
    equality by integer rank pairs (zero hash-collision risk), flagged
    windows merge into maximal per-document islands. The oracle groups
    LITERAL substrings — a formulation sharing no code with the
    doubling machinery — so a hash match verifies the whole suffix
    stack. Doc subset (doc_id % 5 == 0) keeps the char-level row count
    gate-sized at any SF."""
    from pylluminator_spark.operators.suffix import exact_substring_spans

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    ).select("doc_id", "text")
    out = exact_substring_spans(docs, _SUBSTR_L, keep_first=True)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_windows").cast("long").alias("n_windows"),
    )


ORACLE_EXACT_SUBSTR_SPANS = f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
pos AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         substr(text, CAST(i AS INT), {_SUBSTR_L}) AS gram
  FROM docs, LATERAL (
    SELECT UNNEST(range(1, GREATEST(LENGTH(text) - {_SUBSTR_L} + 2, 1))) AS i
  )
),
grp AS (
  SELECT doc_id, i,
         COUNT(*) OVER (PARTITION BY gram) AS c,
         FIRST_VALUE(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, i) AS fd,
         FIRST_VALUE(i) OVER (PARTITION BY gram ORDER BY doc_id, i) AS fi
  FROM pos
),
flagged AS (
  SELECT doc_id, i FROM grp
  WHERE c >= 2 AND NOT (doc_id = fd AND i = fi)
),
brk AS (
  SELECT doc_id, i,
         CASE WHEN i > COALESCE(MAX(i + {_SUBSTR_L}) OVER (
                 PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS b
  FROM flagged
),
isl AS (
  SELECT doc_id, i,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM brk
)
SELECT doc_id,
       MIN(i) AS span_start,
       MAX(i) + {_SUBSTR_L} AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, island
"""


def q_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr EXCISION (operators.suffix exact_substring_dedup):
    rebuild each document with its duplicated spans cut out — a sorted
    expression fold over the doc's own spans (no UDF). The oracle
    rebuilds via the COMPLEMENT: gap intervals from a LAG window over
    the literal-substring spans, concatenated with string_agg — a
    different construction of the same text, so the hash proves the
    excision itself. Same doc subset + window length as
    exact_substr_spans."""
    from pylluminator_spark.operators.suffix import exact_substring_dedup

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    ).select("doc_id", "text")
    out = exact_substring_dedup(docs, _SUBSTR_L)
    return out.select(
        "doc_id",
        F.length("deduped").cast("long").alias("kept_chars"),
        "deduped",
    )


ORACLE_EXACT_SUBSTR_DEDUP = f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
pos AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         substr(text, CAST(i AS INT), {_SUBSTR_L}) AS gram
  FROM docs, LATERAL (
    SELECT UNNEST(range(1, GREATEST(LENGTH(text) - {_SUBSTR_L} + 2, 1))) AS i
  )
),
grp AS (
  SELECT doc_id, i,
         COUNT(*) OVER (PARTITION BY gram) AS c,
         FIRST_VALUE(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, i) AS fd,
         FIRST_VALUE(i) OVER (PARTITION BY gram ORDER BY doc_id, i) AS fi
  FROM pos
),
flagged AS (
  SELECT doc_id, i FROM grp
  WHERE c >= 2 AND NOT (doc_id = fd AND i = fi)
),
brk AS (
  SELECT doc_id, i,
         CASE WHEN i > COALESCE(MAX(i + {_SUBSTR_L}) OVER (
                 PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS b
  FROM flagged
),
isl AS (
  SELECT doc_id, i,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM brk
),
spans AS (
  SELECT doc_id, MIN(i) AS s, MAX(i) + {_SUBSTR_L} AS e
  FROM isl GROUP BY doc_id, island
),
gaps AS (
  SELECT doc_id,
         COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS gs,
         CAST(s AS BIGINT) AS ge
  FROM spans
  UNION ALL
  SELECT doc_id, MAX(e) AS gs, CAST(NULL AS BIGINT) AS ge
  FROM spans GROUP BY doc_id
),
kept AS (
  SELECT g.doc_id,
         string_agg(
           substr(d.text, CAST(g.gs AS INT),
                  CAST(COALESCE(g.ge, LENGTH(d.text) + 1) - g.gs AS INT)),
           '' ORDER BY g.gs) AS deduped
  FROM gaps g JOIN docs d USING (doc_id) GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(LENGTH(COALESCE(k.deduped, d.text)) AS BIGINT) AS kept_chars,
       COALESCE(k.deduped, d.text) AS deduped
FROM docs d LEFT JOIN kept k USING (doc_id)
"""


def q_lineage_stage_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed stage manifests (plans.manifest
    PipelineManifest — the reference's pickle save/load scaled to
    pipelines): a 2-stage pipeline (per-lang doc stats -> shares) runs
    TWICE against the same manifest root; the second pass must resolve
    both stages from their content-keyed parquet without recompute.
    The returned `cache_hit` column is 1 only if it did — so the gate
    hash verifies the caching behavior itself along with the data,
    which round-trips parquet (stage outputs are always read back from
    the store)."""
    import tempfile

    from pylluminator_spark.plans.manifest import (
        PipelineManifest,
        source_fingerprint,
    )

    def stats_fn(spark, docs):
        return docs.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )

    def share_fn(spark, stats):
        total = stats.agg(F.sum("n").alias("t"))
        return stats.crossJoin(F.broadcast(total)).select(
            "lang", "n", "chars",
            F.round(F.col("n") / F.col("t"), 6).alias("share"),
        )

    # the root is keyed by the SOURCE FINGERPRINT (size + mtime_ns +
    # inode listing), not just the path: regenerated test data at the
    # same path gets a fresh store, so the gate can never replay stale
    # stage parquet from a previous run against new data
    src_path = f"{sf_dir}/documents.parquet"
    root = (
        tempfile.gettempdir()
        + "/pylluminator_manifest_gate_"
        + source_fingerprint(src_path)
    )
    m = PipelineManifest(spark, root)
    docs = m.source("docs", src_path)
    s1 = m.stage("lang_stats", stats_fn, [docs], {})
    m.stage("lang_share", share_fn, [s1], {})
    # second pass: both stages must come back from the store
    s1b = m.stage("lang_stats", stats_fn, [docs], {})
    s2b = m.stage("lang_share", share_fn, [s1b], {})
    hit = int(s1b.from_cache and s2b.from_cache)
    return s2b.df.select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.col("chars").cast("long").alias("chars"),
        "share",
        F.lit(hit).cast("long").alias("cache_hit"),
    )


ORACLE_LINEAGE_STAGE_CACHE = """
WITH stats AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY lang
)
SELECT lang, n, chars,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share,
       CAST(1 AS BIGINT) AS cache_hit
FROM stats
"""


def q_suffix_array_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document suffix array (operators.suffix suffix_array): the
    1-based lexicographic rank of every suffix, built by prefix doubling
    (global dense ranks via the two-phase with_global_rank — each round
    is joins + a distinct + a rank, no single-partition sort of the
    data). The oracle is DuckDB's own string sort of the literal
    suffixes (binary collation == code-point order on this ASCII
    corpus) — zero shared code with the doubling path. Doc subset keeps
    the suffix universe gate-sized."""
    from pylluminator_spark.operators.suffix import suffix_array

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 50 == 0
    ).select("doc_id", "text")
    out = suffix_array(docs)
    return out.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("sa_rank").cast("long").alias("sa_rank"),
    )


ORACLE_SUFFIX_ARRAY = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
pos AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, substr(text, CAST(i AS INT)) AS suf
  FROM docs, LATERAL (SELECT UNNEST(range(1, LENGTH(text) + 1)) AS i)
)
SELECT doc_id, pos,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY suf) AS BIGINT)
         AS sa_rank
FROM pos
"""


_LID_N, _LID_B, _LID_ALPHA = 3, 256, 0.5


def q_langid_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-n-gram language ID (operators.langid — the CCNet pipeline's
    fastText-LID stage, Wenzek et al. 2020, as closed-form multinomial
    NB over hashed grams; completes the engine's CCNet trio next to LM
    perplexity and dedup): fit on the labeled documents table, classify
    the same documents, emit (doc_id, pred_lang, score). Arith-hash +
    sorted-fold twin path for the gate (the DSIR pattern); the xxhash64
    production path is python-parity-tested in test_langid. Fused
    fit+classify (r9): ONE gram pass feeds both the model rollup and the
    per-doc features."""
    from pylluminator_spark.operators.langid import (
        fit_classify_langid,
        langid_predict,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = langid_predict(
        fit_classify_langid(
            docs, n=_LID_N, buckets=_LID_B, alpha=_LID_ALPHA,
            arith=True, deterministic=True,
        )
    )
    return out.select(
        "doc_id", "pred_lang", F.round("score", 6).alias("score")
    )


def q_langid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full per-(doc, language) NB score table behind `langid_predict`
    (operators.langid.langid_scores) — n_langs rows per document, so the
    gate hashes every language's score, not just the argmax. Fused
    fit+classify (r9): ONE gram pass feeds both the model rollup and
    the per-doc features."""
    from pylluminator_spark.operators.langid import fit_classify_langid

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = fit_classify_langid(
        docs, n=_LID_N, buckets=_LID_B, alpha=_LID_ALPHA,
        arith=True, deterministic=True,
    )
    return out.select(
        "doc_id",
        F.col("lang").alias("cand_lang"),
        F.round("score", 6).alias("score"),
    )


ORACLE_LANGID_PREDICT = f"""
WITH docs AS (SELECT doc_id, lower(text) AS t, lang FROM documents),
grams AS (
  SELECT doc_id, lang,
         substr(t, CAST(i AS INT), {_LID_N}) AS gram
  FROM docs, LATERAL (
    SELECT UNNEST(range(1, GREATEST(LENGTH(t) - {_LID_N} + 2, 1))) AS i
  )
),
bucketed AS (
  SELECT doc_id, lang,
         list_reduce(
           list_prepend(0, list_transform(
             generate_series(1, len(gram)),
             i -> ascii(substr(gram, i, 1)))),
           (a, c) -> (a * 31 + c) % 1000003) % {_LID_B} AS bucket
  FROM grams
),
lb AS (
  SELECT lang, bucket, COUNT(*) AS c FROM bucketed GROUP BY lang, bucket
),
tot AS (SELECT lang, SUM(c) AS tot FROM lb GROUP BY lang),
nd AS (SELECT lang, COUNT(*) AS nd FROM docs GROUP BY lang),
ntot AS (SELECT SUM(nd) AS ntot FROM nd),
weights AS (
  SELECT lb.bucket, lb.lang,
         ln(lb.c + {_LID_ALPHA}) - ln(t.tot + {_LID_ALPHA * _LID_B}) AS w
  FROM lb JOIN tot t ON lb.lang = t.lang
),
langs AS (
  SELECT n.lang,
         ln(CAST(n.nd AS DOUBLE)) - ln(CAST(x.ntot AS DOUBLE)) AS log_prior,
         ln({_LID_ALPHA}) - ln(t.tot + {_LID_ALPHA * _LID_B}) AS w_default
  FROM nd n CROSS JOIN ntot x JOIN tot t ON n.lang = t.lang
),
doc_counts AS (
  SELECT doc_id, bucket, COUNT(*) AS cnt FROM bucketed GROUP BY doc_id, bucket
),
fanned AS (
  SELECT d.doc_id, l.lang, l.log_prior, d.bucket, d.cnt,
         d.cnt * COALESCE(w.w, l.w_default) AS contrib
  FROM doc_counts d
  CROSS JOIN langs l
  LEFT JOIN weights w ON w.bucket = d.bucket AND w.lang = l.lang
),
scores AS (
  SELECT doc_id, lang,
         ANY_VALUE(log_prior)
           + list_reduce(list(contrib ORDER BY bucket), (a, b) -> a + b)
             / CAST(SUM(cnt) AS DOUBLE) AS score
  FROM fanned GROUP BY doc_id, lang
),
ranked AS (
  SELECT doc_id, lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang DESC) AS rn
  FROM scores
)
SELECT doc_id, lang AS pred_lang, ROUND(score, 6) AS score
FROM ranked WHERE rn = 1
"""

# scores CTE chain shared with the predict twin, minus the argmax
_LANGID_SCORES_BODY = ORACLE_LANGID_PREDICT.split(",\nranked AS")[0]
ORACLE_LANGID_SCORES = (
    _LANGID_SCORES_BODY
    + "\nSELECT doc_id, lang AS cand_lang, ROUND(score, 6) AS score"
    + "\nFROM scores"
)


def _ccnet_paragraphed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with INJECTED paragraph structure (the corpus has no
    paragraph breaks — same trick as q_dedup_paragraphs): a 1-token
    'Header' paragraph (exercises bucket='short') plus three text
    slices."""
    docs = _t(spark, sf_dir, "documents")
    ptext = F.concat_ws(
        "\n\n",
        F.lit("Header"),
        F.substring("text", 1, 80),
        F.substring("text", 81, 80),
        F.substring("text", 161, 100000),
    )
    return docs.select("doc_id", "lang", ptext.alias("text"))


def q_paragraph_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph perplexity bucketing (operators.ccnet
    .paragraph_lm_buckets — Wenzek et al. 2020): every paragraph scored
    under a bigram stupid-backoff LM fit on the ENGLISH documents (the
    reference-corpus path — perplexity against curated text, not
    self-fit), then head/middle/tail by GLOBAL perplexity rank terciles
    (bucketized two-phase rank, integer rank arithmetic — no float
    percentile interpolation). min_bigram_count=2 exercises the
    count-prune/backoff path; the 1-token 'Header' paragraph exercises
    bucket='short'. The contribution fold is sorted-(u, w) so avg_nll is
    bit-identical cross-engine before the ROUND(6) gate."""
    from pylluminator_spark.operators.ccnet import paragraph_lm_buckets

    docs = _ccnet_paragraphed(spark, sf_dir)
    ref = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    out = paragraph_lm_buckets(
        docs.select("doc_id", "text"), reference=ref, min_bigram_count=2
    )
    return out.select(
        "doc_id",
        F.col("para_idx").cast("long").alias("para_idx"),
        "para",
        "n_bigrams",
        F.round("avg_nll", 6).alias("avg_nll"),
        "bucket",
    )


# shared CTE chain: inject paragraphs -> split -> tokenize -> bigrams ->
# reference (en) model -> stupid-backoff score -> global rank terciles
_CCNET_ORACLE_BODY = r"""
WITH base AS (
  SELECT doc_id, lang,
         'Header' || chr(10) || chr(10)
           || substr(text, 1, 80) || chr(10) || chr(10)
           || substr(text, 81, 80) || chr(10) || chr(10)
           || substr(text, 161, 100000) AS t
  FROM documents
), split AS (
  SELECT doc_id, lang, string_split_regex(t, '\n{2,}') AS lst FROM base
), paras AS (
  SELECT doc_id, lang, i AS para_idx, trim(lst[i + 1]) AS para
  FROM split, LATERAL (SELECT UNNEST(generate_series(0, len(lst) - 1)) AS i) g
  WHERE trim(lst[i + 1]) <> ''
), toks AS (
  SELECT doc_id, para_idx, lang,
         list_filter(regexp_split_to_array(lower(para), '\s+'),
                     x -> x != '') AS tk
  FROM paras
), big AS (
  SELECT doc_id, para_idx, lang, tk[i] AS u, tk[i + 1] AS w
  FROM toks, UNNEST(range(1, len(tk))) AS r(i)
  WHERE len(tk) >= 2
), doc_big AS (
  SELECT doc_id, para_idx, u, w, COUNT(*) AS dcnt
  FROM big GROUP BY doc_id, para_idx, u, w
), model AS (
  SELECT u, w, COUNT(*) AS cuw FROM big WHERE lang = 'en'
  GROUP BY u, w HAVING COUNT(*) >= 2
), u_tot AS (
  SELECT u, COUNT(*) AS cu FROM big WHERE lang = 'en' GROUP BY u
), uni AS (
  SELECT w, COUNT(*) AS cw FROM big WHERE lang = 'en' GROUP BY w
), corpus AS (
  SELECT SUM(cw) AS t_total, COUNT(*) AS v_size FROM uni
), contribs AS (
  SELECT d.doc_id, d.para_idx, d.u, d.w, d.dcnt,
         d.dcnt * ln(CASE WHEN m.cuw IS NOT NULL THEN m.cuw / ut.cu
                     ELSE 0.4 * ((COALESCE(un.cw, 0) + 1.0)
                                 / (c.t_total + 1.0 * (c.v_size + 1)))
                     END) AS contrib
  FROM doc_big d
  LEFT JOIN model m ON d.u = m.u AND d.w = m.w
  LEFT JOIN u_tot ut ON d.u = ut.u
  LEFT JOIN uni un ON d.w = un.w
  CROSS JOIN corpus c
), scored AS (
  SELECT doc_id, para_idx, CAST(SUM(dcnt) AS BIGINT) AS n_bigrams,
         -list_reduce(list(contrib ORDER BY u, w), (a, b) -> a + b)
           / SUM(dcnt) AS avg_nll
  FROM contribs GROUP BY doc_id, para_idx
), nrow AS (SELECT COUNT(*) AS n FROM scored),
bucketed AS (
  SELECT doc_id, para_idx, n_bigrams, avg_nll,
         ROW_NUMBER() OVER (ORDER BY avg_nll, doc_id, para_idx) AS rnk
  FROM scored
)
"""

ORACLE_PARAGRAPH_LM_BUCKETS = _CCNET_ORACLE_BODY + r"""
SELECT p.doc_id, CAST(p.para_idx AS BIGINT) AS para_idx, p.para,
       b.n_bigrams, ROUND(b.avg_nll, 6) AS avg_nll,
       CASE WHEN b.rnk IS NULL THEN 'short'
            WHEN b.rnk <= FLOOR(n.n * 0.3333333333333333) THEN 'head'
            WHEN b.rnk <= FLOOR(n.n * 0.6666666666666666) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM paras p
LEFT JOIN bucketed b ON p.doc_id = b.doc_id AND p.para_idx = b.para_idx
CROSS JOIN nrow n
"""


def q_ccnet_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head+middle cut with reassembly (operators.ccnet
    .ccnet_paragraph_filter): drop every 'tail'-bucket paragraph (worst
    perplexity tercile under the English-reference bigram LM), keep
    'short' paragraphs, and rebuild each document from its survivors —
    one doc-keyed aggregation, same contract as dedup_paragraphs (every
    input document survives). Gate hash-compares the FULL reassembled
    documents plus kept/dropped counts."""
    from pylluminator_spark.operators.ccnet import ccnet_paragraph_filter

    docs = _ccnet_paragraphed(spark, sf_dir)
    ref = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    out = ccnet_paragraph_filter(
        docs.select("doc_id", "text"), reference=ref, min_bigram_count=2
    )
    return out.select(
        "doc_id", "clean_text", "n_paras_kept", "n_paras_dropped"
    )


ORACLE_CCNET_FILTER = _CCNET_ORACLE_BODY + r"""
, kept AS (
  SELECT p.doc_id, p.para_idx, p.para,
         (b.rnk IS NULL
          OR b.rnk <= FLOOR(n.n * 0.6666666666666666)) AS keep_it
  FROM paras p
  LEFT JOIN bucketed b ON p.doc_id = b.doc_id AND p.para_idx = b.para_idx
  CROSS JOIN nrow n
), rebuilt AS (
  SELECT doc_id,
         COALESCE(string_agg(para, chr(10) || chr(10) ORDER BY para_idx)
                    FILTER (WHERE keep_it), '') AS clean_text,
         COUNT(*) FILTER (WHERE keep_it) AS n_paras_kept,
         COUNT(*) FILTER (WHERE NOT keep_it) AS n_paras_dropped
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_paras_kept, 0) AS BIGINT) AS n_paras_kept,
       CAST(COALESCE(r.n_paras_dropped, 0) AS BIGINT) AS n_paras_dropped
FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
"""


def _dot64(a: str, b: str) -> str:
    """Unrolled left-associative float64 dot product over the 64-dim
    embedding — bit-identical to the Spark fixed-order fold
    (dot_double_expr), same discipline as _KMEANS_DIST_SQL."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )


def _dist64(a: str, b: str) -> str:
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, 65)
    )


def _cos64(a: str, b: str) -> str:
    return (
        f"({_dot64(a, b)}) / (sqrt({_dot64(a, a)}) * sqrt({_dot64(b, b)}))"
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (operators.mining
    .hard_negative_mining — the DPR/ANCE sampling step): per query, the
    top-5 most cosine-similar corpus vectors with a DIFFERENT label,
    found through the IVF coarse quantizer (6 fixed cells, corpus in its
    1 nearest cell, queries probe their 2 nearest — each query touches
    ~1/3 of the corpus, never all of it). Cell assignment orders raw
    fixed-order-float64 squared distances (bit-identical cross-engine,
    the kmeans_assign precedent); only the displayed similarity is
    rounded."""
    from pylluminator_spark.operators.mining import hard_negative_mining

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").alias("cvec"),
    )
    queries_df = emb.filter(
        (F.col("vec_id") >= 6) & (F.col("vec_id") < 26)
    ).select(F.col("vec_id").alias("query_id"), "embedding", "label")
    out = hard_negative_mining(
        emb, queries_df, k=5, centroids=cents, n_probe=2
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("similarity", 6).alias("similarity"),
        F.col("rank").cast("long").alias("rank"),
    )


ORACLE_HARD_NEGATIVES = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 6
), qd AS (
  SELECT e.vec_id AS query_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_dist64("e.embedding", "c.cv")} ASC, c.cid ASC
         ) AS rn
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id >= 6 AND e.vec_id < 26
), qcells AS (
  SELECT query_id, cid FROM qd WHERE rn <= 2
), cd AS (
  SELECT e.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_dist64("e.embedding", "c.cv")} ASC, c.cid ASC
         ) AS rn
  FROM embeddings e CROSS JOIN cents c
), ccells AS (
  SELECT vec_id, cid FROM cd WHERE rn = 1
), pairs AS (
  SELECT q.vec_id AS query_id, t.vec_id,
         {_cos64("q.embedding", "t.embedding")} AS sim
  FROM embeddings q
  JOIN qcells qc ON qc.query_id = q.vec_id
  JOIN ccells cc ON cc.cid = qc.cid
  JOIN embeddings t ON t.vec_id = cc.vec_id
  WHERE t.vec_id != q.vec_id AND t.label != q.label
), ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id ASC) AS rank
  FROM pairs
)
SELECT query_id, vec_id, ROUND(sim, 6) AS similarity,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi one-step domain reweighting (operators.doremi
    .doremi_domain_weights — Xie et al. 2023): per-source excess loss =
    max(0, NLL under the English-reference bigram LM minus NLL under the
    corpus's own self-fit LM), weights = smoothed exponentiated-gradient
    step from the token-share baseline. Two corpus-sized LM scorings
    (hash joins), then one <= n_domains aggregation + a 1-row
    normalizer. Every float folds in a sorted order (per-doc (u, w),
    per-domain doc_id, normalizer domain) — bit-identical cross-engine
    before the ROUND gate."""
    from pylluminator_spark.operators.doremi import doremi_domain_weights

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    out = doremi_domain_weights(
        docs.select("doc_id", "source", "text"),
        ref,
        min_bigram_count=2,
        eta=1.0,
        smoothing=0.1,
        # gate twin: sorted-doc-order fold, bit-identical to the
        # oracle's list_reduce(... ORDER BY doc_id). Production default
        # is the bounded plain-SUM path (see doremi.py _dom_fold).
        deterministic=True,
        # the reference is the corpus's own English slice: carve its
        # counts out of the checkpointed corpus table (integer-exact)
        # instead of re-tokenizing the English half
        reference_within=True,
    )
    return out.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_bigrams",
        F.round("nll_ref", 6).alias("nll_ref"),
        F.round("nll_self", 6).alias("nll_self"),
        F.round("excess", 6).alias("excess"),
        F.round("weight", 8).alias("weight"),
    )


ORACLE_DOREMI_WEIGHTS = r"""
WITH toks AS (
  SELECT doc_id, source, lang,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), big AS (
  SELECT doc_id, source, lang, t[i] AS u, t[i + 1] AS w
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
), doc_big AS (
  SELECT doc_id, source, u, w, COUNT(*) AS dcnt
  FROM big GROUP BY doc_id, source, u, w
), rmodel AS (
  SELECT u, w, COUNT(*) AS cuw FROM big WHERE lang = 'en'
  GROUP BY u, w HAVING COUNT(*) >= 2
), rut AS (
  SELECT u, COUNT(*) AS cu FROM big WHERE lang = 'en' GROUP BY u
), runi AS (
  SELECT w, COUNT(*) AS cw FROM big WHERE lang = 'en' GROUP BY w
), rcorp AS (
  SELECT SUM(cw) AS t_total, COUNT(*) AS v_size FROM runi
), smodel AS (
  SELECT u, w, SUM(dcnt) AS cuw FROM doc_big
  GROUP BY u, w HAVING SUM(dcnt) >= 2
), sut AS (
  SELECT u, SUM(dcnt) AS cu FROM doc_big GROUP BY u
), suni AS (
  SELECT w, SUM(dcnt) AS cw FROM doc_big GROUP BY w
), scorp AS (
  SELECT SUM(cw) AS t_total, COUNT(*) AS v_size FROM suni
), rcontrib AS (
  SELECT d.doc_id, d.source, d.u, d.w, d.dcnt,
         d.dcnt * ln(CASE WHEN m.cuw IS NOT NULL THEN m.cuw / ut.cu
                     ELSE 0.4 * ((COALESCE(un.cw, 0) + 1.0)
                                 / (c.t_total + 1.0 * (c.v_size + 1)))
                     END) AS contrib
  FROM doc_big d
  LEFT JOIN rmodel m ON d.u = m.u AND d.w = m.w
  LEFT JOIN rut ut ON d.u = ut.u
  LEFT JOIN runi un ON d.w = un.w
  CROSS JOIN rcorp c
), rdoc AS (
  SELECT doc_id, source, SUM(dcnt) AS n,
         -list_reduce(list(contrib ORDER BY u, w), (a, b) -> a + b)
           / SUM(dcnt) AS nll
  FROM rcontrib GROUP BY doc_id, source
), scontrib AS (
  SELECT d.doc_id, d.u, d.w, d.dcnt,
         d.dcnt * ln(CASE WHEN m.cuw IS NOT NULL THEN m.cuw / ut.cu
                     ELSE 0.4 * ((COALESCE(un.cw, 0) + 1.0)
                                 / (c.t_total + 1.0 * (c.v_size + 1)))
                     END) AS contrib
  FROM doc_big d
  LEFT JOIN smodel m ON d.u = m.u AND d.w = m.w
  LEFT JOIN sut ut ON d.u = ut.u
  LEFT JOIN suni un ON d.w = un.w
  CROSS JOIN scorp c
), sdoc AS (
  SELECT doc_id, SUM(dcnt) AS n,
         -list_reduce(list(contrib ORDER BY u, w), (a, b) -> a + b)
           / SUM(dcnt) AS nll
  FROM scontrib GROUP BY doc_id
), dom AS (
  SELECT r.source,
         COUNT(*) AS n_docs,
         CAST(SUM(r.n) AS BIGINT) AS n_bigrams,
         list_reduce(list(r.nll * r.n ORDER BY r.doc_id), (a, b) -> a + b)
           / SUM(r.n) AS nll_ref,
         list_reduce(list(s.nll * s.n ORDER BY r.doc_id), (a, b) -> a + b)
           / SUM(r.n) AS nll_self
  FROM rdoc r JOIN sdoc s ON r.doc_id = s.doc_id
  GROUP BY r.source
), wr AS (
  SELECT source, n_docs, n_bigrams, nll_ref, nll_self,
         GREATEST(0.0, nll_ref - nll_self) AS excess,
         CAST(n_bigrams AS DOUBLE)
           * exp(1.0 * GREATEST(0.0, nll_ref - nll_self)) AS wraw
  FROM dom
), tot AS (
  SELECT list_reduce(list(wraw ORDER BY source), (a, b) -> a + b) AS wsum,
         COUNT(*) AS ndom
  FROM wr
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_bigrams,
       ROUND(nll_ref, 6) AS nll_ref, ROUND(nll_self, 6) AS nll_self,
       ROUND(excess, 6) AS excess,
       ROUND(0.9 * wraw / wsum + 0.1 / ndom, 8) AS weight
FROM wr CROSS JOIN tot
"""


def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination (operators.suffix
    cross_substring_spans — Lee et al. 2021 ExactSubstr across corpora;
    completes the doc-level `decontaminate` and pair-level
    `decontaminate_fuzzy`): maximal spans of TRAIN documents
    (doc_id % 10 == 1) whose every length-15 window occurs literally in
    the BENCH corpus (doc_id % 10 == 0). Window equality decided by the
    full-window rank machinery over the tagged union of both corpora
    (global rank universe, zero hash-collision risk); the oracle groups
    literal substrings — zero shared code with the rank path."""
    from pylluminator_spark.operators.suffix import cross_substring_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 10 == 1)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    out = cross_substring_spans(train, bench, _SUBSTR_L)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_windows").cast("long").alias("n_windows"),
    )


ORACLE_DECONTAMINATE_SPANS = f"""
WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 1),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
bwin AS (
  SELECT DISTINCT substr(text, CAST(i AS INT), {_SUBSTR_L}) AS gram
  FROM bench, LATERAL (
    SELECT UNNEST(range(1, GREATEST(LENGTH(text) - {_SUBSTR_L} + 2, 1))) AS i
  )
),
twin AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         substr(text, CAST(i AS INT), {_SUBSTR_L}) AS gram
  FROM train, LATERAL (
    SELECT UNNEST(range(1, GREATEST(LENGTH(text) - {_SUBSTR_L} + 2, 1))) AS i
  )
),
flagged AS (
  SELECT t.doc_id, t.i FROM twin t SEMI JOIN bwin b ON t.gram = b.gram
),
brk AS (
  SELECT doc_id, i,
         CASE WHEN i > COALESCE(MAX(i + {_SUBSTR_L}) OVER (
                 PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS b
  FROM flagged
),
isl AS (
  SELECT doc_id, i,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM brk
)
SELECT doc_id,
       MIN(i) AS span_start,
       MAX(i) + {_SUBSTR_L} AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, island
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed manifest-backed curation pipeline
    (operators.curate.curate_pipeline — the public corpus analogue of
    MethylSession.run_pipeline, new r10): exact dedup -> paragraph
    dedup -> HTML strip + token gate -> sequence packing, each a
    content-addressed parquet stage. The corpus gets deterministic
    structure injected (a per-source HEADER paragraph, a global FOOTER
    with an HTML entity, exact duplicate rows for doc_id % 7 == 0) so
    every stage does real work; langid is skipped here (it is gated
    separately as langid_predict) to keep the oracle one SQL chain.
    A per-(SF, pid) root, DELETED at call start — every call recomputes
    (the gate times/hashes the compute path, never a warm cache) while
    repeated bench/emu invocations in one process keep at most ONE
    materialization on disk instead of leaking a stage set per call.
    Delete-at-start, not at end: the returned plan lazily reads the
    stage parquet. The pid suffix de-races concurrent bench/gate
    processes at the same SF (a fixed shared root would let one process
    delete stage files the other's returned lazy plan still scans);
    stale roots left by DEAD pids are swept here best-effort."""
    import glob
    import os
    import shutil
    import tempfile

    from pylluminator_spark.operators.curate import curate_pipeline

    prefix = os.path.join(
        tempfile.gettempdir(),
        "curate_gate_" + sf_dir.strip("/").replace("/", "_") + "_pid",
    )
    for stale in glob.glob(prefix + "*"):
        try:
            pid = int(stale.rsplit("pid", 1)[-1])
            os.kill(pid, 0)  # raises if the owning process is gone
        except (ValueError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave its root alone
    root = prefix + str(os.getpid())
    shutil.rmtree(root, ignore_errors=True)

    docs = _t(spark, sf_dir, "documents")
    dup = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    src = docs.unionByName(dup)
    ptext = F.concat_ws(
        "\n\n",
        F.concat(F.lit("<p>HEADER "), F.col("source"), F.lit("</p>")),
        F.substring("text", 1, 60),
        F.lit("FOOTER common boilerplate &amp; notices"),
        F.substring("text", 61, 100000),
    )
    res = curate_pipeline(
        spark,
        root,
        src.select("doc_id", ptext.alias("text")),
        source_fingerprint="curate-gate",
        keep_lang=None,
        min_tokens=5,
        max_tokens=100_000,
        pack_budget=400,
    )
    return res.documents.join(
        res.sequences.select("doc_id", "seq_id"), "doc_id"
    ).select("doc_id", "text", F.col("n_tokens").cast("long"), "seq_id")


ORACLE_CURATE_CORPUS = rf"""
WITH src AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, source, text FROM documents WHERE doc_id % 7 = 0
), base AS (
  SELECT doc_id,
         '<p>HEADER ' || source || '</p>' || chr(10) || chr(10)
           || substr(text, 1, 60) || chr(10) || chr(10)
           || 'FOOTER common boilerplate &amp; notices' || chr(10) || chr(10)
           || substr(text, 61, 100000) AS t
  FROM src
), norm AS (
  SELECT doc_id, t,
         array_to_string(list_filter(regexp_split_to_array(lower(t), '\s+'),
                                     x -> x != ''), ' ') AS nrm
  FROM base
), keepid AS (
  SELECT nrm, MIN(doc_id) AS doc_id FROM norm GROUP BY nrm
), ded AS (
  SELECT n.doc_id, n.t
  FROM norm n JOIN keepid k ON n.doc_id = k.doc_id AND n.nrm = k.nrm
), split AS (
  SELECT doc_id, string_split_regex(t, '\n{{2,}}') AS lst FROM ded
), paras AS (
  SELECT doc_id, i AS para_idx, trim(lst[i + 1]) AS para
  FROM split, LATERAL (SELECT UNNEST(generate_series(0, len(lst) - 1)) AS i) g
  WHERE trim(lst[i + 1]) <> ''
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY para ORDER BY doc_id, para_idx) AS rn
  FROM paras
), rebuilt AS (
  SELECT doc_id,
         COALESCE(string_agg(para, chr(10) || chr(10) ORDER BY para_idx)
                    FILTER (WHERE rn = 1), '') AS ct
  FROM ranked GROUP BY doc_id
), rejoined AS (
  SELECT d.doc_id, COALESCE(r.ct, '') AS ct
  FROM ded d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
), stripped AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(ct,
               '{_HTML_BLOCK}', ' ', 'g'),
               '{_HTML_COMMENT}', ' ', 'g'),
               '{_HTML_TAG}', ' ', 'g'),
             '&nbsp;', ' '), '&quot;', '"'), '&apos;', ''''),
             '&#39;', ''''), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
           '\s+', ' ', 'g')) AS text
  FROM rejoined
), gated AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''))
           AS n_tokens
  FROM stripped
), kept AS (
  SELECT * FROM gated WHERE n_tokens BETWEEN 5 AND 100000
), cum AS (
  SELECT doc_id, text, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM kept
)
SELECT doc_id, text, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((c - n_tokens) // 400 AS BIGINT) AS seq_id
FROM cum
"""


def q_dedup_exact_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators.dedup.dedup_exact_against,
    new r10 — the daily-crawl-increment path): batch rows surviving
    within-batch normalized dedup whose content is absent from the
    existing corpus. Batch fingerprints BROADCAST; the corpus is
    scanned once map-side, never shuffled. The corpus splits into an
    existing 2/3 and a batch 1/3, plus planted copies of existing docs
    (must drop against the corpus) and doubled batch docs (must drop
    within the batch, lowest id surviving)."""
    from pylluminator_spark.operators.dedup import dedup_exact_against

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    existing = docs.filter(d % 3 != 0).select("doc_id", "text")
    b1 = docs.filter(d % 3 == 0).select(
        (d + 20000).alias("doc_id"), "text"
    )
    b2 = docs.filter(d % 11 == 1).select(
        (d + 40000).alias("doc_id"), "text"
    )
    b3 = docs.filter((d % 3 == 0) & (d % 13 == 2)).select(
        (d + 60000).alias("doc_id"), "text"
    )
    batch = b1.unionByName(b2).unionByName(b3)
    out = dedup_exact_against(batch, existing)
    return out.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


ORACLE_DEDUP_EXACT_INC = r"""
WITH existing AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
), batch AS (
  SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 40000, text FROM documents WHERE doc_id % 11 = 1
  UNION ALL
  SELECT doc_id + 60000, text FROM documents
  WHERE doc_id % 3 = 0 AND doc_id % 13 = 2
), bnorm AS (
  SELECT doc_id, text,
         array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> x != ''), ' ') AS nrm
  FROM batch
), keep AS (
  SELECT nrm, MIN(doc_id) AS doc_id FROM bnorm GROUP BY nrm
), enorm AS (
  SELECT DISTINCT
         array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> x != ''), ' ') AS nrm
  FROM existing
)
SELECT b.doc_id, CAST(LENGTH(b.text) AS BIGINT) AS n_chars
FROM bnorm b
JOIN keep k ON b.doc_id = k.doc_id AND b.nrm = k.nrm
ANTI JOIN enorm e ON b.nrm = e.nrm
"""


def q_dedup_paragraphs_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental paragraph dedup
    (operators.cleanup.dedup_paragraphs_against, new r10): batch
    paragraphs keep their batch-first occurrence UNLESS the paragraph
    already occurs in the existing corpus (the corpus keeps its copy).
    Corpus split in half; both halves carry the injected per-source
    HEADER and the global FOOTER, so every batch HEADER/FOOTER is
    suppressed by the corpus while unique bodies survive. Gate
    hash-compares the FULL reassembled documents."""
    from pylluminator_spark.operators.cleanup import (
        dedup_paragraphs_against,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ptext = F.concat_ws(
        "\n\n",
        F.concat(F.lit("HEADER "), F.col("source")),
        F.substring("text", 1, 60),
        F.lit("FOOTER common to all documents"),
        F.substring("text", 61, 100000),
    )
    existing = docs.filter(d % 2 == 0).select("doc_id", ptext.alias("text"))
    batch = docs.filter(d % 2 == 1).select("doc_id", ptext.alias("text"))
    res = dedup_paragraphs_against(batch, existing)
    return res.select(
        "doc_id", "clean_text", "n_paras_kept", "n_paras_dropped"
    )


ORACLE_DEDUP_PARAGRAPHS_INC = r"""
WITH base AS (
  SELECT doc_id,
         'HEADER ' || source || chr(10) || chr(10)
           || substr(text, 1, 60) || chr(10) || chr(10)
           || 'FOOTER common to all documents' || chr(10) || chr(10)
           || substr(text, 61, 100000) AS t,
         doc_id % 2 = 1 AS is_batch
  FROM documents
), split AS (
  SELECT doc_id, is_batch, string_split_regex(t, '\n{2,}') AS lst FROM base
), paras AS (
  SELECT doc_id, is_batch, i AS para_idx, trim(lst[i + 1]) AS para
  FROM split, LATERAL (SELECT UNNEST(generate_series(0, len(lst) - 1)) AS i) g
  WHERE trim(lst[i + 1]) <> ''
), corpus_paras AS (
  SELECT DISTINCT para FROM paras WHERE NOT is_batch
), bparas AS (
  SELECT doc_id, para_idx, para FROM paras WHERE is_batch
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY para ORDER BY doc_id, para_idx) AS rn,
    EXISTS (SELECT 1 FROM corpus_paras c WHERE c.para = bparas.para)
      AS in_corpus
  FROM bparas
), rebuilt AS (
  SELECT doc_id,
         COALESCE(string_agg(para, chr(10) || chr(10) ORDER BY para_idx)
                    FILTER (WHERE rn = 1 AND NOT in_corpus), '')
           AS clean_text,
         COUNT(*) FILTER (WHERE rn = 1 AND NOT in_corpus) AS n_paras_kept,
         COUNT(*) FILTER (WHERE rn > 1 OR in_corpus) AS n_paras_dropped
  FROM ranked GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_paras_kept, 0) AS BIGINT) AS n_paras_kept,
       CAST(COALESCE(r.n_paras_dropped, 0) AS BIGINT) AS n_paras_dropped
FROM (SELECT doc_id FROM base WHERE is_batch) b
LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
"""


def q_stream_dedup_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup
    (streaming.events.streaming_dedup_against, new r10 — the streaming
    twin of curate_increment's exact-dedup stage): the event stream is
    deduped within an everything-spanning watermark, then LEFT ANTI
    joined per micro-batch against the STATIC key set already in the
    curated store (here: pairs seen before Jan 5) — stateless probe of
    a broadcast store projection, state bounded by the dedup watermark
    alone. Drained availableNow; payload survivor is nondeterministic,
    so the gate projects keys only (the stream_dedup precedent)."""
    from pylluminator_spark.streaming.events import (
        read_event_stream_auto,
        run_available_now,
        streaming_dedup_against,
    )

    stream = read_event_stream_auto(spark, f"{sf_dir}/events.parquet")
    existing = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts") < "2024-01-05 00:00:00")
        .select("user_id", "event_type")
    )
    dd = streaming_dedup_against(
        stream.select("ts", "user_id", "event_type"),
        existing,
        keys=("user_id", "event_type"),
        watermark="3650 days",
    )
    res = run_available_now(dd, output_mode="append", shuffle_partitions=8)
    return res.select("user_id", "event_type")


ORACLE_STREAM_DEDUP_INC = """
SELECT DISTINCT e.user_id, e.event_type FROM events e
ANTI JOIN (SELECT DISTINCT user_id, event_type FROM events
           WHERE ts < TIMESTAMP '2024-01-05 00:00:00') x
ON e.user_id = x.user_id AND e.event_type = x.event_type
"""


def q_dedup_exact_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-winner exact dedup (operators.dedup.dedup_exact
    prefer_col, new r10 — the FineWeb keep-the-best-copy rule): three
    normalization-equal variants per selected doc (original, upper-cased,
    trailing-space) with a deterministic arithmetic preference; the
    highest-preference copy survives, ties toward the lowest id. Gates
    the fingerprint-partitioned row_number winner path the min-id
    default never exercises."""
    from pylluminator_spark.operators.dedup import dedup_exact

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    base = docs.filter(d % 5 == 0).select("doc_id", "text")
    trip = (
        base.unionByName(
            base.select(
                (d + 30000).alias("doc_id"), F.upper("text").alias("text")
            )
        ).unionByName(
            base.select(
                (d + 50000).alias("doc_id"),
                F.concat(F.col("text"), F.lit("  ")).alias("text"),
            )
        )
    ).withColumn("q", ((d * 37) % 101).cast("long"))
    out = dedup_exact(trip, prefer_col="q")
    return out.select("doc_id", "q")


ORACLE_DEDUP_EXACT_BEST = r"""
WITH trip AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 30000, upper(text) FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 50000, text || '  ' FROM documents WHERE doc_id % 5 = 0
), scored AS (
  SELECT doc_id, (doc_id * 37) % 101 AS q,
         array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> x != ''), ' ') AS nrm
  FROM trip
), ranked AS (
  SELECT doc_id, q,
         ROW_NUMBER() OVER (PARTITION BY nrm ORDER BY q DESC, doc_id ASC)
           AS rn
  FROM scored
)
SELECT doc_id, CAST(q AS BIGINT) AS q FROM ranked WHERE rn = 1
"""


def q_dedup_fuzzy_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH near-dedup, deterministic relational twin
    (new r11): the algebra of operators.dedup.dedup_minhash_lsh_against
    / operators.curate._stage_inc_fuzzy_dedup — batch documents banded,
    candidates = batch-vs-(corpus index ∪ batch) band-bucket collisions,
    exact token-set Jaccard >= 0.95 verification (integer-exact:
    20*inter >= 19*union), batch doc drops iff a verified partner has a
    smaller id (corpus ids all sort below batch ids, so this single
    rule covers both corpus-wins and lowest-batch-id-wins). The engine
    path uses xxhash64 shingle MinHash (pytest + plan-asserted); this
    twin's 8 arithmetic permutation hashes over the union vocabulary
    (h_i = (a_i*tid + b_i) mod p, 4 bands of 2 rows paired as
    h_even * p + h_odd — exact 64-bit integers) replicate in ANSI SQL.
    The batch plants near-dups of corpus docs (upper-cased text —
    identical token set after lowering, J = 1, never byte-equal), fresh
    docs, and a within-batch near-dup pair; the templated synthetic
    corpus adds genuine >= 0.95 pairs of its own."""
    from pylluminator_spark.functions.text import tokens_expr
    from pylluminator_spark.operators.ordered import with_global_rank
    from pylluminator_spark.plans.checkpoint import stable_checkpoint

    # the 60-row base frame feeds every branch (existing, three batch
    # plants, token explode, sizes, verify) — unmaterialized, each
    # branch re-scans the full documents parquet; one checkpoint makes
    # the rest of the twin operate on the tiny cut
    docs = stable_checkpoint(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    d = F.col("doc_id")
    existing = docs.filter(d % 3 != 0).select("doc_id", "text")
    batch = (
        # near-dups of corpus docs: upper-cased -> same token set
        # after lowering (J = 1) without being byte-identical -> drop
        docs.filter((d % 3 != 0) & (d % 4 == 1))
        .select(
            (d + 20000).alias("doc_id"),
            F.upper(F.col("text")).alias("text"),
        )
        .unionByName(
            # fresh batch docs (corpus rows held out of `existing`)
            docs.filter(d % 3 == 0).select(
                (d + 40000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            # within-batch near-dups of the fresh docs -> higher id drops
            docs.filter((d % 3 == 0) & (d % 5 == 2)).select(
                (d + 60000).alias("doc_id"),
                F.upper(F.col("text")).alias("text"),
            )
        )
    )
    alld = existing.unionByName(batch)
    toks = alld.select(
        "doc_id",
        F.explode(
            F.array_distinct(tokens_expr(F.lower(F.col("text"))))
        ).alias("token"),
    )
    # stable_checkpoint like the neighboring intermediates — a bare
    # persist would pin cached blocks across repeated invocations
    distinct_toks = stable_checkpoint(toks.select("token").distinct())
    vocab = with_global_rank(
        distinct_toks, ["token"], "tid", n_rows=distinct_toks.count()
    ).withColumn("tid", F.col("tid").cast("long"))
    # dt is read four times (signatures, sizes, both verify sides)
    dt = stable_checkpoint(
        toks.join(vocab, "token").select("doc_id", "tid")
    )
    sig = dt.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("tid") + F.lit(b)) % _MINHASH_P).alias(
                f"h{i}"
            )
            for i, (a, b) in enumerate(_MINHASH_PARAMS)
        ]
    )
    # one generator pass (posexplode of the 4 band structs) instead of
    # a 4-way union that would re-run the signature aggregation per
    # branch; sig is 60 rows — checkpoint so the n/o self-join sides
    # read it instead of re-aggregating
    bands = stable_checkpoint(
        sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            (
                                F.col(f"h{2 * j}") * F.lit(_MINHASH_P)
                                + F.col(f"h{2 * j + 1}")
                            ).alias("bkey"),
                        )
                        for j in range(4)
                    ]
                )
            ).alias("_b"),
        ).select("doc_id", F.col("_b.band").alias("band"), F.col("_b.bkey").alias("bkey"))
    )
    n = bands.filter(F.col("doc_id") >= 20000).select(
        F.col("doc_id").alias("nid"), "band", "bkey"
    )
    o = bands.select(F.col("doc_id").alias("oid"), "band", "bkey")
    cand = (
        n.join(o, ["band", "bkey"])
        .filter(F.col("oid") < F.col("nid"))
        .select("nid", "oid")
        .distinct()
    )
    sizes = dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(dt.select(F.col("doc_id").alias("nid"), "tid"), "nid")
        .join(dt.select(F.col("doc_id").alias("oid"), "tid"), ["oid", "tid"])
        .groupBy("nid", "oid")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    losers = (
        inter.join(sizes.select(F.col("doc_id").alias("nid"), F.col("sz").alias("sz_n")), "nid")
        .join(sizes.select(F.col("doc_id").alias("oid"), F.col("sz").alias("sz_o")), "oid")
        .filter(
            F.lit(20) * F.col("inter")
            >= F.lit(19) * (F.col("sz_n") + F.col("sz_o") - F.col("inter"))
        )
        .select(F.col("nid").alias("doc_id"))
        .distinct()
    )
    surv = batch.join(losers, "doc_id", "left_anti")
    return surv.join(sizes, "doc_id").select(
        "doc_id", F.col("sz").cast("long").alias("n_tok")
    )


def _oracle_dedup_fuzzy_inc() -> str:
    hashes = ", ".join(
        f"MIN(({a} * tid + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_PARAMS)
    )
    bands_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {j} AS band, "
        f"h{2 * j} * {_MINHASH_P} + h{2 * j + 1} AS bkey FROM sig"
        for j in range(4)
    )
    return rf"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 60
), existing AS (
  SELECT doc_id, text FROM base WHERE doc_id % 3 != 0
), batch AS (
  SELECT doc_id + 20000 AS doc_id, upper(text) AS text FROM base
  WHERE doc_id % 3 != 0 AND doc_id % 4 = 1
  UNION ALL
  SELECT doc_id + 40000, text FROM base WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 60000, upper(text) FROM base
  WHERE doc_id % 3 = 0 AND doc_id % 5 = 2
), alld AS (
  SELECT * FROM existing UNION ALL SELECT * FROM batch
), tokens AS (
  SELECT doc_id, UNNEST(list_distinct(
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')))
           AS token
  FROM alld
), vocab AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY token) AS tid
  FROM (SELECT DISTINCT token FROM tokens) t
), dt AS (
  SELECT tk.doc_id, v.tid FROM tokens tk JOIN vocab v ON tk.token = v.token
), sig AS (
  SELECT doc_id, {hashes} FROM dt GROUP BY doc_id
), bands AS (
{bands_union}
), cand AS (
  SELECT DISTINCT n.doc_id AS nid, o.doc_id AS oid
  FROM bands n JOIN bands o ON n.band = o.band AND n.bkey = o.bkey
  WHERE n.doc_id >= 20000 AND o.doc_id < n.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM dt GROUP BY doc_id
), inters AS (
  SELECT c.nid, c.oid, COUNT(*) AS inter
  FROM cand c
  JOIN dt a ON a.doc_id = c.nid
  JOIN dt b ON b.doc_id = c.oid AND b.tid = a.tid
  GROUP BY c.nid, c.oid
), losers AS (
  SELECT DISTINCT i.nid AS doc_id
  FROM inters i
  JOIN sizes sn ON sn.doc_id = i.nid
  JOIN sizes so ON so.doc_id = i.oid
  WHERE 20 * i.inter >= 19 * (sn.sz + so.sz - i.inter)
)
SELECT b.doc_id, CAST(s.sz AS BIGINT) AS n_tok
FROM batch b
JOIN sizes s ON s.doc_id = b.doc_id
ANTI JOIN losers l ON b.doc_id = l.doc_id
"""


ORACLE_DEDUP_FUZZY_INC = _oracle_dedup_fuzzy_inc()


def q_curate_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED incremental-curation chain end-to-end
    (operators.curate.curate_increment against a curate_pipeline base in
    the same manifest root, new r11 as a composition gate): base =
    exact dedup -> paragraph dedup -> HTML strip + token gate over a
    two-paragraph corpus (body + shared footer with an HTML entity);
    batch = exact copies of base docs (suppressed via the PERSISTED
    content_fp column), fresh docs carrying the base footer paragraph
    (footer suppressed via the persisted para_fps, body kept), and
    within-batch duplicate pairs (lowest id survives). Suppression is
    gate-filtered: content the base REJECTED never suppresses. Same
    per-(SF, pid) temp-root discipline as q_curate_corpus."""
    return _curate_increment_impl(spark, sf_dir, gc=False)


def q_curate_gc_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curate_increment after curate_gc (new r12): the base generation's
    INTERMEDIATE stage parquet is deleted between the base run and the
    increment (operators.curate.curate_gc — gates keep their fingerprint
    passenger columns, so the chain walk probes gate-only), and the
    increment must produce EXACTLY the same curated batch as the intact
    path — same DuckDB oracle as curate_increment_corpus, which is the
    point: storage reclamation is invisible to dedup results."""
    return _curate_increment_impl(spark, sf_dir, gc=True)


def _curate_increment_impl(
    spark: SparkSession, sf_dir: str, *, gc: bool
) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile

    from pylluminator_spark.operators.curate import (
        curate_gc,
        curate_increment,
        curate_pipeline,
    )

    tag = "curate_gc_gate_" if gc else "curate_inc_gate_"
    prefix = os.path.join(
        tempfile.gettempdir(),
        tag + sf_dir.strip("/").replace("/", "_") + "_pid",
    )
    for stale in glob.glob(prefix + "*"):
        try:
            pid = int(stale.rsplit("pid", 1)[-1])
            os.kill(pid, 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass
    root = prefix + str(os.getpid())
    shutil.rmtree(root, ignore_errors=True)

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    footer = F.lit("SHARED FOOTER &amp; notices")
    ptext = F.concat_ws("\n\n", F.substring("text", 1, 80), footer)
    fresh_text = F.concat_ws(
        "\n\n",
        F.concat(F.lit("FRESH "), F.substring("text", 1, 80)),
        footer,
    )
    base_src = docs.select("doc_id", ptext.alias("text"))
    curate_pipeline(
        spark,
        root,
        base_src,
        source_fingerprint="inc-gate-base",
        keep_lang=None,
        min_tokens=2,
        max_tokens=100_000,
        pack_budget=None,
    )
    if gc:
        # reclaim the base's intermediate stage parquet — the increment
        # below must suppress through the gate's fingerprint passengers
        # alone and still hash-match the intact path's oracle
        stats = curate_gc(spark, root, keep_latest_base=False)
        assert stats["removed"] and not stats["skipped"]
    batch = (
        # exact copies of base docs -> suppressed against the corpus
        docs.filter(d % 6 == 0)
        .select((d + 50000).alias("doc_id"), ptext.alias("text"))
        .unionByName(
            # fresh bodies carrying the base footer paragraph
            docs.filter(d % 6 == 3).select(
                (d + 70000).alias("doc_id"), fresh_text.alias("text")
            )
        )
        .unionByName(
            # within-batch duplicates of the fresh docs -> higher id drops
            docs.filter((d % 6 == 3) & (d % 12 == 3)).select(
                (d + 90000).alias("doc_id"), fresh_text.alias("text")
            )
        )
    )
    res = curate_increment(
        spark,
        root,
        batch,
        source_fingerprint="inc-gate-day1",
        min_tokens=2,
        max_tokens=100_000,
    )
    return res.documents.select(
        "doc_id", "text", F.col("n_tokens").cast("long").alias("n_tokens")
    )


ORACLE_CURATE_INCREMENT = rf"""
WITH bsrc AS (
  SELECT doc_id,
         substr(text, 1, 80) || chr(10) || chr(10)
           || 'SHARED FOOTER &amp; notices' AS t
  FROM documents
), bnorm AS (
  SELECT doc_id, t,
         array_to_string(list_filter(regexp_split_to_array(lower(t), '\s+'),
                                     x -> x != ''), ' ') AS nrm
  FROM bsrc
), bkeep AS (
  SELECT nrm, MIN(doc_id) AS doc_id FROM bnorm GROUP BY nrm
), bded AS (
  SELECT n.doc_id, n.t, n.nrm
  FROM bnorm n JOIN bkeep k ON n.doc_id = k.doc_id AND n.nrm = k.nrm
), bsplit AS (
  SELECT doc_id, string_split_regex(t, '\n{{2,}}') AS lst FROM bded
), bparas AS (
  SELECT doc_id, i AS para_idx, trim(lst[i + 1]) AS para
  FROM bsplit, LATERAL (SELECT UNNEST(generate_series(0, len(lst) - 1)) AS i) g
  WHERE trim(lst[i + 1]) <> ''
), branked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY para ORDER BY doc_id, para_idx) AS rn
  FROM bparas
), brebuilt AS (
  SELECT d.doc_id, COALESCE(r.ct, '') AS ct
  FROM bded d LEFT JOIN (
    SELECT doc_id,
           string_agg(para, chr(10) || chr(10) ORDER BY para_idx)
             FILTER (WHERE rn = 1) AS ct
    FROM branked GROUP BY doc_id
  ) r ON d.doc_id = r.doc_id
), bstripped AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(ct,
               '{_HTML_BLOCK}', ' ', 'g'),
               '{_HTML_COMMENT}', ' ', 'g'),
               '{_HTML_TAG}', ' ', 'g'),
             '&nbsp;', ' '), '&quot;', '"'), '&apos;', ''''),
             '&#39;', ''''), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
           '\s+', ' ', 'g')) AS text
  FROM brebuilt
), bgated AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''))
           AS n_tokens
  FROM bstripped
), bkept AS (
  SELECT doc_id FROM bgated WHERE n_tokens BETWEEN 2 AND 100000
), base_nrm AS (
  -- the persisted content_fp probe: normalized exact-dedup-stage text
  -- of GATE-SURVIVING base docs
  SELECT DISTINCT d.nrm FROM bded d JOIN bkept k ON d.doc_id = k.doc_id
), base_paras AS (
  -- the persisted para_fps probe: kept paragraphs (re-split of the
  -- reassembled clean text) of gate-surviving base docs
  SELECT DISTINCT para FROM branked r
  JOIN bkept k ON r.doc_id = k.doc_id
  WHERE r.rn = 1
), batch AS (
  SELECT doc_id + 50000 AS doc_id,
         substr(text, 1, 80) || chr(10) || chr(10)
           || 'SHARED FOOTER &amp; notices' AS t
  FROM documents WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id + 70000,
         'FRESH ' || substr(text, 1, 80) || chr(10) || chr(10)
           || 'SHARED FOOTER &amp; notices'
  FROM documents WHERE doc_id % 6 = 3
  UNION ALL
  SELECT doc_id + 90000,
         'FRESH ' || substr(text, 1, 80) || chr(10) || chr(10)
           || 'SHARED FOOTER &amp; notices'
  FROM documents WHERE doc_id % 6 = 3 AND doc_id % 12 = 3
), qnorm AS (
  SELECT doc_id, t,
         array_to_string(list_filter(regexp_split_to_array(lower(t), '\s+'),
                                     x -> x != ''), ' ') AS nrm
  FROM batch
), qkeep AS (
  SELECT nrm, MIN(doc_id) AS doc_id FROM qnorm GROUP BY nrm
), qded AS (
  -- within-batch exact dedup, then the corpus fingerprint anti join
  SELECT n.doc_id, n.t
  FROM qnorm n
  JOIN qkeep k ON n.doc_id = k.doc_id AND n.nrm = k.nrm
  ANTI JOIN base_nrm b ON n.nrm = b.nrm
), qsplit AS (
  SELECT doc_id, string_split_regex(t, '\n{{2,}}') AS lst FROM qded
), qparas AS (
  SELECT doc_id, i AS para_idx, trim(lst[i + 1]) AS para
  FROM qsplit, LATERAL (SELECT UNNEST(generate_series(0, len(lst) - 1)) AS i) g
  WHERE trim(lst[i + 1]) <> ''
), qflag AS (
  SELECT p.*,
         ROW_NUMBER() OVER (PARTITION BY p.para
                            ORDER BY p.doc_id, p.para_idx) AS rn,
         CASE WHEN bp.para IS NOT NULL THEN 1 ELSE 0 END AS in_corpus
  FROM qparas p LEFT JOIN base_paras bp ON p.para = bp.para
), qrebuilt AS (
  SELECT d.doc_id, COALESCE(r.ct, '') AS ct
  FROM qded d LEFT JOIN (
    SELECT doc_id,
           string_agg(para, chr(10) || chr(10) ORDER BY para_idx)
             FILTER (WHERE rn = 1 AND in_corpus = 0) AS ct
    FROM qflag GROUP BY doc_id
  ) r ON d.doc_id = r.doc_id
), qstripped AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(ct,
               '{_HTML_BLOCK}', ' ', 'g'),
               '{_HTML_COMMENT}', ' ', 'g'),
               '{_HTML_TAG}', ' ', 'g'),
             '&nbsp;', ' '), '&quot;', '"'), '&apos;', ''''),
             '&#39;', ''''), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
           '\s+', ' ', 'g')) AS text
  FROM qrebuilt
), qgated AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''))
           AS n_tokens
  FROM qstripped
)
SELECT doc_id, text, CAST(n_tokens AS BIGINT) AS n_tokens
FROM qgated WHERE n_tokens BETWEEN 2 AND 100000
"""


def q_stream_curate_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FULL-curation ingestion
    (streaming.events.streaming_curate_to_store, new r12 — composes
    curate_increment inside foreachBatch): a manifest root is seeded
    with the q_curate_increment base, then TWO micro-batches drain
    availableNow (maxFilesPerTrigger=1 over two mtime-ordered files).
    Batch 1 is exactly q_curate_increment's batch (base dups
    suppressed via persisted content_fp, footer paragraphs via
    para_fps, within-batch dups); batch 2 plants exact copies of
    batch 1's SURVIVORS — suppressed because each drained batch became
    a curated GENERATION — plus fresh DAY2 bodies (footer suppressed
    against the base) and a within-batch-2 dup pair. Exactly-once
    comes from the manifest (batch_id-keyed source fingerprints), not
    streaming state. Per-(SF, pid) temp roots with dead-pid sweep."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pylluminator_spark.operators.curate import curate_pipeline
    from pylluminator_spark.streaming.events import (
        streaming_curate_to_store,
    )

    prefix = os.path.join(
        tempfile.gettempdir(),
        "stream_curate_gate_" + sf_dir.strip("/").replace("/", "_")
        + "_pid",
    )
    for stale in glob.glob(prefix + "*"):
        try:
            pid = int(stale.rsplit("pid", 1)[-1])
            os.kill(pid, 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass
    root = prefix + str(os.getpid())
    shutil.rmtree(root, ignore_errors=True)
    mroot = os.path.join(root, "m")
    store = os.path.join(root, "store")
    src = os.path.join(root, "src")

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    footer = F.lit("SHARED FOOTER &amp; notices")
    ptext = F.concat_ws("\n\n", F.substring("text", 1, 80), footer)
    fresh_text = F.concat_ws(
        "\n\n",
        F.concat(F.lit("FRESH "), F.substring("text", 1, 80)),
        footer,
    )
    day2_text = F.concat_ws(
        "\n\n",
        F.concat(F.lit("DAY2 "), F.substring("text", 1, 80)),
        footer,
    )
    curate_pipeline(
        spark,
        mroot,
        docs.select("doc_id", ptext.alias("text")),
        source_fingerprint="stream-curate-base",
        keep_lang=None,
        min_tokens=2,
        max_tokens=100_000,
        pack_budget=None,
    )
    batch1 = (
        docs.filter(d % 6 == 0)
        .select((d + 50000).alias("doc_id"), ptext.alias("text"))
        .unionByName(
            docs.filter(d % 6 == 3).select(
                (d + 70000).alias("doc_id"), fresh_text.alias("text")
            )
        )
        .unionByName(
            docs.filter((d % 6 == 3) & (d % 12 == 3)).select(
                (d + 90000).alias("doc_id"), fresh_text.alias("text")
            )
        )
    )
    batch2 = (
        # exact copies of batch 1's surviving fresh docs -> suppressed
        # by the GENERATION batch 1 became in the store
        docs.filter(d % 6 == 3)
        .select((d + 150000).alias("doc_id"), fresh_text.alias("text"))
        .unionByName(
            docs.filter(d % 6 == 1).select(
                (d + 170000).alias("doc_id"), day2_text.alias("text")
            )
        )
        .unionByName(
            docs.filter((d % 6 == 1) & (d % 12 == 1)).select(
                (d + 190000).alias("doc_id"), day2_text.alias("text")
            )
        )
    )
    batch1.coalesce(1).write.parquet(os.path.join(src, "f=1"))
    batch2.coalesce(1).write.parquet(os.path.join(src, "f=2"))
    # the file stream orders batches by file mtime — pin it explicitly
    # so batch 1 is ALWAYS the first micro-batch (suppression is
    # asymmetric: batch 2 dedups against batch 1's generation)
    now = time.time()
    for sub, ts in (("f=1", now - 120), ("f=2", now - 60)):
        for fn in os.listdir(os.path.join(src, sub)):
            os.utime(os.path.join(src, sub, fn), (ts, ts))
    stream = (
        spark.readStream.schema("doc_id long, text string, f int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    ).drop("f")
    q = streaming_curate_to_store(
        stream,
        mroot,
        store,
        checkpoint_location=os.path.join(root, "ckpt"),
        min_tokens=2,
        max_tokens=100_000,
    )
    q.awaitTermination()
    out = spark.read.parquet(os.path.join(store, "docs"))
    return out.select(
        "doc_id", "text", F.col("n_tokens").cast("long").alias("n_tokens")
    )


# the streaming oracle EXTENDS the increment oracle: batch 1 is that
# oracle verbatim (CTE'd as b1res), batch 2 re-runs the same chain with
# suppression sets base ∪ batch-1-survivors
_CURATE_INC_TAIL = (
    "SELECT doc_id, text, CAST(n_tokens AS BIGINT) AS n_tokens\n"
    "FROM qgated WHERE n_tokens BETWEEN 2 AND 100000\n"
)
assert ORACLE_CURATE_INCREMENT.endswith(_CURATE_INC_TAIL)
ORACLE_STREAM_CURATE_INC = (
    ORACLE_CURATE_INCREMENT[: -len(_CURATE_INC_TAIL)]
    + rf""", b1res AS (
  SELECT doc_id, text, n_tokens FROM qgated
  WHERE n_tokens BETWEEN 2 AND 100000
), b1_nrm AS (
  -- batch 1's persisted content_fp probe: normalized raw text of its
  -- gate survivors
  SELECT DISTINCT n.nrm FROM qnorm n JOIN b1res r ON n.doc_id = r.doc_id
), b1_paras AS (
  -- batch 1's persisted para_fps probe: its survivors' kept paragraphs
  SELECT DISTINCT f.para FROM qflag f JOIN b1res r ON f.doc_id = r.doc_id
  WHERE f.rn = 1 AND f.in_corpus = 0
), batch2 AS (
  SELECT doc_id + 150000 AS doc_id,
         'FRESH ' || substr(text, 1, 80) || chr(10) || chr(10)
           || 'SHARED FOOTER &amp; notices' AS t
  FROM documents WHERE doc_id % 6 = 3
  UNION ALL
  SELECT doc_id + 170000,
         'DAY2 ' || substr(text, 1, 80) || chr(10) || chr(10)
           || 'SHARED FOOTER &amp; notices'
  FROM documents WHERE doc_id % 6 = 1
  UNION ALL
  SELECT doc_id + 190000,
         'DAY2 ' || substr(text, 1, 80) || chr(10) || chr(10)
           || 'SHARED FOOTER &amp; notices'
  FROM documents WHERE doc_id % 6 = 1 AND doc_id % 12 = 1
), rnorm AS (
  SELECT doc_id, t,
         array_to_string(list_filter(regexp_split_to_array(lower(t), '\s+'),
                                     x -> x != ''), ' ') AS nrm
  FROM batch2
), rkeep AS (
  SELECT nrm, MIN(doc_id) AS doc_id FROM rnorm GROUP BY nrm
), rded AS (
  SELECT n.doc_id, n.t
  FROM rnorm n
  JOIN rkeep k ON n.doc_id = k.doc_id AND n.nrm = k.nrm
  ANTI JOIN (SELECT nrm FROM base_nrm UNION SELECT nrm FROM b1_nrm) b
    ON n.nrm = b.nrm
), rsplit AS (
  SELECT doc_id, string_split_regex(t, '\n{{2,}}') AS lst FROM rded
), rparas AS (
  SELECT doc_id, i AS para_idx, trim(lst[i + 1]) AS para
  FROM rsplit, LATERAL (SELECT UNNEST(generate_series(0, len(lst) - 1)) AS i) g
  WHERE trim(lst[i + 1]) <> ''
), rflag AS (
  SELECT p.*,
         ROW_NUMBER() OVER (PARTITION BY p.para
                            ORDER BY p.doc_id, p.para_idx) AS rn,
         CASE WHEN bp.para IS NOT NULL THEN 1 ELSE 0 END AS in_corpus
  FROM rparas p LEFT JOIN (
    SELECT para FROM base_paras UNION SELECT para FROM b1_paras
  ) bp ON p.para = bp.para
), rrebuilt AS (
  SELECT d.doc_id, COALESCE(r.ct, '') AS ct
  FROM rded d LEFT JOIN (
    SELECT doc_id,
           string_agg(para, chr(10) || chr(10) ORDER BY para_idx)
             FILTER (WHERE rn = 1 AND in_corpus = 0) AS ct
    FROM rflag GROUP BY doc_id
  ) r ON d.doc_id = r.doc_id
), rstripped AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(ct,
               '{_HTML_BLOCK}', ' ', 'g'),
               '{_HTML_COMMENT}', ' ', 'g'),
               '{_HTML_TAG}', ' ', 'g'),
             '&nbsp;', ' '), '&quot;', '"'), '&apos;', ''''),
             '&#39;', ''''), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
           '\s+', ' ', 'g')) AS text
  FROM rrebuilt
), rgated AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''))
           AS n_tokens
  FROM rstripped
)
SELECT doc_id, text, CAST(n_tokens AS BIGINT) AS n_tokens
FROM b1res
UNION ALL
SELECT doc_id, text, CAST(n_tokens AS BIGINT) AS n_tokens
FROM rgated WHERE n_tokens BETWEEN 2 AND 100000
"""
)


def _arith_token_band_fn(df):
    """Deterministic banding for the stream-fuzzy gate: documents carry
    SYNTHETIC tokens 'w<v>' with v = (seed*31 + j*7) mod p (see
    q_stream_fuzzy_inc), so the per-token hash is just the parsed
    integer — 8 arithmetic minhashes over the distinct token values,
    4 bands of 2 paired as h_even * p + h_odd, exactly replicable in
    ANSI SQL (the production path's xxhash64 shingle MinHash is
    pytest-verified; this is the cross-engine twin, the
    dedup_fuzzy_inc discipline). Output schema matches
    lsh_band_table: (doc_id, _band, _band_hash)."""
    from pylluminator_spark.functions.text import let_expr, tokens_expr

    vs = F.transform(
        tokens_expr(F.col("text")),
        lambda t: F.substring(t, 2, 18).cast("long"),
    )

    def _sig(v):
        return F.struct(
            *[
                F.array_min(
                    F.transform(
                        v, lambda x: (F.lit(a) * x + F.lit(b)) % _MINHASH_P
                    )
                ).alias(f"h{i}")
                for i, (a, b) in enumerate(_MINHASH_PARAMS)
            ]
        )

    sig = df.select("doc_id", let_expr(vs, _sig).alias("_h"))
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("_band"),
                        (
                            F.col(f"_h.h{2 * j}") * F.lit(_MINHASH_P)
                            + F.col(f"_h.h{2 * j + 1}")
                        ).alias("_band_hash"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("_b"),
    ).select(
        "doc_id",
        F.col("_b._band").alias("_band"),
        F.col("_b._band_hash").alias("_band_hash"),
    )


def q_stream_fuzzy_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ingestion against a persistent LSH band store
    (streaming.events.streaming_fuzzy_dedup_to_store, new r11 — the
    fuzzy twin of stream_dedup_inc): the store is SEEDED with a
    corpus's band table, the stream drains availableNow through
    foreachBatch, survivors + their bands land in batch_id-keyed store
    partitions. Documents carry synthetic tokens 'w<v>' with
    v = (seed*31 + j*7) mod p for j in 0..11 — distinct seeds share NO
    token (31*(d-d') = 7*(j'-j) has no solution in range), so content
    identity is exactly the seed. The stream plants reversed-token
    copies of corpus docs (same token SET, different text -> all four
    bands collide -> drop), fresh held-out seeds (survive), and
    reversed within-batch copies of the fresh docs (higher id drops).
    Banding is the arithmetic twin (_arith_token_band_fn); per-(SF,
    pid) temp dirs with dead-pid sweep."""
    import glob
    import os
    import shutil
    import tempfile

    from pylluminator_spark.streaming.events import (
        streaming_fuzzy_dedup_to_store,
    )

    prefix = os.path.join(
        tempfile.gettempdir(),
        "stream_fuzzy_gate_" + sf_dir.strip("/").replace("/", "_") + "_pid",
    )
    for stale in glob.glob(prefix + "*"):
        try:
            pid = int(stale.rsplit("pid", 1)[-1])
            os.kill(pid, 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass
    root = prefix + str(os.getpid())
    shutil.rmtree(root, ignore_errors=True)
    store = os.path.join(root, "store")
    src = os.path.join(root, "src")

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d = F.col("doc_id")

    def _text(reverse: bool = False):
        rng = range(11, -1, -1) if reverse else range(12)
        return F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    ((d * 31 + j * 7) % _MINHASH_P).cast("string"),
                )
                for j in rng
            ],
        )

    corpus = docs.filter(d % 3 != 0).select("doc_id", _text().alias("text"))
    _arith_token_band_fn(corpus).write.parquet(
        os.path.join(store, "bands", "batch_id=seed")
    )
    stream_src = (
        # reversed-token copies of corpus docs: same token set -> drop
        docs.filter(d % 3 != 0)
        .select((d + 50000).alias("doc_id"), _text(True).alias("text"))
        .unionByName(
            # fresh held-out seeds -> survive
            docs.filter(d % 3 == 0).select(
                (d + 70000).alias("doc_id"), _text().alias("text")
            )
        )
        .unionByName(
            # within-batch reversed copies of the fresh docs -> drop
            docs.filter(d % 3 == 0).select(
                (d + 90000).alias("doc_id"), _text(True).alias("text")
            )
        )
    )
    stream_src.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        src
    )
    q = streaming_fuzzy_dedup_to_store(
        stream, store, band_fn=_arith_token_band_fn
    )
    q.awaitTermination()
    out = spark.read.parquet(os.path.join(store, "docs"))
    return out.select("doc_id").orderBy("doc_id")


def _oracle_stream_fuzzy_inc() -> str:
    hashes = ", ".join(
        f"MIN(({a} * v + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_PARAMS)
    )
    bands_union = "\n  UNION ALL\n".join(
        f"  SELECT sid, {j} AS band, "
        f"h{2 * j} * {_MINHASH_P} + h{2 * j + 1} AS bkey FROM sig"
        for j in range(4)
    )
    return rf"""
WITH base AS (
  SELECT doc_id AS sid FROM documents WHERE doc_id < 200
), toks AS (
  SELECT sid, (sid * 31 + j * 7) % {_MINHASH_P} AS v
  FROM base, UNNEST(range(0, 12)) r(j)
), sig AS (
  SELECT sid, {hashes} FROM toks GROUP BY sid
), bands AS (
{bands_union}
), corpus AS (
  SELECT sid FROM base WHERE sid % 3 != 0
), stream AS (
  SELECT sid, sid + 50000 AS doc_id FROM base WHERE sid % 3 != 0
  UNION ALL
  SELECT sid, sid + 70000 FROM base WHERE sid % 3 = 0
  UNION ALL
  SELECT sid, sid + 90000 FROM base WHERE sid % 3 = 0
), losers AS (
  -- a stream doc drops iff some band bucket holds a corpus doc or a
  -- smaller-id stream doc (dedup_minhash_lsh_against, bands-only)
  SELECT DISTINCT s.doc_id
  FROM stream s
  JOIN bands sb ON sb.sid = s.sid
  JOIN bands ob ON ob.band = sb.band AND ob.bkey = sb.bkey
  JOIN (
    SELECT sid, NULL::BIGINT AS doc_id FROM corpus
    UNION ALL
    SELECT sid, doc_id FROM stream
  ) o ON o.sid = ob.sid
  WHERE o.doc_id IS NULL OR o.doc_id < s.doc_id
)
SELECT s.doc_id FROM stream s
ANTI JOIN losers l ON s.doc_id = l.doc_id
ORDER BY s.doc_id
"""


ORACLE_STREAM_FUZZY_INC = _oracle_stream_fuzzy_inc()




def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the driver gates only the FIRST 50 entries
    # against the DuckDB oracle each round. Round-13 rotation (VERDICT
    # r12 #1/#3 plus the standing never-gated-first policy): slots 1-4
    # are the four oracle-naked paths — dsir_weights / doremi_weights
    # (whose entries now pass the r12 target_within / reference_within
    # carve-out flags, so their r10 driver rows predate the current
    # code) and curate_gc_inc / stream_curate_inc (added in r12, never
    # gated); slots 5-42 are the 38 r9-green entries (the oldest driver
    # rows after the r12 rotation, r9 gate order); slots 43-50 are the
    # 8 oldest r10-green entries (r10 gate order). After this round no
    # entry's latest driver row is older than r10; the r14 queue head
    # (section 4) is the remaining 40 r10 entries.
    #
    # ROTATION POLICY (VERDICT r6 #5, standing): with ~184 oracle-bearing
    # entries and 50 driver slots/round, worst-case driver-row staleness
    # is ceil(184/50) = 4 rounds. To keep verification staleness <= 1
    # round anyway: (a) every round the gate takes any never-gated
    # entries first, then the oldest-green entries; (b) the deferred
    # tail (whatever misses the 50 slots) is run through the
    # driver-faithful emulation (tests/test_gate_rotation.py) the same
    # round; (c) new-entry additions are capped so never-gated backlog
    # stays <= 13 (one gate section). A driver row is the gold signal;
    # the emu sweep is the bridge that keeps the interval covered.
    return {
        # -- 1. slots 1-4: the four oracle-naked paths (VERDICT r12 #1
        # and #3): dsir_weights / doremi_weights now pass the r12
        # target_within / reference_within carve-out flags and their
        # latest driver rows predate that rewrite; curate_gc_inc /
        # stream_curate_inc are the r12 additions that have never been
        # gated (builder emu-green at sf0.01 and sf0.1 only) ----------
        "dsir_weights": q_dsir_weights,
        "doremi_weights": q_doremi_weights,
        "curate_gc_inc": q_curate_gc_inc,
        "stream_curate_inc": q_stream_curate_inc,
        # -- 2. slots 5-42: the 38 r9-green entries (the oldest driver
        # rows after the r12 rotation, r9 gate order) ------------------
        "snapshot_diff": q_snapshot_diff,
        "inverted_postings": q_inverted_postings,
        "json_extract_agg": q_json_extract_agg,
        "ab_test": q_ab_test,
        "geo_radius_pairs": q_geo_radius_pairs,
        "impute_mean": q_impute_mean,
        "last_touch_attr": q_last_touch_attr,
        "linear_attr": q_linear_attr,
        "basket_rules": q_basket_rules,
        "rolling_corr": q_rolling_corr,
        "jaccard_pairs": q_jaccard_pairs,
        "bloom_filter": q_bloom_filter,
        "combat_stats": q_combat_stats,
        "cbs_tstat": q_cbs_tstat,
        "dedup_components": q_dedup_components,
        "chunk_documents": q_chunk_documents,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "top_customers": q_top_customers,
        "topk_per_group": q_topk_per_group,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "running_total": q_running_total,
        "event_windows": q_event_windows,
        "distinct_agg": q_distinct_agg,
        "median_by_brand": q_median_by_brand,
        "beta_values": q_beta_values,
        "m_values": q_m_values,
        "sessionize": q_sessionize,
        "lang_profile": q_lang_profile,
        "value_segments": q_value_segments,
        "interval_cluster": q_interval_cluster,
        "doc_fingerprint": q_doc_fingerprint,
        "outer_join_counts": q_outer_join_counts,
        "scalar_subquery": q_scalar_subquery,
        "moving_avg_time": q_moving_avg_time,
        "window_ranks": q_window_ranks,
        "grouping_sets": q_grouping_sets,
        # -- 3. slots 43-50: the 8 oldest r10-green entries (r10 gate
        # order) -------------------------------------------------------
        "hard_negatives": q_hard_negatives,
        "decontaminate_spans": q_decontaminate_spans,
        "exists_shapes": q_exists_shapes,
        "min_cost_match": q_min_cost_match,
        "agg_equals_max": q_agg_equals_max,
        "skew_salted_agg": q_skew_salted_agg,
        "bpe_token_stats": q_bpe_token_stats,
        "unpivot_melt": q_unpivot_melt,
        # ---- end of the 50 gated slots ------------------------------
        # -- 4. the remaining r10-green entries (r10 gate order — the
        # oldest rows after this round; r14 queue head) ----------------
        "shipping_priority": _tpch.QUERIES["shipping_priority"],
        "late_orders": _tpch.QUERIES["late_orders"],
        "filter_scan_revenue": _tpch.QUERIES["filter_scan_revenue"],
        "volume_shipping": _tpch.QUERIES["volume_shipping"],
        "market_share": _tpch.QUERIES["market_share"],
        "product_profit": _tpch.QUERIES["product_profit"],
        "returned_items": _tpch.QUERIES["returned_items"],
        "important_parts": _tpch.QUERIES["important_parts"],
        "promo_revenue": _tpch.QUERIES["promo_revenue"],
        "supplier_part_cnt": _tpch.QUERIES["supplier_part_cnt"],
        "large_orders": _tpch.QUERIES["large_orders"],
        "disjunctive_pred": _tpch.QUERIES["disjunctive_pred"],
        "bulk_suppliers": _tpch.QUERIES["bulk_suppliers"],
        "idle_customers": _tpch.QUERIES["idle_customers"],
        "media_decode": q_media_decode,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "stream_join": q_stream_join,
        "tfidf_pairs": q_tfidf_pairs,
        "apply_changes": q_apply_changes,
        "k_anonymity": q_k_anonymity,
        "bloom_prune": q_bloom_prune,
        "bigram_lm": q_bigram_lm,
        "hist_quantiles": q_hist_quantiles,
        "minimizer_sigs": q_minimizer_sigs,
        "minimizer_pairs": q_minimizer_pairs,
        "calibration_bins": q_calibration_bins,
        "winsorize": q_winsorize,
        "quantile_bins": q_quantile_bins,
        "robust_zscore": q_robust_zscore,
        "hash_split": q_hash_split,
        "priority_shipmode": _tpch.QUERIES["priority_shipmode"],
        "ols_dmp": q_ols_dmp,
        "sample_distances": q_sample_distances,
        "beta_density": q_beta_density,
        "stream_tumbling": q_stream_tumbling,
        "media_decode_jpeg": q_media_decode_jpeg,
        "pca_gram": q_pca_gram,
        "gopher_quality": q_gopher_quality,
        "mixedlm_dmp": q_mixedlm_dmp,
        "dr_scores": q_dr_scores,
        # -- 5. r11-gated rows (second-freshest driver rows) -----------
        "curate_corpus": q_curate_corpus,
        "dedup_exact_inc": q_dedup_exact_inc,
        "dedup_paragraphs_inc": q_dedup_paragraphs_inc,
        "stream_dedup_inc": q_stream_dedup_inc,
        "dedup_exact_best": q_dedup_exact_best,
        "repetition_ratios": q_repetition_ratios,
        "decontaminate": q_decontaminate,
        "bm25_rank": q_bm25_rank,
        "stream_sliding": q_stream_sliding,
        "stream_session": q_stream_session,
        "repeated_spans": q_repeated_spans,
        "kmeans_assign": q_kmeans_assign,
        "lm_score": q_lm_score,
        "bh_adjust": q_bh_adjust,
        "mask_nullout": q_mask_nullout,
        "merge_by_group": q_merge_by_group,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "cosine_topk": q_cosine_topk,
        "range_join_count": q_range_join_count,
        "ecdf_pvalue": q_ecdf_pvalue,
        "stouffer_groups": q_stouffer_groups,
        "quantile_normalize": q_quantile_normalize,
        "cnv_regression": q_cnv_regression,
        "pivot_wide": q_pivot_wide,
        "cube_agg": q_cube_agg,
        "union_except": q_union_except,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "infer_channel": q_infer_channel,
        "total_ib_intensity": q_total_ib_intensity,
        "corr_by_brand": q_corr_by_brand,
        "exact_substr_spans": q_exact_substr_spans,
        "suffix_array_ranks": q_suffix_array_ranks,
        "exact_substr_dedup": q_exact_substr_dedup,
        "lineage_stage_cache": q_lineage_stage_cache,
        "explode_tokens": q_explode_tokens,
        "mask_builders": q_mask_builders,
        "probe_suffix_merge": q_probe_suffix_merge,
        "typed_merge": q_typed_merge,
        "interval_anti_join": q_interval_anti_join,
        "beta_distribution": q_beta_distribution,
        "quality_scores": q_quality_scores,
        "embedding_near_dup": q_embedding_near_dup,
        "ann_ivf": q_ann_ivf,
        "rollup_agg": q_rollup_agg,
        "top_intensity_median": q_top_intensity_median,
        "top_dm_genes": q_top_dm_genes,
        "asof_join": q_asof_join,
        # -- 6. r12-gated rows (the freshest driver rows) --------------
        "dedup_fuzzy_inc": q_dedup_fuzzy_inc,
        "curate_increment_corpus": q_curate_increment,
        "stream_fuzzy_inc": q_stream_fuzzy_inc,
        "audio_spectral": q_audio_spectral,
        "image_phash_pairs": q_image_phash_pairs,
        "stratified_sample": q_stratified_sample,
        "pii_redact": q_pii_redact,
        "pack_sequences": q_pack_sequences,
        "semantic_near_dup": q_semantic_near_dup,
        "stream_dedup": q_stream_dedup,
        "table_profile": q_table_profile,
        "top_ngrams": q_top_ngrams,
        "source_mixing": q_source_mixing,
        "event_funnel": q_event_funnel,
        "cohort_retention": q_cohort_retention,
        "clean_html": q_clean_html,
        "url_normalize": q_url_normalize,
        "dedup_paragraphs": q_dedup_paragraphs,
        "domain_cap": q_domain_cap,
        "weighted_sample": q_weighted_sample,
        "logreg_predict": q_logreg_predict,
        "logreg_step": q_logreg_step,
        "pq_encode": q_pq_encode,
        "bpe_pairs": q_bpe_pairs,
        "prototype_prune": q_prototype_prune,
        "pq_adc": q_pq_adc,
        "event_transitions": q_event_transitions,
        "value_histogram": q_value_histogram,
        "validate_rules": q_validate_rules,
        "ts_resample": q_ts_resample,
        "ts_ewma": q_ts_ewma,
        "ts_anomalies": q_ts_anomalies,
        "fuzzy_pairs": q_fuzzy_pairs,
        "graph_triangles": q_graph_triangles,
        "graph_pagerank": q_graph_pagerank,
        "zorder_key": q_zorder_key,
        "hll_registers": q_hll_registers,
        "cms_counters": q_cms_counters,
        "video_near_dup": q_video_near_dup,
        "decontaminate_fuzzy": q_decontaminate_fuzzy,
        "langid_predict": q_langid_predict,
        "langid_scores": q_langid_scores,
        "paragraph_lm_buckets": q_paragraph_lm_buckets,
        "ccnet_filter": q_ccnet_filter,
        "chi_square_assoc": q_chi_square_assoc,
        "mutual_info": q_mutual_info,
        "psi_drift": q_psi_drift,
        "fk_check": q_fk_check,
        "scd2_history": q_scd2_history,
        "skyline_frontier": q_skyline_frontier,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "curate_corpus": ORACLE_CURATE_CORPUS,
        "dedup_exact_inc": ORACLE_DEDUP_EXACT_INC,
        "dedup_paragraphs_inc": ORACLE_DEDUP_PARAGRAPHS_INC,
        "stream_dedup_inc": ORACLE_STREAM_DEDUP_INC,
        "dedup_exact_best": ORACLE_DEDUP_EXACT_BEST,
        "dedup_fuzzy_inc": ORACLE_DEDUP_FUZZY_INC,
        "curate_increment_corpus": ORACLE_CURATE_INCREMENT,
        # same oracle on purpose: curate_gc must be invisible to results
        "curate_gc_inc": ORACLE_CURATE_INCREMENT,
        "stream_curate_inc": ORACLE_STREAM_CURATE_INC,
        "stream_fuzzy_inc": ORACLE_STREAM_FUZZY_INC,
        "video_near_dup": ORACLE_VIDEO_NEAR_DUP,
        "decontaminate_fuzzy": ORACLE_DECONTAMINATE_FUZZY,
        "pricing_summary": ORACLE_PRICING,
        "revenue_by_nation": ORACLE_REVENUE_NATION,
        "top_customers": ORACLE_TOP_CUSTOMERS,
        "topk_per_group": ORACLE_TOPK_PER_GROUP,
        "semi_join": ORACLE_SEMI_JOIN,
        "anti_join": ORACLE_ANTI_JOIN,
        "running_total": ORACLE_RUNNING_TOTAL,
        "sessionize": ORACLE_SESSIONIZE,
        "event_windows": ORACLE_EVENT_WINDOWS,
        "stream_tumbling": ORACLE_STREAM_TUMBLING,
        "stream_sliding": ORACLE_STREAM_SLIDING,
        "gopher_quality": ORACLE_GOPHER_QUALITY,
        "repetition_ratios": ORACLE_REPETITION_RATIOS,
        "decontaminate": ORACLE_DECONTAMINATE,
        "bm25_rank": ORACLE_BM25_RANK,
        "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
        "pii_redact": ORACLE_PII_REDACT,
        "stream_session": ORACLE_STREAM_SESSION,
        "repeated_spans": ORACLE_REPEATED_SPANS,
        "kmeans_assign": ORACLE_KMEANS_ASSIGN,
        "lm_score": ORACLE_LM_SCORE,
        "pack_sequences": ORACLE_PACK_SEQUENCES,
        "semantic_near_dup": ORACLE_SEMANTIC_NEAR_DUP,
        "stream_dedup": ORACLE_STREAM_DEDUP,
        "table_profile": ORACLE_TABLE_PROFILE,
        "top_ngrams": ORACLE_TOP_NGRAMS,
        "source_mixing": ORACLE_SOURCE_MIXING,
        "event_funnel": ORACLE_EVENT_FUNNEL,
        "cohort_retention": ORACLE_COHORT_RETENTION,
        "clean_html": ORACLE_CLEAN_HTML,
        "url_normalize": ORACLE_URL_NORMALIZE,
        "dedup_paragraphs": ORACLE_DEDUP_PARAGRAPHS,
        "domain_cap": ORACLE_DOMAIN_CAP,
        "weighted_sample": ORACLE_WEIGHTED_SAMPLE,
        "logreg_predict": ORACLE_LOGREG_PREDICT,
        "logreg_step": ORACLE_LOGREG_STEP,
        "pq_encode": ORACLE_PQ_ENCODE,
        "bpe_pairs": ORACLE_BPE_PAIRS,
        "prototype_prune": ORACLE_PROTOTYPE_PRUNE,
        "pq_adc": ORACLE_PQ_ADC,
        "event_transitions": ORACLE_EVENT_TRANSITIONS,
        "value_histogram": ORACLE_VALUE_HISTOGRAM,
        "validate_rules": ORACLE_VALIDATE_RULES,
        "ts_resample": ORACLE_TS_RESAMPLE,
        "ts_ewma": ORACLE_TS_EWMA,
        "ts_anomalies": ORACLE_TS_ANOMALIES,
        "fuzzy_pairs": ORACLE_FUZZY_PAIRS,
        "graph_triangles": ORACLE_GRAPH_TRIANGLES,
        "graph_pagerank": ORACLE_GRAPH_PAGERANK,
        "zorder_key": ORACLE_ZORDER_KEY,
        "hll_registers": ORACLE_HLL_REGISTERS,
        "cms_counters": ORACLE_CMS_COUNTERS,
        "chi_square_assoc": ORACLE_CHI_SQUARE_ASSOC,
        "mutual_info": ORACLE_MUTUAL_INFO,
        "psi_drift": ORACLE_PSI_DRIFT,
        "fk_check": ORACLE_FK_CHECK,
        "scd2_history": ORACLE_SCD2_HISTORY,
        "skyline_frontier": ORACLE_SKYLINE_FRONTIER,
        "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
        "inverted_postings": ORACLE_INVERTED_POSTINGS,
        "json_extract_agg": ORACLE_JSON_EXTRACT_AGG,
        "ab_test": ORACLE_AB_TEST,
        "geo_radius_pairs": ORACLE_GEO_RADIUS_PAIRS,
        "impute_mean": ORACLE_IMPUTE_MEAN,
        "last_touch_attr": ORACLE_LAST_TOUCH_ATTR,
        "linear_attr": ORACLE_LINEAR_ATTR,
        "basket_rules": ORACLE_BASKET_RULES,
        "rolling_corr": ORACLE_ROLLING_CORR,
        "jaccard_pairs": ORACLE_JACCARD_PAIRS,
        "bloom_filter": ORACLE_BLOOM_FILTER,
        "combat_stats": ORACLE_COMBAT_STATS,
        "cbs_tstat": ORACLE_CBS_TSTAT,
        "stream_join": ORACLE_STREAM_JOIN,
        "tfidf_pairs": ORACLE_TFIDF_PAIRS,
        "apply_changes": ORACLE_APPLY_CHANGES,
        "k_anonymity": ORACLE_K_ANONYMITY,
        "bloom_prune": ORACLE_BLOOM_PRUNE,
        "bigram_lm": ORACLE_BIGRAM_LM,
        "dsir_weights": ORACLE_DSIR_WEIGHTS,
        "hist_quantiles": ORACLE_HIST_QUANTILES,
        "minimizer_sigs": ORACLE_MINIMIZER_SIGS,
        "minimizer_pairs": ORACLE_MINIMIZER_PAIRS,
        "calibration_bins": ORACLE_CALIBRATION_BINS,
        "winsorize": ORACLE_WINSORIZE,
        "quantile_bins": ORACLE_QUANTILE_BINS,
        "robust_zscore": ORACLE_ROBUST_ZSCORE,
        "exact_substr_spans": ORACLE_EXACT_SUBSTR_SPANS,
        "suffix_array_ranks": ORACLE_SUFFIX_ARRAY,
        "langid_predict": ORACLE_LANGID_PREDICT,
        "langid_scores": ORACLE_LANGID_SCORES,
        "paragraph_lm_buckets": ORACLE_PARAGRAPH_LM_BUCKETS,
        "ccnet_filter": ORACLE_CCNET_FILTER,
        "hard_negatives": ORACLE_HARD_NEGATIVES,
        "doremi_weights": ORACLE_DOREMI_WEIGHTS,
        "decontaminate_spans": ORACLE_DECONTAMINATE_SPANS,
        "exact_substr_dedup": ORACLE_EXACT_SUBSTR_DEDUP,
        "lineage_stage_cache": ORACLE_LINEAGE_STAGE_CACHE,
        "distinct_agg": ORACLE_DISTINCT_AGG,
        "median_by_brand": ORACLE_MEDIAN_BY_BRAND,
        "beta_values": ORACLE_BETA_VALUES,
        "m_values": ORACLE_M_VALUES,
        "bh_adjust": ORACLE_BH_ADJUST,
        "mask_nullout": ORACLE_MASK_NULLOUT,
        "merge_by_group": ORACLE_MERGE_BY_GROUP,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "token_stats": ORACLE_TOKEN_STATS,
        "lang_profile": ORACLE_LANG_PROFILE,
        "cosine_topk": ORACLE_COSINE_TOPK,
        "range_join_count": ORACLE_RANGE_JOIN_COUNT,
        "ecdf_pvalue": ORACLE_ECDF_PVALUE,
        "stouffer_groups": _oracle_stouffer(),
        "quantile_normalize": ORACLE_QUANTILE_NORMALIZE,
        "cnv_regression": ORACLE_CNV_REGRESSION,
        "pivot_wide": ORACLE_PIVOT_WIDE,
        "cube_agg": ORACLE_CUBE_AGG,
        "union_except": ORACLE_UNION_EXCEPT,
        "minhash_signatures": _oracle_minhash(),
        "simhash": _oracle_simhash(),
        "ngram_jaccard": _oracle_ngram_jaccard(),
        "infer_channel": ORACLE_INFER_CHANNEL,
        "total_ib_intensity": ORACLE_TOTAL_IB,
        "value_segments": ORACLE_VALUE_SEGMENTS,
        "corr_by_brand": ORACLE_CORR_BY_BRAND,
        "explode_tokens": ORACLE_EXPLODE_TOKENS,
        "mask_builders": ORACLE_MASK_BUILDERS,
        "probe_suffix_merge": ORACLE_PROBE_SUFFIX_MERGE,
        "typed_merge": ORACLE_TYPED_MERGE,
        "interval_anti_join": ORACLE_INTERVAL_ANTI_JOIN,
        "interval_cluster": ORACLE_INTERVAL_CLUSTER,
        "beta_distribution": ORACLE_BETA_DISTRIBUTION,
        "quality_scores": ORACLE_QUALITY_SCORES,
        "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
        "embedding_near_dup": ORACLE_EMBEDDING_NEAR_DUP,
        "ann_ivf": ORACLE_ANN_IVF,
        "rollup_agg": ORACLE_ROLLUP_AGG,
        "top_intensity_median": ORACLE_TOP_INTENSITY_MEDIAN,
        "top_dm_genes": ORACLE_TOP_DM_GENES,
        "asof_join": ORACLE_ASOF_JOIN,
        "media_decode": ORACLE_MEDIA_DECODE,
        "embedding_near_dup_lsh": _oracle_near_dup_lsh(),
        "ols_dmp": ORACLE_OLS_DMP,
        "sample_distances": ORACLE_SAMPLE_DISTANCES,
        "beta_density": ORACLE_BETA_DENSITY,
        "media_decode_jpeg": ORACLE_MEDIA_DECODE_JPEG,
        "pca_gram": ORACLE_PCA_GRAM,
        "dedup_components": _oracle_dedup_components(),
        "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
        "outer_join_counts": ORACLE_OUTER_JOIN_COUNTS,
        "scalar_subquery": ORACLE_SCALAR_SUBQUERY,
        "moving_avg_time": ORACLE_MOVING_AVG_TIME,
        "window_ranks": ORACLE_WINDOW_RANKS,
        "grouping_sets": ORACLE_GROUPING_SETS,
        "exists_shapes": ORACLE_EXISTS_SHAPES,
        "min_cost_match": ORACLE_MIN_COST_MATCH,
        "agg_equals_max": ORACLE_AGG_EQUALS_MAX,
        "skew_salted_agg": ORACLE_SKEW_SALTED_AGG,
        "hash_split": ORACLE_HASH_SPLIT,
        "bpe_token_stats": ORACLE_BPE_TOKEN_STATS,
        "unpivot_melt": ORACLE_UNPIVOT_MELT,
        **_tpch.ORACLES,
    }
