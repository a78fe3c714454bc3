"""The reference's one query shape, re-expressed Spark-first.

Reference pipeline (controller/script.py:22-100): CSV scan -> fillna(0)
-> date-range filter -> global lag window -> daily % return columns ->
global avg -> CSV sinks. Here it runs on the ``events`` fixture:
``value`` plays the price series, ``ts`` the date.

Scale notes: the reference's ``Window.orderBy`` with no partitionBy
(script.py:39) collapses all rows onto one task. The registry keeps
that shape only as the small-input compatibility query
(``ref_daily_returns``); the scale-correct form is
``ref_per_user_returns`` (partitioned by series key), which is also the
flagship ``entry()`` pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.queries.registry import register
from bigdata_financial_reporting_spark.sources.catalog import load_table

LO, HI = "2024-01-05 00:00:00", "2024-01-12 00:00:00"


def _filtered_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # na.fill mirrors reference R7 (script.py:87); fixture has no nulls
    # but semantics are pinned: zero divisors yield NULL returns.
    return ev.na.fill(0).filter((F.col("ts") >= LO) & (F.col("ts") < HI))


@register(
    "ref_daily_returns",
    oracle=f"""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           round(value, 6) AS value,
           round((value / lag(value) OVER (ORDER BY ts, event_id) - 1) * 100, 6) AS ret
    FROM events
    WHERE ts >= TIMESTAMP '{LO}' AND ts < TIMESTAMP '{HI}'
    """,
    category="reference",
)
def ref_daily_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8-R11: range filter -> global lag window -> % return.

    Global-order window = reference compatibility mode (small inputs
    only). Tie-break on event_id pins determinism.
    """
    w = Window.orderBy("ts", "event_id")
    return _filtered_events(spark, sf_dir).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.round("value", 6).alias("value"),
        F.round((F.col("value") / F.lag("value").over(w) - 1) * 100, 6).alias("ret"),
    )


@register(
    "ref_avg_daily_return",
    oracle=f"""
    WITH r AS (
      SELECT (value / lag(value) OVER (ORDER BY ts, event_id) - 1) * 100 AS ret
      FROM events
      WHERE ts >= TIMESTAMP '{LO}' AND ts < TIMESTAMP '{HI}'
    )
    SELECT round(avg(ret), 6) AS avg_ret, count(*) AS n_rows FROM r
    """,
    category="reference",
)
def ref_avg_daily_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12: global avg over the return column (avg skips the first-row
    NULL, matching reference semantics)."""
    w = Window.orderBy("ts", "event_id")
    rets = _filtered_events(spark, sf_dir).select(
        ((F.col("value") / F.lag("value").over(w) - 1) * 100).alias("ret")
    )
    return rets.agg(
        F.round(F.avg("ret"), 6).alias("avg_ret"), F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "ref_daily_returns_scalable",
    oracle=f"""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           round(value, 6) AS value,
           round((value / lag(value) OVER (ORDER BY ts, event_id) - 1) * 100, 6) AS ret
    FROM events
    WHERE ts >= TIMESTAMP '{LO}' AND ts < TIMESTAMP '{HI}'
    """,
    category="reference",
)
def ref_daily_returns_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME global-order result as ref_daily_returns, computed
    scalably: parallel lag within split-point buckets + a broadcast
    boundary stitch instead of the reference's all-rows-to-one-task window
    (operators/global_window.py). Identical oracle to ref_daily_returns
    — the rewrite must be invisible in the values."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_pct_change,
    )

    ev = _filtered_events(spark, sf_dir)
    out = global_pct_change(ev, ["ts", "event_id"], "value", "ret")
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.round("value", 6).alias("value"),
        F.round("ret", 6).alias("ret"),
    )


@register(
    "ref_per_user_returns",
    oracle=f"""
    WITH r AS (
      SELECT user_id,
             (value / lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) * 100 AS ret
      FROM events
      WHERE ts >= TIMESTAMP '{LO}' AND ts < TIMESTAMP '{HI}'
    )
    SELECT user_id, round(avg(ret), 6) AS avg_ret, count(ret) AS n_ret
    FROM r GROUP BY user_id
    """,
    category="reference",
)
def ref_per_user_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-correct reference pipeline: per-series (user) partitioned
    window, then per-series mean return. One shuffle on user_id; no
    single-partition collapse."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rets = _filtered_events(spark, sf_dir).select(
        "user_id",
        ((F.col("value") / F.lag("value").over(w) - 1) * 100).alias("ret"),
    )
    return rets.groupBy("user_id").agg(
        F.round(F.avg("ret"), 6).alias("avg_ret"), F.count("ret").alias("n_ret")
    )


@register(
    "ref_report_bundle",
    oracle=f"""
    WITH r AS (
      SELECT user_id, ts, event_id, value,
             (value / lag(value) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) - 1) * 100 AS ret
      FROM events
      WHERE ts >= TIMESTAMP '{LO}' AND ts < TIMESTAMP '{HI}'
    )
    SELECT user_id,
           count(*) AS n_obs,
           round(avg(ret), 6) AS avg_ret,
           round(stddev_samp(ret), 6) AS vol,
           round(min(value), 6) AS low,
           round(max(value), 6) AS high,
           round(arg_min(value, epoch_us(ts)::HUGEINT * 10000000 + event_id), 6) AS open,
           round(arg_max(value, epoch_us(ts)::HUGEINT * 10000000 + event_id), 6) AS close,
           round((arg_max(value, epoch_us(ts)::HUGEINT * 10000000 + event_id)
                  / arg_min(value, epoch_us(ts)::HUGEINT * 10000000 + event_id) - 1) * 100, 6)
             AS period_ret
    FROM r GROUP BY user_id
    """,
    category="reference",
)
def ref_report_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's emailed REPORT as one dataflow (controller/
    app.py:457-491 computes returns, then :563-618 renders and :661
    mails a per-series summary): per series, the observation count,
    mean and volatility of daily returns, the period's low/high, the
    open/close (first/last by time — min_by/max_by on the (ts,
    event_id) key, so no second window), and the period return. One
    partitioned window + one map-side-combined aggregate — the whole
    report at 100 TB costs the same single series-keyed shuffle as
    ref_per_user_returns."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = _filtered_events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        ((F.col("value") / F.lag("value").over(w) - 1) * 100).alias("ret"),
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    opn = F.min_by("value", key)
    cls = F.max_by("value", key)
    return r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(F.avg("ret"), 6).alias("avg_ret"),
        F.round(F.stddev_samp("ret"), 6).alias("vol"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(opn, 6).alias("open"),
        F.round(cls, 6).alias("close"),
        F.round((cls / opn - 1) * 100, 6).alias("period_ret"),
    )
