"""Engine API surface tests (SURVEY.md §5.6): writer helpers, odd
column names (the reference's `S&P500` with `&` — controller/app.py:121),
catalog schemas, and the reference pipeline's NULL semantics
(first-row lag NULL, zero-divisor NULL — SURVEY.md §7.5)."""

from __future__ import annotations

import csv
import os

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.sources.catalog import (
    TABLE_SCHEMAS,
    load_table,
)
from bigdata_financial_reporting_spark.sources.writers import (
    write_single_csv,
)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def test_catalog_loads_all_tables_with_declared_schema(spark, sf_dir):
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        assert df.columns, t
        declared = TABLE_SCHEMAS.get(t)
        if declared is not None and t != "events":
            assert [f.name for f in declared.fields] == df.columns, t
        assert df.limit(1).count() in (0, 1)


def test_write_single_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b="y,z"), Row(a=3, b=None)]
    )
    out = os.path.join(str(tmp_path), "sub", "result.csv")
    write_single_csv(df.orderBy("a"), out)
    assert os.path.isfile(out)
    with open(out, newline="") as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["a", "b"]
    assert rows[1] == ["1", "x"]
    assert rows[2] == ["2", "y,z"]  # quoting survived
    assert len(rows) == 4


def test_odd_column_names_survive_engine_and_sql(spark):
    """The reference produces a column literally named `S&P500`
    (controller/app.py:119-124); engine + SQL paths must handle it."""
    df = spark.createDataFrame(
        [Row(Date="2024-01-01", v=100.0), Row(Date="2024-01-02", v=101.0)]
    ).withColumnsRenamed({"v": "S&P500"})
    assert "S&P500" in df.columns
    w = Window.orderBy("Date")
    ret = df.withColumn(
        "S&P500_Retorno", (F.col("`S&P500`") / F.lag("`S&P500`").over(w) - 1) * 100
    )
    rows = ret.orderBy("Date").collect()
    assert rows[0]["S&P500_Retorno"] is None
    assert abs(rows[1]["S&P500_Retorno"] - 1.0) < 1e-9
    # SQL path with backtick quoting
    df.createOrReplaceTempView("market")
    out = spark.sql("SELECT `S&P500` AS sp FROM market ORDER BY Date").collect()
    assert [r.sp for r in out] == [100.0, 101.0]


def test_reference_pipeline_null_semantics(spark):
    """Golden behaviors from the reference (script.py:42-44,87):
    - first row of each series: lag is NULL -> return is NULL
    - fillna(0) zero prices: division by zero -> NULL (ANSI off)
    - avg skips the NULLs"""
    df = spark.createDataFrame(
        [
            Row(d="2024-01-01", p=None),
            Row(d="2024-01-02", p=100.0),
            Row(d="2024-01-03", p=110.0),
        ],
        "d string, p double",
    ).na.fill(0)
    w = Window.orderBy("d")
    ret = df.withColumn("r", (F.col("p") / F.lag("p").over(w) - 1) * 100)
    rows = ret.orderBy("d").collect()
    assert rows[0].p == 0.0, "fillna(0) must replace the null price"
    assert rows[0].r is None, "first row: lag undefined"
    assert rows[1].r is None, "0 divisor must yield NULL, not an error"
    assert abs(rows[2].r - 10.0) < 1e-9
    avg = ret.agg(F.avg("r")).first()[0]
    assert abs(avg - 10.0) < 1e-9, "avg must skip NULL returns"


def test_events_nanos_timestamp_readable(spark, sf_dir):
    """events.parquet carries TIMESTAMP(NANOS); the catalog must expose
    a usable timestamp column (nanosAsLong + micros conversion)."""
    ev = load_table(spark, sf_dir, "events")
    r = ev.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    assert r.lo is not None and r.hi is not None
    assert r.lo.year >= 2020 and r.hi.year <= 2030


def test_observe_collects_metrics_without_second_pass(spark, sf_dir):
    """``DataFrame.observe``: QC metrics (row count, null count, sum)
    ride along with the SAME action that materializes the result — no
    second scan. The contract a production ingest uses to validate
    while writing."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bigdata_financial_reporting_spark.sources.catalog import load_table

    obs = Observation("ingest_qc")
    o = load_table(spark, sf_dir, "orders")
    df = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice")).alias("price_sum"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_keys"),
    ).filter(F.col("o_totalprice") > 0)
    n_out = df.count()
    got = obs.get
    assert got["n_rows"] >= n_out > 0
    assert got["null_keys"] == 0
    assert got["price_sum"] > 0


def test_try_arithmetic_null_path_exists_at_test_sf(spark, sf_dir):
    """Round-6 advisory item 5: fn_try_arithmetic's central behavior is
    NULL on division by zero, so the fixture slice must actually
    CONTAIN zero divisors at every driver scale — an all-non-NULL
    safe_div column would green-light the key without ever exercising
    the try_divide path. Pins >= 1 NULL and >= 1 non-NULL safe_div."""
    from bigdata_financial_reporting_spark.queries import QUERIES

    rows = QUERIES["fn_try_arithmetic"].fn(spark, sf_dir).collect()
    nulls = sum(1 for r in rows if r["safe_div"] is None)
    assert nulls >= 1, "no zero-divisor row in the slice: NULL path untested"
    assert nulls < len(rows), "all-NULL safe_div: the happy path is untested"


def test_entry_exports_registry_order():
    """The driver contract exports the registry as it is: every key, in
    registry order, and an oracle for exactly the keys that have one."""
    import __spark_entry__

    from bigdata_financial_reporting_spark.queries import QUERIES

    assert list(__spark_entry__.queries()) == list(QUERIES)
    assert list(__spark_entry__.oracle_sql()) == [
        k for k, s in QUERIES.items() if s.oracle is not None
    ]
