"""Report job runner — the engine's equivalent of the reference's
entry points (SURVEY.md §3).

The reference runs ``spark-submit script.py <initial> <final> <job_id>
<dataset>`` as a subprocess, stages data through HDFS CLI calls, and
reassembles coalesced part files by hand (reference controller/
app.py:294-358, 360-429, 457-491; controller/script.py:110-123). Here
the same job is one in-process function call: read -> fillna ->
date-range filter -> per-asset daily % returns (lag window) -> global
averages -> CSV outputs + a collected summary.

Shape of one request: the CSV is scanned once and every
``<asset>_Retorno`` column comes from a single Window projection, so
Catalyst analyzes the window once, not once per asset. The date-sorted
``daily`` frame is persisted for the request and freed in a ``finally``
block, also when a write fails. Three actions read it: the daily CSV
write, the averages CSV write, and one ``first()`` of an aggregate that
carries the row count next to the averages.

Parity notes (golden-tested in tests/test_runner.py):

- Output naming matches the reference: per-asset return columns are
  ``<asset>_Retorno``, averages are ``Media_<asset>_Retorno``
  (script.py:41-45, 96-99), files are ``daily_returns.csv`` and
  ``average_daily_return.csv`` (app.py:470-491).
- First row of the range and zero-price divisors produce NULL returns;
  the averages skip NULLs (§7.5 semantics, ANSI off).
- The wide market-data layout (one column per asset) keeps the global
  ``Window.orderBy(date)`` of the reference. That is a deliberate
  small-data compatibility surface — report inputs are a few thousand
  rows. The scale path for long/tall series is the per-key pipeline
  (queries/reference_pipeline.py::ref_per_user_returns).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.session import pin_semantics
from bigdata_financial_reporting_spark.sources.readers import read_csv
from bigdata_financial_reporting_spark.sources.writers import write_single_csv


def _parse_date(s: str, name: str) -> dt.date:
    """Canonical yyyy-MM-dd only: ``2024-1-9`` parses under ``strptime``
    but does not format back to itself, so it is refused."""
    try:
        d = dt.datetime.strptime(s, "%Y-%m-%d").date()
    except (ValueError, TypeError) as exc:
        raise ValueError(f"{name} must be yyyy-MM-dd, got {s!r}") from exc
    if d.isoformat() != s:
        raise ValueError(f"{name} must be yyyy-MM-dd, got {s!r}")
    return d


def validate_date(s: str, name: str = "date") -> str:
    """yyyy-MM-dd validation (mirrors reference script.py:7-15)."""
    _parse_date(s, name)
    return s


def run_report(
    spark: SparkSession,
    dataset_path: str,
    initial_date: str,
    final_date: str,
    output_dir: str,
    date_col: str = "Date",
    single_file: bool = True,
) -> dict:
    """Run the reference report job end-to-end; returns a summary dict.

    ``single_file=True`` reproduces the reference's one-CSV-per-output
    contract; ``False`` writes standard multi-part CSV directories (the
    scale default — SURVEY.md §7.4).
    """
    lo = _parse_date(initial_date, "initial_date")
    if _parse_date(final_date, "final_date") < lo:
        raise ValueError(f"final_date {final_date} precedes initial_date {initial_date}")
    pin_semantics(spark)

    # R6: header + inferSchema CSV contract of the reference.
    df = read_csv(spark, dataset_path, header=True, infer_schema=True)
    if date_col not in df.columns:
        raise ValueError(f"dataset has no {date_col!r} column: {df.columns}")
    assets = [c for c in df.columns if c != date_col]
    if not assets:
        raise ValueError("dataset has no asset columns")

    # R7 + R8: null fill, inclusive date range.
    filtered = df.na.fill(0).filter(
        (F.col(date_col) >= initial_date) & (F.col(date_col) <= final_date)
    )

    # R9-R11: global date order (small report inputs), one return column
    # per asset, all in one projection. Backtick-quote names — `S&P500`
    # is a legal asset name.
    date = F.col(f"`{date_col}`")
    w = Window.orderBy(date)
    daily = filtered.select(
        "*",
        *[
            ((F.col(f"`{a}`") / F.lag(F.col(f"`{a}`")).over(w) - 1) * 100).alias(
                f"{a}_Retorno"
            )
            for a in assets
        ],
    ).orderBy(date).persist()

    daily_path = os.path.join(output_dir, "daily_returns.csv")
    avg_path = os.path.join(output_dir, "average_daily_return.csv")
    try:
        # R12: global averages (NULL returns skipped by avg), with the
        # row count folded into the same aggregate.
        stats = daily.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.avg(F.col(f"`{a}_Retorno`")).alias(f"Media_{a}_Retorno")
                for a in assets
            ],
        )
        averages = stats.drop("__n")
        if single_file:
            write_single_csv(daily, daily_path)
            write_single_csv(averages, avg_path)
        else:
            daily.write.mode("overwrite").option("header", "true").csv(daily_path)
            averages.write.mode("overwrite").option("header", "true").csv(avg_path)

        # R16/R17: collected summary + empty-range signal.
        row = stats.first().asDict()
    finally:
        daily.unpersist()
    n = row.pop("__n")
    return {
        "daily_returns_count": n,
        "empty": n == 0,
        "averages": row if n else {},
        "daily_returns_path": daily_path,
        "average_daily_return_path": avg_path,
        "assets": assets,
    }
