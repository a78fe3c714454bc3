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
Catalyst analyzes the window once, not once per asset. Every per-asset
expression (returns, averages) and the date filter are SQL text the JVM
parses in one call per projection; names are backtick-quoted by
``_q``. The date-sorted ``daily`` frame is persisted for the request
and freed in a ``finally`` block, also when a write fails. Two actions
read it: the daily CSV write and one ``first()`` of an aggregate that
carries the row count next to the averages. In ``single_file`` mode
that row also carries the averages file's header and line, formatted by
``to_csv`` (the CSV writer's own generator), and the driver writes the
file; the multi-part mode writes the aggregate with Spark as well.

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
import time

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from bigdata_financial_reporting_spark.session import pin_semantics
from bigdata_financial_reporting_spark.sources.readers import read_csv
from bigdata_financial_reporting_spark.sources.writers import write_single_csv


def _q(name: str) -> str:
    """Backtick-quoted identifier for SQL text; an embedded backtick is
    doubled, so any CSV header name is a legal column reference."""
    return "`" + name.replace("`", "``") + "`"


def _str_lit(s: str) -> str:
    """Single-quoted SQL string literal (backslash escapes, the parser's
    default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


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

    ``timings_s`` holds each phase's driver wall time: ``read`` (the
    inferSchema scan and the schema checks), ``build`` (the plan),
    ``write_daily``, ``summary`` (the one ``first()`` of the aggregate)
    and ``write_averages``.
    """
    lo = _parse_date(initial_date, "initial_date")
    if _parse_date(final_date, "final_date") < lo:
        raise ValueError(f"final_date {final_date} precedes initial_date {initial_date}")
    pin_semantics(spark)

    # R6: header + inferSchema CSV contract of the reference.
    t = time.perf_counter()
    df = read_csv(spark, dataset_path, header=True, infer_schema=True)
    types = {f.name: f.dataType for f in df.schema.fields}
    if date_col not in types:
        raise ValueError(f"dataset has no {date_col!r} column: {list(types)}")
    assets = [c for c in types if c != date_col]
    if not assets:
        raise ValueError("dataset has no asset columns")
    # One corrupt cell types its whole column as a string, which fillna
    # skips and the returns cast implicitly. A header-only file infers
    # every column, the date included, as a string and stays accepted.
    if isinstance(types[date_col], (T.DateType, T.TimestampType, T.TimestampNTZType)):
        bad = [
            f"{a!r} ({types[a].simpleString()})"
            for a in assets
            if not isinstance(types[a], T.NumericType)
        ]
        if bad:
            raise ValueError(f"non-numeric asset columns: {', '.join(bad)}")
    timings = {"read": time.perf_counter() - t}

    # Every per-asset expression is SQL text, parsed by the JVM in one
    # call per projection; Column objects cost dozens of Py4J round
    # trips per asset. The date literals are canonical (_parse_date).
    t = time.perf_counter()
    date = _q(date_col)
    rets = [f"{a}_Retorno" for a in assets]
    names = [f"Media_{a}_Retorno" for a in assets]
    # R7 + R8: null fill, inclusive date range. R9-R11: global date
    # order (small report inputs), one return column per asset, all in
    # one Window projection.
    daily = (
        df.na.fill(0)
        .filter(f"{date} >= '{initial_date}' AND {date} <= '{final_date}'")
        .selectExpr(
            "*",
            *[
                f"({_q(a)} / lag({_q(a)}) OVER (ORDER BY {date}) - 1) * 100 AS {_q(r)}"
                for a, r in zip(assets, rets)
            ],
        )
        .orderBy(date)
        .persist()
    )
    # R12: global averages (NULL returns skipped by avg), with the row
    # count folded into the same aggregate.
    stats = daily.selectExpr(
        "count(1) AS __n", *[f"avg({_q(r)}) AS {_q(m)}" for r, m in zip(rets, names)]
    )
    if single_file:
        # The averages file is formatted by the CSV writer's own
        # generator next to the aggregate, so one first() yields it.
        # to_csv fails on a one-field all-NULL struct; Spark's writer
        # writes that row as nothing, so the file is the header only.
        line_sql = f"to_csv(struct({', '.join(map(_q, names))}))"
        if len(names) == 1:
            line_sql = f"IF({_q(names[0])} IS NULL, NULL, {line_sql})"
        header_sql = f"to_csv(struct({', '.join(map(_str_lit, names))}))"
        stats = stats.selectExpr("*", f"{line_sql} AS __line", f"{header_sql} AS __header")
    timings["build"] = time.perf_counter() - t

    daily_path = os.path.join(output_dir, "daily_returns.csv")
    avg_path = os.path.join(output_dir, "average_daily_return.csv")
    try:
        t = time.perf_counter()
        if single_file:
            write_single_csv(daily, daily_path)
        else:
            daily.write.mode("overwrite").option("header", "true").csv(daily_path)
        timings["write_daily"] = time.perf_counter() - t

        # R16/R17: collected summary + empty-range signal.
        t = time.perf_counter()
        row = stats.first().asDict()
        timings["summary"] = time.perf_counter() - t

        t = time.perf_counter()
        if single_file:
            line = row.pop("__line")
            text = row.pop("__header") + "\n" + ("" if line is None else line + "\n")
            with open(avg_path, "w", encoding="utf-8", newline="") as fh:
                fh.write(text)
        else:
            stats.drop("__n").write.mode("overwrite").option("header", "true").csv(avg_path)
        timings["write_averages"] = time.perf_counter() - t
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
        "timings_s": timings,
    }
