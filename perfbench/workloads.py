"""The workloads, their operations and their correctness gates.

One operation on a registry key is: build the plan with
``QUERIES[k].fn(spark, data_dir)`` (including any eager jobs or stream
drains the key runs), materialize every column through the ``noop``
sink, and release the operator caches. It therefore pays for its own
operator persists. One ``report`` operation is one
``run_report(..., single_file=True)`` request over a seeded date range.
"""

from __future__ import annotations

import csv
import math
import os
from dataclasses import dataclass

import duckdb

from bigdata_financial_reporting_spark.operators.cache import release_operator_caches
from bigdata_financial_reporting_spark.oracle_compare import (
    canon_digest,
    compare_digest_entry,
    entry_green,
    fetch_duck,
    fetch_spark,
    tune_duck,
)
from bigdata_financial_reporting_spark.queries import QUERIES
from bigdata_financial_reporting_spark.runner import run_report

from datagen import TABLES, asset_names


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]  # registry keys; empty for ``report``
    # Nominal seconds per pass (per request for ``report``) on two cores.
    pass_s: float
    # Untimed passes after the collecting pass. ``report`` needs three:
    # its requests are mostly driver-side Catalyst work, which is still
    # getting faster under the JIT after two.
    warm: int
    scale: float = 0.01

    def passes(self, seconds: float) -> int:
        """Whole passes per run: a fixed operation count for a given
        ``--seconds``, so every run measures the same mix."""
        return max(1, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload("report", (), pass_s=2.5, warm=3),
        Workload(
            "analytics",
            (
                "tpch_q1",
                "fin_macd_daily",
                "ref_daily_returns_scalable",
                "sim_cosine_topk_vectorized",
                "stream_content_dedup",
            ),
            pass_s=5.5,
            warm=0,
        ),
    )
}

REPORT_ASSETS = 32
REPORT_DAYS = 2520


def registry_op(spark, key: str, data_dir: str, tr) -> None:
    with tr.span("build"):
        df = QUERIES[key].fn(spark, data_dir)
    tr.plan(df)
    with tr.span("action"):
        df.write.format("noop").mode("overwrite").save()
    tr.cache_bytes(spark)
    with tr.span("release"):
        released = release_operator_caches()
    tr.count("operators.cache.frames_released", released)


def registry_digest(spark, key: str, data_dir: str) -> dict:
    """Warm-up pass for one key: collect its whole result once and keep
    the canonical digest for the oracle comparison."""
    digest = canon_digest(*fetch_spark(QUERIES[key].fn(spark, data_dir)))
    release_operator_caches()
    return digest


def registry_oracle(data_dir: str, digests: dict[str, dict]) -> dict[str, bool]:
    """Key -> whether Spark's digest equals its DuckDB oracle's."""
    con = duckdb.connect()
    tune_duck(con)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for key, digest in digests.items():
        oracle = canon_digest(*fetch_duck(con, QUERIES[key].oracle))
        out[key] = entry_green(compare_digest_entry(digest, oracle))
    con.close()
    return out


def report_ranges(rng, days: list[str], n: int) -> list[tuple[str, str]]:
    """``n`` seeded inclusive date ranges of 60 to 720 trading days."""
    out = []
    for _ in range(n):
        length = int(rng.integers(60, 721))
        lo = int(rng.integers(0, len(days) - length))
        out.append((days[lo], days[lo + length - 1]))
    return out


def report_op(spark, csv_path: str, lo: str, hi: str, out_dir: str, tr) -> None:
    with tr.span("action"):
        run_report(spark, csv_path, lo, hi, out_dir, single_file=True)


def _close(a: float | None, b: float | None, rel: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=rel)


def _read_csv(path: str) -> tuple[list[str], list[list[str]]]:
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    return rows[0], rows[1:]


def report_check(con, csv_path: str, lo: str, hi: str, out_dir: str) -> bool:
    """Compare one report's two CSVs with DuckDB recomputing the same
    report over the same input: same header, rows and dates; returns
    equal to 1e-12 and averages to 1e-9 relative (Spark sums the
    averages in another order)."""
    assets = asset_names(REPORT_ASSETS)
    cols = ", ".join(f"'{a}': 'DOUBLE'" for a in assets)
    price = [f'coalesce("{a}", 0)' for a in assets]
    daily_sql = f"""
        SELECT strftime("Date", '%Y-%m-%d'),
               {", ".join(price)},
               {", ".join(f"({p} / lag({p}) OVER w - 1) * 100" for p in price)}
        FROM read_csv('{csv_path}', header = true,
                      columns = {{'Date': 'DATE', {cols}}})
        WHERE "Date" BETWEEN DATE '{lo}' AND DATE '{hi}'
        WINDOW w AS (ORDER BY "Date")
        ORDER BY "Date"
    """
    want = con.execute(daily_sql).fetchall()
    header, got = _read_csv(os.path.join(out_dir, "daily_returns.csv"))
    if header != ["Date"] + assets + [f"{a}_Retorno" for a in assets] or len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[0] != w[0]:
            return False
        if not all(
            _close(float(x) if x != "" else None, y, 1e-12) for x, y in zip(g[1:], w[1:])
        ):
            return False
    n = len(assets)
    avgs = [
        sum(r[1 + n + i] for r in want if r[1 + n + i] is not None) for i in range(n)
    ]
    counts = [sum(r[1 + n + i] is not None for r in want) for i in range(n)]
    header, got = _read_csv(os.path.join(out_dir, "average_daily_return.csv"))
    if header != [f"Media_{a}_Retorno" for a in assets] or len(got) != 1:
        return False
    return all(
        _close(float(x) if x != "" else None, s / c if c else None, 1e-9)
        for x, s, c in zip(got[0], avgs, counts)
    )
