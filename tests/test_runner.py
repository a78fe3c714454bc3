"""Golden test for the report runner (SURVEY.md §5.2): the exact
R6-R13 reference pipeline on a market-data-shaped CSV, outputs checked
value-by-value including the NULL-first-row and zero-divisor semantics,
plus the empty-range branch, validation errors, the request's cache
release and its Spark job budget."""

from __future__ import annotations

import csv
import os

import pytest

from bigdata_financial_reporting_spark.runner import run_report, validate_date

CSV_CONTENT = """Date,DOLAR,S&P500
2024-01-01,5.0,100.0
2024-01-02,5.5,110.0
2024-01-03,0.0,99.0
2024-01-04,6.0,120.0
2024-01-05,6.0,0.0
2024-01-06,3.0,50.0
"""


@pytest.fixture()
def dataset(tmp_path):
    p = os.path.join(str(tmp_path), "market_data.csv")
    with open(p, "w") as f:
        f.write(CSV_CONTENT)
    return p


def _read_csv(path):
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def _read_rows(path):
    with open(path, newline="") as f:
        return list(csv.reader(f))


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_golden_report(spark, dataset, tmp_path):
    out = os.path.join(str(tmp_path), "out")
    res = run_report(spark, dataset, "2024-01-02", "2024-01-05", out)

    assert res["daily_returns_count"] == 4
    assert not res["empty"]
    assert sorted(res["assets"]) == ["DOLAR", "S&P500"]

    rows = _read_csv(res["daily_returns_path"])
    assert [r["Date"] for r in rows] == [
        "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05",
    ]
    # First row of the RANGE has no predecessor -> NULL (empty cell)
    assert rows[0]["DOLAR_Retorno"] == ""
    # 5.5 -> 0.0 is -100%
    assert float(rows[1]["DOLAR_Retorno"]) == pytest.approx(-100.0)
    # 0.0 -> 6.0 divides by zero -> NULL, not an error (ANSI off)
    assert rows[2]["DOLAR_Retorno"] == ""
    assert float(rows[3]["DOLAR_Retorno"]) == pytest.approx(0.0)

    # S&P500: 110->99 = -10%, 99->120 = +21.2121…%, 120->0 = -100%
    assert float(rows[1]["S&P500_Retorno"]) == pytest.approx(-10.0)
    assert float(rows[2]["S&P500_Retorno"]) == pytest.approx(2100 / 99)
    assert float(rows[3]["S&P500_Retorno"]) == pytest.approx(-100.0)

    # Averages skip NULLs: DOLAR mean over (-100, 0) = -50
    avg = res["averages"]
    assert avg["Media_DOLAR_Retorno"] == pytest.approx(-50.0)
    assert avg["Media_S&P500_Retorno"] == pytest.approx((-10.0 + 2100 / 99 - 100.0) / 3)

    # The averages CSV exists and matches the summary
    avg_rows = _read_csv(res["average_daily_return_path"])
    assert len(avg_rows) == 1
    assert float(avg_rows[0]["Media_DOLAR_Retorno"]) == pytest.approx(-50.0)


def test_empty_range_branch(spark, dataset, tmp_path):
    res = run_report(
        spark, dataset, "2030-01-01", "2030-12-31", os.path.join(str(tmp_path), "o")
    )
    assert res["empty"] and res["daily_returns_count"] == 0
    assert res["averages"] == {}
    # Header only: the range holds no rows.
    assert _read_rows(res["daily_returns_path"]) == [
        ["Date", "DOLAR", "S&P500", "DOLAR_Retorno", "S&P500_Retorno"]
    ]
    # A global aggregate over no rows is one row of NULLs (empty cells).
    assert _read_rows(res["average_daily_return_path"]) == [
        ["Media_DOLAR_Retorno", "Media_S&P500_Retorno"],
        ["", ""],
    ]


def test_validation_errors(spark, dataset, tmp_path):
    out = os.path.join(str(tmp_path), "o")
    with pytest.raises(ValueError, match="yyyy-MM-dd"):
        run_report(spark, dataset, "01/02/2024", "2024-01-05", out)
    with pytest.raises(ValueError, match="precedes"):
        run_report(spark, dataset, "2024-01-05", "2024-01-02", out)
    with pytest.raises(ValueError, match="no 'Fecha'"):
        run_report(spark, dataset, "2024-01-02", "2024-01-05", out, date_col="Fecha")
    validate_date("2024-02-29")  # leap day is fine
    # strptime accepts unpadded fields; the report contract does not.
    with pytest.raises(ValueError, match="yyyy-MM-dd"):
        validate_date("2024-1-9")
    # As strings "2024-1-9" > "2024-1-10"; the range is refused for its
    # format, not reported as reversed.
    with pytest.raises(ValueError, match="yyyy-MM-dd"):
        run_report(spark, dataset, "2024-1-9", "2024-1-10", out)
    # The order check compares dates: a range across a year boundary.
    res = run_report(spark, dataset, "2023-12-31", "2024-01-01", out)
    assert res["daily_returns_count"] == 1


def test_multipart_output_mode(spark, dataset, tmp_path):
    out = os.path.join(str(tmp_path), "o")
    res = run_report(
        spark, dataset, "2024-01-01", "2024-01-06", out, single_file=False
    )
    # directories of part files, standard Spark layout
    for key in ("daily_returns_path", "average_daily_return_path"):
        assert os.path.isdir(res[key])
        parts = [p for p in os.listdir(res[key]) if p.startswith("part-")]
        assert parts


def test_request_frees_its_cache(spark, dataset, tmp_path):
    """``daily`` is persisted for one request only: freed after a
    successful request and after one whose write fails."""
    before = _persistent_rdds(spark)
    run_report(spark, dataset, "2024-01-02", "2024-01-05", os.path.join(str(tmp_path), "ok"))
    assert _persistent_rdds(spark) == before

    blocker = os.path.join(str(tmp_path), "blocker")
    with open(blocker, "w") as f:
        f.write("a regular file, not a directory\n")
    with pytest.raises(OSError):
        run_report(spark, dataset, "2024-01-02", "2024-01-05", os.path.join(blocker, "out"))
    assert _persistent_rdds(spark) == before


def test_job_budget(spark, dataset, tmp_path):
    """Guard against actions creeping back into the request. Measured at
    7 jobs on Spark 4.1: two for the inferSchema read, one for the
    window's shuffle map stage that builds the cached ``daily``, one for
    the daily CSV write, two for the averages write (its aggregate's map
    stage, then the write) and one for ``first()``."""
    sc = spark.sparkContext
    group = "test_runner_job_budget"
    sc.setJobGroup(group, group)
    try:
        run_report(spark, dataset, "2024-01-02", "2024-01-05", os.path.join(str(tmp_path), "o"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # The status tracker is fed by the listener bus; drain it first.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 7
