"""Golden test for the report runner (SURVEY.md §5.2): the exact
R6-R13 reference pipeline on a market-data-shaped CSV, outputs checked
value-by-value including the NULL-first-row and zero-divisor semantics,
plus the empty-range branch, validation errors, asset names that need
quoting, non-numeric asset columns, per-phase timings, the request's
cache release and its Spark job and Py4J budgets."""

from __future__ import annotations

import csv
import gc
import os
import time

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


# Header names that need CSV quoting, SQL quoting or both; the last one
# holds a backtick, which must be doubled inside a quoted identifier.
SPECIAL_CSV = (
    "Date,\"A,B\",\"say \\\"hi\\\"\",it's,back\\slash,BRK.B,S&P500,my asset,A`B\n"
    "2024-01-01,1,2,4,10,5,8,1,2\n"
    "2024-01-02,2,3,2,10,10,4,3,1\n"
    "2024-01-03,4,6,3,5,5,8,6,3\n"
)
SPECIAL_NAMES = ["A,B", 'say "hi"', "it's", "back\\slash", "BRK.B", "S&P500", "my asset", "A`B"]


def _write(tmp_path, name, text):
    p = os.path.join(str(tmp_path), name)
    with open(p, "w") as f:
        f.write(text)
    return p


@pytest.fixture()
def dataset(tmp_path):
    return _write(tmp_path, "market_data.csv", CSV_CONTENT)


def _read_csv(path):
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def _read_rows(path):
    with open(path, newline="") as f:
        return list(csv.reader(f))


def _lines(path):
    with open(path, newline="") as f:
        return f.read().split("\n")


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


@pytest.mark.parametrize(
    "initial, final, n",
    [("2024-01-02", "2024-01-02", 1), ("2030-01-01", "2030-12-31", 0)],
    ids=["one_row", "empty"],
)
def test_single_asset_null_average(spark, tmp_path, initial, final, n):
    """One asset whose average is NULL (a one-row range has no return to
    average; an empty range has no rows): Spark's CSV writer writes such
    a one-field row as nothing, so the averages file is its header line
    alone."""
    path = _write(tmp_path, "one.csv", "Date,X\n2024-01-01,1.0\n2024-01-02,2.0\n")
    res = run_report(spark, path, initial, final, os.path.join(str(tmp_path), "o"))
    assert res["daily_returns_count"] == n
    assert res["averages"] == ({"Media_X_Retorno": None} if n else {})
    with open(res["average_daily_return_path"], newline="") as f:
        assert f.read() == "Media_X_Retorno\n"
    with open(res["daily_returns_path"], newline="") as f:
        assert f.read() == "Date,X,X_Retorno\n" + ("2024-01-02,2.0,\n" if n else "")


def test_special_asset_names(spark, tmp_path):
    """Names with commas, quotes, backslashes, dots, spaces and a
    backtick are legal assets: the SQL text quotes each one, and both
    files carry them as Spark's CSV writer quotes them."""
    path = _write(tmp_path, "special.csv", SPECIAL_CSV)
    res = run_report(spark, path, "2024-01-01", "2024-01-03", os.path.join(str(tmp_path), "o"))
    assert res["assets"] == SPECIAL_NAMES
    assert res["daily_returns_count"] == 3

    # Spark's CSV writer quotes a field holding the separator or a quote
    # and escapes quotes with a backslash; it leaves a bare backslash.
    daily = _lines(res["daily_returns_path"])
    assert daily[0] == (
        'Date,"A,B","say \\"hi\\"",it\'s,back\\slash,BRK.B,S&P500,my asset,A`B,'
        '"A,B_Retorno","say \\"hi\\"_Retorno",it\'s_Retorno,back\\slash_Retorno,'
        "BRK.B_Retorno,S&P500_Retorno,my asset_Retorno,A`B_Retorno"
    )
    assert daily[-1] == ""
    rows = [r.split(",") for r in daily[1:-1]]
    assert [r[0] for r in rows] == ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert rows[0][9:] == [""] * 8
    assert [float(x) for x in rows[1][9:]] == [100.0, 50.0, -50.0, 0.0, 100.0, -50.0, 200.0, -50.0]
    assert [float(x) for x in rows[2][9:]] == [100.0, 100.0, 50.0, -50.0, -50.0, 100.0, 100.0, 200.0]

    want = [100.0, 75.0, 0.0, -25.0, 25.0, 25.0, 150.0, 75.0]
    assert res["averages"] == {f"Media_{a}_Retorno": v for a, v in zip(SPECIAL_NAMES, want)}
    avg = _lines(res["average_daily_return_path"])
    assert avg[0] == (
        '"Media_A,B_Retorno","Media_say \\"hi\\"_Retorno",Media_it\'s_Retorno,'
        "Media_back\\slash_Retorno,Media_BRK.B_Retorno,Media_S&P500_Retorno,"
        "Media_my asset_Retorno,Media_A`B_Retorno"
    )
    assert [float(x) for x in avg[1].split(",")] == want
    assert avg[2:] == [""]


def test_non_numeric_asset_column(spark, tmp_path):
    """A corrupt cell types its whole column as a string; the request
    fails and names the column instead of filling and casting around
    it. A header-only file infers every column as a string and still
    yields the empty report."""
    out = os.path.join(str(tmp_path), "o")
    bad = _write(
        tmp_path, "bad.csv",
        "Date,A,B,C\n2024-01-01,1,2,x\n2024-01-02,2,n/a,y\n2024-01-03,3,3,z\n",
    )
    with pytest.raises(ValueError, match=r"non-numeric asset columns: 'B' \(string\), 'C' \(string\)"):
        run_report(spark, bad, "2024-01-01", "2024-01-03", out)

    empty = _write(tmp_path, "header_only.csv", "Date,A,B\n")
    res = run_report(spark, empty, "2024-01-01", "2024-12-31", out)
    assert res["empty"] and res["daily_returns_count"] == 0 and res["averages"] == {}
    assert _read_rows(res["daily_returns_path"]) == [["Date", "A", "B", "A_Retorno", "B_Retorno"]]
    assert _read_rows(res["average_daily_return_path"]) == [
        ["Media_A_Retorno", "Media_B_Retorno"], ["", ""],
    ]


@pytest.mark.parametrize("single_file", [True, False], ids=["single", "multipart"])
def test_phase_timings(spark, dataset, tmp_path, single_file):
    t = time.perf_counter()
    res = run_report(
        spark, dataset, "2024-01-02", "2024-01-05", os.path.join(str(tmp_path), "o"),
        single_file=single_file,
    )
    wall = time.perf_counter() - t
    timings = res["timings_s"]
    assert list(timings) == ["read", "build", "write_daily", "summary", "write_averages"]
    assert all(v >= 0 for v in timings.values())
    assert sum(timings.values()) <= wall


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
    6 jobs on Spark 4.1:

    1-2. the inferSchema read (two jobs);
    3. the window's shuffle map stage, which builds the cached ``daily``;
    4. the daily CSV write;
    5-6. ``first()`` of the one aggregate (its map stage, then the
       result), whose row also carries the averages file's text."""
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
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def _wide_csv(tmp_path, n_assets):
    header = "Date," + ",".join(f"A{i}" for i in range(n_assets))
    rows = [
        f"2024-02-{d:02d}," + ",".join(str(1.0 + (d * i) % 7) for i in range(n_assets))
        for d in range(1, 29)
    ]
    return _write(tmp_path, f"wide{n_assets}.csv", "\n".join([header, *rows]) + "\n")


def _py4j_commands(spark, path, out):
    """Py4J commands the driver sends for one warm request, JVM-object
    finalizers included (they run on py4j's finalizer thread)."""
    client = spark.sparkContext._gateway._gateway_client
    run_report(spark, path, "2024-02-01", "2024-02-28", out)
    gc.collect()
    pending = getattr(client, "finalizer_deque", ())
    deadline = time.monotonic() + 10
    while pending and time.monotonic() < deadline:
        time.sleep(0.05)
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        run_report(spark, path, "2024-02-01", "2024-02-28", out)
    finally:
        client.send_command = send
    return len(calls)


def test_py4j_budget(spark, tmp_path):
    """Per-asset expressions are SQL text, so an added asset costs the
    driver a few Py4J commands (one list element per projection), not a
    chain of Column objects (about 130 per asset with Column calls)."""
    out = os.path.join(str(tmp_path), "o")
    narrow = _py4j_commands(spark, _wide_csv(tmp_path, 2), out)
    wide = _py4j_commands(spark, _wide_csv(tmp_path, 64), out)
    assert (wide - narrow) / 62 < 4, (narrow, wide)
