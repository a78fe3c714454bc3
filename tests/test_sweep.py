"""The one sweep loop behind every keyed evidence artifact
(``oracle_compare.sweep``), driven with fake per-key checks: no Spark,
seconds to run. An error is red (rc 1), a JVM death aborts with rc 3
and writes nothing, a timeout is listed and stays non-fatal."""

from __future__ import annotations

import json
import os
import threading

import pytest

from bigdata_financial_reporting_spark import oracle_compare
from bigdata_financial_reporting_spark.oracle_compare import (
    key_verdict,
    sweep,
    sweep_in_child,
)

GREEN = {
    "mode": "oracle",
    "rows_match": True,
    "schema_match": True,
    "values_match": True,
    "kind_match": True,
}


def _build(queries, v):
    return {"queries": queries, "red": v["red"], "timeouts": v["timeout"]}


def _green(name):
    return dict(GREEN)


def test_all_green_run_is_rc0(tmp_path):
    path = tmp_path / "a.json"
    assert sweep(str(path), ["k1", "k2"], _green, _build) == 0
    rec = json.loads(path.read_text())
    assert rec["red"] == [] and rec["timeouts"] == []
    assert {"git_sha", "git_dirty", "generated_at", "wall_sec"} <= set(rec)
    assert all("sec" in e for e in rec["queries"].values())


def test_raising_key_is_red_and_rc1(tmp_path):
    def check(name):
        if name == "broken":
            raise ValueError("boom")
        return dict(GREEN)

    path = tmp_path / "a.json"
    assert sweep(str(path), ["ok", "broken"], check, _build) == 1
    rec = json.loads(path.read_text())
    assert rec["red"] == ["broken"]
    assert rec["queries"]["broken"]["error"] == "ValueError: boom"


def test_jvm_death_aborts_rc3_without_artifact(tmp_path):
    def check(name):
        if name == "dies":
            raise ConnectionRefusedError("[Errno 111] Connection refused")
        return dict(GREEN)

    path = tmp_path / "a.json"
    assert sweep(str(path), ["ok", "dies", "never"], check, _build) == 3
    assert not path.exists()


class _FakeOracle:
    """Stands in for ``Oracle``: the cap's interrupt releases the
    blocked check, which then raises like an interrupted DuckDB query."""

    def __init__(self):
        self.interrupted = threading.Event()
        self.drained = False

    def interrupt(self):
        self.interrupted.set()

    def drain(self):
        self.drained = True


class InterruptException(Exception):
    pass


def test_timeout_is_listed_and_rc0(tmp_path, monkeypatch):
    monkeypatch.setitem(oracle_compare.KEY_SECONDS_OVERRIDE, "slow", 0.2)
    oracle = _FakeOracle()

    def check(name):
        if name == "slow":
            assert oracle.interrupted.wait(30)
            raise InterruptException("INTERRUPT Error")
        return dict(GREEN)

    path = tmp_path / "a.json"
    assert sweep(str(path), ["slow", "ok"], check, _build, oracle=oracle) == 0
    rec = json.loads(path.read_text())
    assert rec["timeouts"] == ["slow"] and rec["red"] == []
    assert rec["queries"]["slow"]["timeout"] == "duckdb"
    assert oracle.drained


@pytest.mark.parametrize(
    "entry, verdict",
    [
        (dict(GREEN), "green"),
        ({**GREEN, "values_match": False}, "red"),
        ({"error": "x"}, "red"),
        ({"mode": "rows_only", "non_empty": True}, "red"),
        ({"spark_rows": 3}, "red"),
        ({"timeout": "spark"}, "timeout"),
        ({"mode": "signbit", "hits": []}, "green"),
        ({"mode": "signbit", "hits": [{"col": "x"}]}, "red"),
    ],
)
def test_key_verdict(entry, verdict):
    assert key_verdict(entry) == verdict


def _child_clean(sf_dir, names):
    return {n: {"mode": "signbit", "hits": [], "sf_dir": sf_dir} for n in names}


def _child_crash(sf_dir, names):
    os._exit(7)


def _child_no_json(sf_dir, names):
    return None


def _child_killed_with_temp_files(sf_dir, names):
    import tempfile

    d = tempfile.mkdtemp(prefix="bdfr_killed_child_")
    with open(os.path.join(d, "spill.tmp"), "w") as fh:
        fh.write("x" * 1024)
    os._exit(1)


def test_sweep_in_child_round_trip_and_failures():
    got = sweep_in_child(_child_clean, "/d", ["a", "b"])
    assert got == {n: {"mode": "signbit", "hits": [], "sf_dir": "/d"} for n in "ab"}
    crashed = sweep_in_child(_child_crash, "/d", ["a", "b"])
    assert set(crashed) == {"a", "b"}
    assert all(key_verdict(e) == "red" and "rc=7" in e["error"] for e in crashed.values())
    silent = sweep_in_child(_child_no_json, "/d", ["a"])
    assert key_verdict(silent["a"]) == "red"


def test_killed_child_leaves_no_temp_entry():
    """A child killed before its atexit runs (a DuckDB spill dir, say)
    must not leave its temp files behind: they live in a TMPDIR the
    parent removes."""
    import tempfile

    def entries():
        return {
            n for n in os.listdir(tempfile.gettempdir())
            if n.startswith("bdfr_killed_child_")
        }

    before = entries()
    got = sweep_in_child(_child_killed_with_temp_files, "/d", ["a"])
    assert "rc=1" in got["a"]["error"]
    assert entries() == before


def test_oracle_connection_prints_no_progress_bar(sf_dir):
    """A long oracle's progress bar would run into the JSON line a
    sweep_in_child child prints on stdout."""
    con = oracle_compare.connect_oracle(sf_dir)
    try:
        (on,) = con.execute("SELECT current_setting('enable_progress_bar')").fetchone()
    finally:
        con.close()
    assert on is False
