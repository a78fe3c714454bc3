"""Emit SCALE_CORRECTNESS.json — the driver's t2 gate re-run AT SCALE
(default: the 10x staged corpus, /tmp/sf1x).

Why this exists: correctness divergence can be scale-dependent. The
round-6 Spearman bug was invisible at sf0.01 and sf0.1's oracle tests
(moments fit int64) and only wrapped at ~2M rows/group on the 10x
corpus; the round-6 at-scale reds (raw double sums crossing rounding
boundaries at ~1M+ rows) were equally invisible below. This sweep runs
EVERY oracle-paired registry key on Spark AND DuckDB at the staged
scale through the ONE shared fetch path
(``bigdata_financial_reporting_spark.oracle_compare``: collect +
fetchall — the previous toPandas-vs-fetchall asymmetry rendered Spark
NULL doubles as NaN and manufactured a false red for
fn_try_arithmetic, the key whose purpose is emitting NULLs).

Crash discipline (round-6 verdict item 2): a dead JVM is a FATAL
harness error. The committed round-6 artifact recorded 280
ConnectionRefusedError rows as if they were per-key results; now the
first JVM-death exception aborts the run with rc=3 and NO artifact is
written. The end-of-round gate (scripts/final_gate.sh) requires rc==0
before committing the artifact, and the artifact embeds the git SHA it
ran against.

Both engines get a per-query wall cap: a handful of ground-truth
oracles are deliberately quadratic (all-pairs cosine / Jaccard) and
would take hours at 10x for no additional evidence — capped keys are
recorded under timeouts, never skipped silently.

Usage:
    python scripts/gen_scale_correctness.py             # /tmp/sf1x
    python scripts/gen_scale_correctness.py /some/dir   # explicit dir
Stage the 10x corpus first if absent: python scripts/gen_scale10x.py
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

import duckdb  # noqa: E402

from bigdata_financial_reporting_spark.oracle_compare import (  # noqa: E402
    canon_digest,
    compare_digest_entry,
    connect_oracle,
    entry_green,
    fetch_spark,
    is_jvm_death,
    provenance,
)
from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402
from bigdata_financial_reporting_spark.session import get_session  # noqa: E402
from check_negzero import _execute_capped  # noqa: E402

#: per-engine, per-query wall cap (seconds). Generous enough for every
#: linear/linearithmic key at 10x; only the all-pairs ground truths
#: (dedup_* exact-verify oracles, join_self) hit it, and each of those
#: already has a driver-green row at sf0.01.
PER_QUERY_SECONDS = 90.0

#: ORACLE-side per-key overrides. The engine under test keeps the
#: default cap — a Spark key that needs more than 90 s at 10x IS a
#: scale finding — but a deliberately-quadratic DuckDB ground truth is
#: allowed to burn more wall for the evidence: dedup_ngram_jaccard's
#: exact lang-blocked all-pairs Jaccard CTE measured 383 s at the 10x
#: corpus (Spark side: 74 s, in-cap), which left the r11 sweep with
#: its one unverified key (round-11 verdict item 2). 600 s clears it
#: with margin.
ORACLE_SECONDS_OVERRIDE = {
    "dedup_ngram_jaccard": 600.0,
    # fn_date's ground truth materializes 14 date-function columns
    # over 6M rows in one DuckDB child — measured 335 s standalone at
    # the 10x corpus in round 13 (it slipped past the 90 s cap for the
    # first time that sweep; the Spark side finishes well inside it).
    # Same trade as dedup_ngram_jaccard: the ORACLE may burn more
    # wall for the evidence, the engine keeps the default cap.
    "fn_date": 600.0,
}


class _SparkTimeout(Exception):
    pass


def _spark_rows_capped(spark, df, tag: str):
    """fetch_spark() with a wall cap via job-group cancellation."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag, interruptOnCancel=True)
    fired: list[bool] = []

    def _cancel():
        fired.append(True)
        sc.cancelJobGroup(tag)

    timer = threading.Timer(PER_QUERY_SECONDS, _cancel)
    timer.start()
    try:
        return fetch_spark(df)
    except Exception as exc:
        if fired and not is_jvm_death(exc):
            raise _SparkTimeout(tag) from exc
        raise
    finally:
        timer.cancel()
        timer.join()
        sc.setJobGroup("", "")


def _duck_digest_child_main(name: str, sf_dir: str) -> int:
    """Child-process mode: run ONE oracle at sf_dir and print its
    comparison digest as a JSON line. The DuckDB side runs
    out-of-process because its 10x mmap footprint must never share the
    Spark JVM's process: the round-11 sweep segfaulted after heavy
    window oracles exhausted vm.max_map_count — mappings that
    con.close() does not return — killing the whole run. Structured
    outcomes (digest / timeout / error) exit 0; a crash surfaces as a
    nonzero rc the parent records per-key."""
    spec = QUERIES.get(name)
    if spec is None or spec.oracle is None:
        print(json.dumps({"error": f"unknown or oracle-less key {name!r}"}))
        return 0
    try:
        con = connect_oracle(sf_dir)
        cols, rows = _execute_capped(
            con,
            spec.oracle,
            seconds=ORACLE_SECONDS_OVERRIDE.get(name, PER_QUERY_SECONDS),
        )
        print(json.dumps({"digest": canon_digest(cols, rows)}))
    except duckdb.InterruptException:
        print(json.dumps({"timeout": True}))
    except Exception as exc:  # structured per-key error, not a crash
        print(json.dumps({"error": f"{type(exc).__name__}: {exc}"[:300]}))
    return 0


def _duck_digest_subprocess(name: str, sf_dir: str) -> dict:
    """One fresh child per oracle, with ONE retry on a structured
    error: the only error class ever seen here is allocation-state-
    dependent (DuckDB bad_alloc while co-resident with the 8g Spark
    JVM — fin_macd_daily OOM'd once in the r12 sweep and passed on
    rerun), and check_negzero's scan already retries the same class
    on a fresh connection. A deterministic oracle bug fails BOTH
    attempts and still surfaces."""
    out = _duck_digest_subprocess_once(name, sf_dir)
    if "error" in out:
        retry = _duck_digest_subprocess_once(name, sf_dir)
        if "error" in retry:
            # keep the FIRST error (the retry's may be a cascade)
            return out
        retry["retried"] = True
        return retry
    return out


def _duck_digest_subprocess_once(name: str, sf_dir: str) -> dict:
    import subprocess

    try:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--duck-digest",
                name,
                sf_dir,
            ],
            capture_output=True,
            text=True,
            # The ENGINE cap is enforced in-child by _execute_capped's
            # interrupt; this outer wall only needs to cover fetchall +
            # canon_digest of multi-million-row ground-truth outputs
            # (fn_math/join_self: ~6-10M rows, minutes of Python-side
            # sort+hash — the cost the old in-process compare also
            # paid, uncapped). A tight 2-minute wall here recorded 4
            # false "timeouts" for keys whose DB time was in-cap.
            timeout=PER_QUERY_SECONDS + 900,
        )
    except subprocess.TimeoutExpired:
        return {"timeout": True}
    if proc.returncode != 0:
        return {
            "error": f"duck child rc={proc.returncode}: "
            f"{(proc.stderr or '').strip()[-300:]}"
        }
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (ValueError, IndexError):
        return {"error": f"duck child produced no JSON: {proc.stdout[-200:]!r}"}


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--duck-digest":
        return _duck_digest_child_main(sys.argv[2], sys.argv[3])
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1x"
    if not os.path.isdir(sf_dir):
        print(f"{sf_dir} not staged — run scripts/gen_scale10x.py first")
        return 2

    # get_session, not a bare builder: it sizes the local driver heap
    # like an executor (8g — the bare 1g default OOMs on the exact-
    # percentile aggregate at 10x) and pins the result semantics.
    spark = get_session(
        "scale-correctness",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    t_all = time.time()
    for name, spec in QUERIES.items():
        entry: dict = {}
        t_q = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            s_cols, s_rows = _spark_rows_capped(spark, sdf, f"scale-{name}")
            entry["spark_rows"] = len(s_rows)
            if spec.oracle is None:
                entry["mode"] = "rows_only"
                entry["non_empty"] = len(s_rows) > 0
            else:
                # DuckDB side in a per-key CHILD process (see
                # _duck_digest_child_main); only the digest comes back
                dig = _duck_digest_subprocess(name, sf_dir)
                if dig.get("timeout"):
                    entry["timeout"] = "duckdb"
                elif "error" in dig:
                    entry["error"] = dig["error"]
                else:
                    d = dig["digest"]
                    entry["mode"] = "oracle"
                    entry["oracle_rows"] = d["n_rows"]
                    entry.update(
                        compare_digest_entry(
                            canon_digest(s_cols, s_rows), d
                        )
                    )
        except _SparkTimeout:
            entry["timeout"] = "spark"
        except duckdb.InterruptException:
            entry["timeout"] = "duckdb"
        except Exception as exc:
            if is_jvm_death(exc):
                # FATAL: the local JVM died. Recording per-key errors
                # from a dead session produced the round-6 crashed
                # artifact; abort loudly and write NOTHING instead.
                print(
                    f"FATAL: JVM death while running {name!r}: "
                    f"{type(exc).__name__}: {exc}"[:400],
                    file=sys.stderr,
                )
                return 3
            # one genuinely broken query must not void the run
            entry["error"] = f"{type(exc).__name__}: {exc}"[:300]
        entry["sec"] = round(time.time() - t_q, 2)
        out[name] = entry

    oracle_keys = [n for n, e in out.items() if e.get("mode") == "oracle"]
    green = [n for n in oracle_keys if entry_green(out[n])]
    red = [n for n in oracle_keys if n not in green]
    timeouts = [n for n, e in out.items() if "timeout" in e]
    errors = [n for n, e in out.items() if "error" in e]
    record = {
        **provenance(),
        "sf_dir": sf_dir,
        "per_query_cap_sec": PER_QUERY_SECONDS,
        "oracle_cap_overrides": ORACLE_SECONDS_OVERRIDE,
        "n_queries": len(out),
        "n_oracle_compared": len(oracle_keys),
        "n_oracle_green": len(green),
        "oracle_red": red,
        "n_rows_only": sum(
            1 for e in out.values() if e.get("mode") == "rows_only"
        ),
        "timeouts": timeouts,
        "errors": errors,
        "wall_sec": round(time.time() - t_all, 1),
        "queries": out,
    }
    path = os.path.join(REPO, "SCALE_CORRECTNESS.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=2)
    print(
        f"{record['n_oracle_green']}/{record['n_oracle_compared']} oracle "
        f"queries green at {sf_dir}; red={red or '[]'} "
        f"timeouts={len(timeouts)} errors={len(errors)} "
        f"({record['wall_sec']}s) -> {path}"
    )
    spark.stop()
    return 1 if (red or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
