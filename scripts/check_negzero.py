"""Registry-wide IEEE -0.0 sweep over the DuckDB oracles across scale
factors -> NEGZERO_SWEEP.json.

Round-5 verdict items 2/5: the driver value-hashes rendered cells, so a
single cell where one engine emits -0.0 and the other +0.0 fails the
key (emb_covariance_matrix, red in r04+r05, was exactly one such cell
at sf0.01). The per-key oracle test (tests/test_oracle.py) now bans
-0.0 on BOTH engines at the test SF; this script runs the same scan
over every registered oracle at the OTHER fixtures — sf0.001, sf0.01,
sf0.1, and the staged 10x corpus when present — so a fixture change
cannot resurrect the bug in a different key unseen. DuckDB-only on
purpose: DuckDB's C++ round()/arithmetic is the engine that preserves
the sign of zero (Spark's BigDecimal rounding cannot emit -0.0 from
round(); raw Spark doubles are covered by the sf0.01 both-engine test),
and a DuckDB-side scan of 270 oracles per SF is seconds, not minutes.

Usage:
    python scripts/check_negzero.py            # all default SF dirs
    python scripts/check_negzero.py /some/dir  # explicit dirs
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_financial_reporting_spark.oracle_compare import connect_oracle  # noqa: E402
from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402

DEFAULT_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
    "/tmp/sf1x",  # scripts/gen_scale10x.py staging dir, scanned if present
]


def _probe_selftest() -> None:
    """The engine-side probe must actually catch a -0.0 before we trust
    334 'clean' verdicts from it (a broken signbit predicate would turn
    the whole sweep vacuous)."""
    con = duckdb.connect()
    n = con.execute(
        "SELECT count(*) FILTER (WHERE x = 0 AND signbit(x)) FROM "
        "(SELECT -0.0::DOUBLE AS x UNION ALL SELECT 0.0 UNION ALL "
        "SELECT NULL) t"
    ).fetchone()[0]
    con.close()
    if n != 1:
        raise AssertionError(f"signbit probe self-test expected 1, got {n}")


#: per-oracle wall cap. Round 8 retired the quadratic all-pairs
#: oracles (bounded shared-shingle constructions now), so the slowest
#: ground truths at the 10x corpus are the banded EMA self-joins at
#: ~25-30 s — 75 s clears them with margin while still bounding a
#: regression. Interrupted oracles are recorded under __timeouts__ so
#: a cap is visible, never silent.
PER_QUERY_SECONDS = 75.0

#: Per-key overrides for the deliberately-quadratic ground truths
#: (shared rationale with gen_scale_correctness.ORACLE_SECONDS_OVERRIDE):
#: dedup_ngram_jaccard's exact all-pairs Jaccard CTE needs ~383 s at
#: the 10x corpus — still worth scanning rather than recording a
#: permanent per-scale timeout asterisk.
PER_KEY_SECONDS = {"dedup_ngram_jaccard": 600.0}


def _execute_capped(con, sql, seconds: float = None):
    import threading

    if seconds is None:
        seconds = PER_QUERY_SECONDS

    # The timer may fire in the gap between fetchall() returning and
    # cancel(), leaving a pending interrupt that would abort the NEXT
    # oracle. Track firing, join the callback so `fired` is definitive,
    # and drain any stale interrupt with a throwaway statement.
    fired = []

    def _interrupt():
        fired.append(True)
        try:
            con.interrupt()
        except Exception:
            # an interrupt that dies (round-7: MemoryError inside the
            # timer thread under allocator pressure) must not leave the
            # query running unbounded — try once more
            try:
                con.interrupt()
            except Exception:
                pass

    timer = threading.Timer(seconds, _interrupt)
    timer.start()
    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
    finally:
        timer.cancel()
        timer.join()
        if fired:
            try:
                con.execute("SELECT 1").fetchall()
            except duckdb.InterruptException:
                pass
    return cols, rows


#: recycle the connection every N oracles: at the 10x corpus a single
#: connection's allocator state grows monotonically across hundreds of
#: prepared+executed statements until the PROCESS (not the DuckDB
#: memory_limit) fails tiny mallocs with bad_alloc, poisoning every
#: later query (round-8 finding — the whole udf_*/window_* tail errored
#: after one mid-run OOM and the sweep looked hung).
RECONNECT_EVERY = 40


def _oracle_names() -> list[str]:
    return [name for name, spec in QUERIES.items() if spec.oracle is not None]


def scan_dir(sf_dir: str, names: list[str] | None = None) -> dict:
    con = connect_oracle(sf_dir)
    hits: dict[str, list] = {}
    checked = 0
    since_reconnect = 0
    wanted = set(names) if names is not None else None
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        if wanted is not None and name not in wanted:
            continue
        if since_reconnect >= RECONNECT_EVERY:
            con.close()
            con = connect_oracle(sf_dir)
            since_reconnect = 0
        since_reconnect += 1
        for attempt in (0, 1):
            if attempt:
                # allocator-state-dependent OOM (e.g. bad_alloc after a
                # heavy oracle): retry ONCE on a fresh connection before
                # recording an error
                con.close()
                con = connect_oracle(sf_dir)
                since_reconnect = 0
            try:
                # -0.0 can only live in FLOAT/DOUBLE output columns
                # (DuckDB DECIMAL is integer-scaled — no signed zero),
                # so scan ENGINE-SIDE with signbit() over just those
                # columns instead of fetchall()ing the whole result
                # into Python: join_self's multi-million-row output at
                # 10x spent the whole cap in the Python row loop
                # (round-7 verdict item 5).
                desc = con.execute(f"DESCRIBE ({spec.oracle})").fetchall()
                fcols = [c for c, t, *_ in desc if t in ("FLOAT", "DOUBLE")]
                if not fcols:
                    checked += 1  # vacuously clean: no float output
                    break
                probes = ", ".join(
                    f'count(*) FILTER (WHERE "{c}" = 0 AND signbit("{c}")) '
                    f"AS c{i}"
                    for i, c in enumerate(fcols)
                )
                _, counts = _execute_capped(
                    con,
                    f"SELECT {probes} FROM ({spec.oracle}) __nz",
                    seconds=PER_KEY_SECONDS.get(name, PER_QUERY_SECONDS),
                )
                checked += 1
                found = []
                for i, c in enumerate(fcols):
                    if counts[0][i]:
                        _, sample = _execute_capped(
                            con,
                            f'SELECT "{c}" FROM ({spec.oracle}) __nz '
                            f'WHERE "{c}" = 0 AND signbit("{c}") LIMIT 5',
                            seconds=PER_KEY_SECONDS.get(
                                name, PER_QUERY_SECONDS
                            ),
                        )
                        found.extend(
                            {
                                "col": c,
                                "count": counts[0][i],
                                "value": repr(v[0]),
                            }
                            for v in sample
                        )
                if found:
                    hits[name] = found[:5]
                break
            except duckdb.InterruptException:
                hits.setdefault("__timeouts__", []).append(name)
                break
            except duckdb.Error as e:
                if attempt:  # second failure on a fresh connection
                    hits.setdefault("__errors__", []).append(f"{name}: {e}")
            except Exception as e:  # fixture-dependent oracle
                hits.setdefault("__errors__", []).append(f"{name}: {e}")
                break
    con.close()
    return {"checked": checked, "hits": hits}


def _scan_dir_subprocess(sf_dir: str) -> dict:
    """Run scan_dir(sf_dir) in a FRESH child process and return its
    result. One process per scale dir, because the failure mode the
    per-oracle reconnects can't fix is PROCESS-heap poisoning: the
    round-11 gate run finished the sf0.1 scan clean, then died with a
    2 KB bad_alloc (then segfaulted) while merely opening the next
    dir's connection — monotonic allocator growth across hundreds of
    heavy oracle executions outlives every duckdb.connect()/close()
    pair. A child crash is a loud per-dir error, never a poisoned
    remainder of the sweep."""
    import subprocess

    # Chunk the registry across children too: one child for all 354
    # oracles still segfaulted at the 10x corpus — and at 10x even a
    # 48-oracle chunk died, because the failure is the round-8
    # vm.max_map_count ceiling hit ACROSS connections: an 8 GB window
    # oracle (fin_ema_window) leaves the process's mmap space
    # fragmented, so the NEXT connection's 2 KB allocation fails with
    # 120 GB physically free, and con.close() between oracles does not
    # give the mappings back. Process isolation is the only full fix:
    # at the multi-file 10x staging dir every oracle gets its own
    # child (~1 s import overhead each, ~7 min over the dir); the
    # single-file fixture dirs never approach the ceiling and keep the
    # 48-oracle chunks.
    names = _oracle_names()
    multi_file = os.path.isdir(os.path.join(sf_dir, "lineitem.parquet"))
    chunk = 1 if multi_file else 48
    merged: dict = {"checked": 0, "hits": {}}
    for i in range(0, len(names), chunk):
        piece = names[i : i + chunk]
        env = dict(os.environ, _NEGZERO_CHILD=",".join(piece))
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), sf_dir],
            capture_output=True,
            text=True,
            env=env,
        )
        if proc.returncode != 0:
            merged["hits"].setdefault("__errors__", []).append(
                f"child rc={proc.returncode} for {piece[0]}..{piece[-1]}: "
                f"{(proc.stderr or '').strip()[-300:]}"
            )
            merged["child_failed"] = True
            continue
        try:
            part = json.loads(proc.stdout.strip().splitlines()[-1])
        except (ValueError, IndexError):
            merged["hits"].setdefault("__errors__", []).append(
                f"child produced no JSON for {piece[0]}..{piece[-1]}: "
                f"{proc.stdout[-200:]!r}"
            )
            merged["child_failed"] = True
            continue
        merged["checked"] += part["checked"]
        for k, v in part["hits"].items():
            merged["hits"].setdefault(k, []).extend(v)
    return merged


def main() -> int:
    child_names = os.environ.get("_NEGZERO_CHILD")
    if child_names:
        (d,) = sys.argv[1:]
        print(json.dumps(scan_dir(d, names=child_names.split(","))))
        return 0
    _probe_selftest()
    dirs = sys.argv[1:] or [d for d in DEFAULT_DIRS if os.path.isdir(d)]
    expected = len(_oracle_names())
    report = {}
    bad = False
    for d in dirs:
        r = _scan_dir_subprocess(d)
        real = {
            k: v
            for k, v in r["hits"].items()
            if k not in ("__errors__", "__timeouts__")
        }
        report[d] = r
        nto = len(r["hits"].get("__timeouts__", []))
        nerr = len(r["hits"].get("__errors__", []))
        print(
            f"{d}: {r['checked']} oracles scanned, {len(real)} with -0.0"
            + (f", {nto} capped at {PER_QUERY_SECONDS:.0f}s" if nto else "")
        )
        # An unscanned slice of a scale is not clean (round-11 advice:
        # per-oracle __errors__ recorded inside an rc=0 child used to
        # pass silently — 47 of 48 oracles erroring still read as
        # green). Fatal: a crashed child, ANY structured oracle error,
        # or coverage below the registry's oracle count (timeouts are
        # the one non-fatal, loudly-counted shortfall).
        if not r["checked"] or r.get("child_failed") or nerr:
            print(
                f"  DIR FAILED: {nerr} oracle errors: "
                f"{r['hits'].get('__errors__', [])[:3]}"
            )
            bad = True
        elif r["checked"] + nto < expected:
            print(
                f"  DIR FAILED: only {r['checked']} scanned + {nto} "
                f"capped of {expected} registered oracles"
            )
            bad = True
        for k, v in real.items():
            print(f"  HIT {k}: {v[:2]}")
            bad = True
    from bigdata_financial_reporting_spark.oracle_compare import provenance

    report["_provenance"] = provenance()
    out = os.path.join(REPO, "NEGZERO_SWEEP.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(f"wrote {out}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
