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
and a DuckDB-side scan of every oracle per SF is seconds, not minutes.

Each slice of keys runs ``oracle_compare.sweep_keys`` in a fresh child
(``oracle_compare.sweep_in_child``), so the per-key wall cap, the
connection recycling and the fresh-connection retry are the ones every
sweep uses, and ``oracle_compare.key_verdict`` decides: a hit or an
error is red, a capped key is listed under ``__timeouts__``.

Usage:
    python scripts/check_negzero.py            # all default SF dirs
    python scripts/check_negzero.py /some/dir  # explicit dirs
Exit code: 0 clean (timeouts listed), 1 any hit or error.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_financial_reporting_spark.oracle_compare import (  # noqa: E402
    Oracle,
    provenance,
    sweep_in_child,
    sweep_keys,
    tally,
)
from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402

DEFAULT_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
    "/tmp/sf1x",  # scripts/gen_scale10x.py staging dir, scanned if present
]


def _probe_selftest() -> None:
    """The engine-side probe must actually catch a -0.0 before we trust
    hundreds of 'clean' verdicts from it (a broken signbit predicate
    would turn the whole sweep vacuous)."""
    con = duckdb.connect()
    n = con.execute(
        "SELECT count(*) FILTER (WHERE x = 0 AND signbit(x)) FROM "
        "(SELECT -0.0::DOUBLE AS x UNION ALL SELECT 0.0 UNION ALL "
        "SELECT NULL) t"
    ).fetchone()[0]
    con.close()
    if n != 1:
        raise AssertionError(f"signbit probe self-test expected 1, got {n}")


def signbit_scan(oracle: Oracle, sql: str) -> dict:
    """Up to 5 -0.0 cells of ``sql``'s output, found ENGINE-SIDE: -0.0
    can only live in FLOAT/DOUBLE columns (DuckDB DECIMAL is
    integer-scaled — no signed zero), so signbit() counts just those
    instead of fetchall()ing the whole result into Python (join_self's
    multi-million-row output at 10x spent the whole cap in the Python
    row loop, round-7 verdict item 5)."""
    _, desc = oracle.fetch(f"DESCRIBE ({sql})")
    fcols = [c for c, t, *_ in desc if t in ("FLOAT", "DOUBLE")]
    found = []
    if fcols:
        probes = ", ".join(
            f'count(*) FILTER (WHERE "{c}" = 0 AND signbit("{c}")) AS c{i}'
            for i, c in enumerate(fcols)
        )
        _, (counts,) = oracle.fetch(f"SELECT {probes} FROM ({sql}) __nz")
        for c, n in zip(fcols, counts):
            if n:
                _, sample = oracle.fetch(
                    f'SELECT "{c}" FROM ({sql}) __nz '
                    f'WHERE "{c}" = 0 AND signbit("{c}") LIMIT 5'
                )
                found.extend({"col": c, "count": n, "value": repr(v)} for (v,) in sample)
    return {"mode": "signbit", "hits": found[:5]}


def scan_keys(sf_dir: str, names: list) -> dict:
    """Child side: the signbit scan of each key's oracle at ``sf_dir``."""
    oracle = Oracle(sf_dir)
    return sweep_keys(
        names, lambda n: signbit_scan(oracle, QUERIES[n].oracle), oracle=oracle
    )


def scan_dir(sf_dir: str) -> dict:
    """Per-key entries for every oracle at ``sf_dir``. One child per
    48-key slice, and one per key at the multi-file 10x staging dir: the
    failure the connection recycling cannot fix is PROCESS-heap
    poisoning. The round-11 gate run finished the sf0.1 scan clean, then
    died with a 2 KB bad_alloc while merely opening the next
    connection; at 10x even a 48-oracle child died, because an 8 GB
    window oracle (fin_ema_window) leaves the process's mmap space
    fragmented against the vm.max_map_count ceiling and con.close()
    does not give the mappings back. The single-file fixture dirs never
    approach the ceiling."""
    names = [n for n, spec in QUERIES.items() if spec.oracle is not None]
    multi_file = os.path.isdir(os.path.join(sf_dir, "lineitem.parquet"))
    chunk = 1 if multi_file else 48
    entries = {}
    for i in range(0, len(names), chunk):
        entries.update(sweep_in_child(scan_keys, sf_dir, names[i : i + chunk]))
    return entries


def main() -> int:
    _probe_selftest()
    dirs = sys.argv[1:] or [d for d in DEFAULT_DIRS if os.path.isdir(d)]
    report = {}
    bad = False
    for d in dirs:
        entries = scan_dir(d)
        v = tally(entries)
        hits = {n: entries[n]["hits"] for n in v["red"] if entries[n].get("hits")}
        errors = [f"{n}: {entries[n]['error']}" for n in v["red"] if "error" in entries[n]]
        checked = sum(1 for e in entries.values() if e.get("mode") == "signbit")
        print(
            f"{d}: {checked} oracles scanned, {len(hits)} with -0.0, "
            f"{len(errors)} errors, {len(v['timeout'])} capped"
        )
        for n, h in hits.items():
            print(f"  HIT {n}: {h[:2]}")
        for e in errors[:3]:
            print(f"  ERROR {e}")
        if v["timeout"]:
            hits["__timeouts__"] = v["timeout"]
        if errors:
            hits["__errors__"] = errors
        report[d] = {"checked": checked, "hits": hits}
        bad = bad or bool(v["red"])
    report["_provenance"] = provenance()
    out = os.path.join(REPO, "NEGZERO_SWEEP.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(f"wrote {out}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
