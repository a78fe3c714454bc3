"""The ONE shared fetch + canonicalization path for every oracle
harness (round-6 verdict item 2).

Three harnesses used to fetch results three different ways —
tests/test_oracle.py via ``collect()``/``fetchall()``,
scripts/gen_local_correctness.py via ``toPandas()``/``.df()`` (both
NULL->NaN), and scripts/gen_scale_correctness.py via ``toPandas()``
vs ``fetchall()`` — the last one ASYMMETRIC (Spark NULL doubles became
NaN, DuckDB NULLs stayed None), which manufactured a false at-scale
red for ``fn_try_arithmetic``, the key whose entire purpose is
emitting NULLs. Everything now goes through this module:

- :func:`fetch_spark` / :func:`fetch_duck` — raw row tuples from
  ``collect()`` and ``fetchall()``: NULL is ``None`` on both sides,
  NaN stays a float NaN on both sides, no pandas coercion anywhere.
- :func:`canon_value` / :func:`canon_rows` — the driver-strict canon
  (bitwise IEEE doubles, exact decimal value strings, -0.0 kept
  distinct), previously defined in tests/test_oracle.py, which now
  imports it from here.
- :func:`col_kinds` — per-column Python-type kinds from the raw rows
  (the typed-rendering parity the pandas dtype check approximated,
  without pandas' int+NULL -> float coercion).
- :func:`connect_oracle` / :class:`Oracle` / :func:`check_key` — the
  one tuned DuckDB connection over the fixture tables, and the per-key
  check scripts/check_keys.py prints and
  scripts/gen_local_correctness.py commits.
- :func:`provenance` — git SHA + wall timestamp for every emitted
  artifact, so a stale artifact is mechanically detectable (round-6
  verdict item 6: the crashed-sweep confusion cost the adjudication
  an hour).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import struct
import subprocess
import time
from pathlib import Path

from bigdata_financial_reporting_spark.operators.cache import release_operator_caches


def canon_value(v):
    """Canonicalize one cell so Spark and DuckDB renderings compare equal.

    DRIVER-STRICT (round-5 verdict item 2): the external driver
    value-hashes rendered cells, so it distinguishes -0.0 from +0.0 and
    any last-bit float divergence. Floats compare BITWISE (struct.pack
    of the IEEE double, which also uniquely separates -0.0); decimals
    compare on their exact value string. Any key whose engines disagree
    at this strictness is a latent driver hash failure and must be
    fixed in the KEY, never here."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("f", struct.pack("<d", v).hex())
    if isinstance(v, decimal.Decimal):
        if v.is_nan():
            return "NaN"
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        if s == "-0":
            s = "0"  # integer-valued decimal zero has no meaningful sign
        return ("dec", s)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dt.timedelta):
        return v.total_seconds()
    return v


def canon_rows(cols, rows):
    """Sort columns by name, canonicalize cells, return sorted multiset."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def fetch_spark(df):
    """(cols, rows) from a Spark DataFrame — ``collect()``, never
    ``toPandas()`` (pandas renders NULL doubles as NaN and coerces
    int+NULL columns to float, diverging from the DuckDB side)."""
    return df.columns, [tuple(r) for r in df.collect()]


def fetch_duck(con, sql):
    """(cols, rows) from DuckDB — ``fetchall()``, never ``.df()``."""
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, res.fetchall()


def _cell_kind(v):
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, dt.datetime):  # before date: datetime IS-A date
        return "timestamp"
    if isinstance(v, dt.date):
        return "date"
    if isinstance(v, str):
        return "str"
    if isinstance(v, bytes):
        return "bytes"
    if isinstance(v, (list, tuple)):
        return "list"
    return type(v).__name__


def col_kinds(cols, rows):
    """column name -> kind of its first non-None cell (None if the
    whole column is NULL — compared leniently by :func:`compare_entry`)."""
    kinds = {c: None for c in cols}
    remaining = set(cols)
    for row in rows:
        for i, c in enumerate(cols):
            if c in remaining and row[i] is not None:
                kinds[c] = _cell_kind(row[i])
                remaining.discard(c)
        if not remaining:
            break
    return kinds


def compare_entry(s_cols, s_rows, d_cols, d_rows):
    """The per-query comparison record shared by the local and at-scale
    sweeps (mirrors the driver's t2 checks)."""
    return compare_digest_entry(
        canon_digest(s_cols, s_rows), canon_digest(d_cols, d_rows)
    )


def entry_green(entry: dict) -> bool:
    return bool(
        entry.get("rows_match")
        and entry.get("schema_match")
        and entry.get("values_match")
        and entry.get("kind_match", True)
    )


#: exception reprs that mean the local JVM died — the sweep must ABORT,
#: not record hundreds of bogus per-key errors in a "completed"
#: artifact (round-6 verdict item 2: the committed crashed sweep)
_FATAL_MARKERS = (
    "ConnectionRefused",
    "Py4JNetworkError",
    "Answer from Java side is empty",
    "JavaPackage",
    "Broken pipe",
)


def is_jvm_death(exc: BaseException) -> bool:
    text = f"{type(exc).__name__}: {exc}"
    return any(m in text for m in _FATAL_MARKERS)


def provenance() -> dict:
    """git SHA + wall timestamp stamped into every evidence artifact."""
    root = Path(__file__).resolve().parents[1]
    try:
        sha = (
            subprocess.run(
                ["git", "rev-parse", "HEAD"],
                cwd=root,
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            or "unknown"
        )
        dirty = bool(
            subprocess.run(
                ["git", "status", "--porcelain"],
                cwd=root,
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
        )
    except Exception:
        sha, dirty = "unknown", False
    return {
        "git_sha": sha,
        "git_dirty": dirty,
        "generated_at": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
    }


def duck_memory_limit_gb(cap_gb: int = 48, frac: float = 0.7) -> int:
    """Oracle-connection memory limit: min(cap, frac * MemTotal,
    half the kernel CommitLimit), floored at 1 GB. Round-7 hardcoded
    48GB everywhere, which on a smaller host RAISES DuckDB's cap above
    its 80%-of-RAM default and invites an OS-level OOM kill (round-7
    ADVICE item 4). The CommitLimit term matters on swapless hosts
    with a low overcommit ratio: this box shows CommitLimit ~66GB on
    125GB RAM, and a 48GB DuckDB arena next to an 8g JVM drove
    Committed_AS to the ceiling — malloc then fails (thread-spawn
    MemoryError, 2KB bad_alloc) with 60GB+ physically free. Env
    override: SPARK_GRAFT_DUCK_MEM_GB."""
    import os

    env = os.environ.get("SPARK_GRAFT_DUCK_MEM_GB")
    if env:
        return max(1, int(env))
    total_gb = commit_gb = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / 1048576.0
                elif line.startswith("CommitLimit:"):
                    commit_gb = int(line.split()[1]) / 1048576.0
    except OSError:
        pass
    if total_gb is None:
        return max(1, min(cap_gb, 8))
    lim = min(cap_gb, int(total_gb * frac))
    if commit_gb is not None:
        lim = min(lim, int(commit_gb * 0.5))
    # vm.max_map_count guard (round-8 finding): DuckDB's buffer pool
    # mmaps ~256KB blocks, so a 31GB limit wants ~121k mappings while
    # the default kernel cap is 65,530 — the 10x sweep froze hard at
    # maps=65,532 with tiny mallocs failing and 100GB physically free.
    # Budget ~60% of max_map_count for the pool.
    try:
        with open("/proc/sys/vm/max_map_count") as fh:
            max_maps = int(fh.read().strip())
        pool_gb = int(max_maps * 0.6 * 256 / 1048576.0)
        lim = min(lim, max(2, pool_gb))
    except (OSError, ValueError):
        lim = min(lim, 9)
    return max(1, lim)


def tune_duck(con) -> None:
    """Spill + bounded-memory settings every oracle harness needs
    (round-7 lesson: the default in-memory connection cannot spill,
    and ~300 queries of allocator state next to an 8g JVM OOM the
    heaviest oracles). Shared by check_keys / check_negzero /
    gen_scale_correctness so no harness drifts back to an untuned
    connection.

    The spill dir is RUN-UNIQUE with an atexit cleanup (round-14: a
    SIGKILLed 10x oracle run cannot delete its duckdb_temp_storage
    files — a shared spill dir accumulated 78 GB across killed runs
    until the NEGZERO 10x stage died on a full disk; unique dirs
    bound each leak to one run and scripts/final_gate.sh purges any
    bdfr_duck_spill_* leftovers from prior kills at gate start)."""
    import atexit
    import shutil
    import tempfile

    spill = tempfile.mkdtemp(prefix="bdfr_duck_spill_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con.execute(f"SET temp_directory='{spill}'")
    con.execute(f"SET memory_limit='{duck_memory_limit_gb()}GB'")
    con.execute("SET preserve_insertion_order=false")


#: the fixture tables every oracle reads, one view each
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def connect_oracle(sf_dir: str):
    """Tuned DuckDB connection (:func:`tune_duck`) with one view per
    fixture table at ``sf_dir``. A table is a single parquet file, or a
    multi-file directory ``<table>.parquet/`` (the staged 10x corpus);
    a table absent from ``sf_dir`` gets no view."""
    import os

    import duckdb

    con = duckdb.connect()
    tune_duck(con)
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class Oracle:
    """A :func:`connect_oracle` connection that retries a failed query
    once on a fresh connection: DuckDB's allocator state after a heavy
    oracle can fail the next one, which then passes standalone
    (round-7 sweep lesson). A deterministic oracle bug fails both."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.con = connect_oracle(sf_dir)

    def fetch(self, sql):
        import duckdb

        try:
            return fetch_duck(self.con, sql)
        except duckdb.Error:
            self.con.close()
            self.con = connect_oracle(self.sf_dir)
            return fetch_duck(self.con, sql)

    def close(self) -> None:
        self.con.close()


def check_key(spark, spec, sf_dir: str, oracle: Oracle):
    """The per-key oracle check: run ``spec`` on Spark and its oracle
    SQL on ``oracle``, then release the operator caches so tracked
    persists and checkpoints never pile up across keys. Returns
    ``(entry, spark_side, duck_side)``: ``entry`` is the record
    LOCAL_CORRECTNESS.json keeps per key, each side a ``(cols, rows)``
    pair (``duck_side`` is None for a rows-only key)."""
    try:
        s_cols, s_rows = fetch_spark(spec.fn(spark, sf_dir))
        entry = {"spark_rows": len(s_rows)}
        if spec.oracle is None:
            entry.update(mode="rows_only", non_empty=len(s_rows) > 0)
            return entry, (s_cols, s_rows), None
        d_cols, d_rows = oracle.fetch(spec.oracle)
        entry.update(mode="oracle", oracle_rows=len(d_rows))
        entry.update(compare_entry(s_cols, s_rows, d_cols, d_rows))
        return entry, (s_cols, s_rows), (d_cols, d_rows)
    finally:
        release_operator_caches()


def canon_digest(cols, rows) -> dict:
    """Engine-agnostic comparison DIGEST: column names, per-column
    kinds, row count, and a sha256 over the canonical row multiset.
    Two result sets are compare_entry-equal iff their digests are
    compare_digest_entry-equal: canon_value's outputs (None, ints,
    bools, strings, and tagged tuples for floats/decimals) repr
    injectively, so hashing reprs of the sorted canon rows preserves
    the multiset equality — except int-vs-bool cells, where the digest
    is stricter and kind_match already fails the entry. The point is
    PROCESS separation: one engine's side can be computed in a child
    process (the 10x DuckDB sweep, whose mmap footprint must not share
    the Spark JVM's process) and shipped back as this small dict
    instead of millions of raw rows."""
    import hashlib

    h = hashlib.sha256()
    for t in canon_rows(cols, rows):
        h.update(repr(t).encode("utf-8"))
        h.update(b"\n")
    return {
        "cols": list(cols),
        "kinds": col_kinds(cols, rows),
        "n_rows": len(rows),
        "canon_sha": h.hexdigest(),
    }


def compare_digest_entry(s: dict, d: dict) -> dict:
    """The comparison record over two canon_digest() dicts: row count,
    column-name set, canonical value multiset, and per-column kinds (a
    column that is all NULL on either side matches any kind)."""
    kinds_ok = all(
        s["kinds"][c] == d["kinds"][c]
        or s["kinds"][c] is None
        or d["kinds"][c] is None
        for c in s["kinds"]
        if c in d["kinds"]
    )
    return {
        "rows_match": s["n_rows"] == d["n_rows"],
        "schema_match": sorted(s["cols"]) == sorted(d["cols"]),
        "values_match": s["canon_sha"] == d["canon_sha"],
        "kind_match": kinds_ok,
    }
