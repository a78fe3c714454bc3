"""The ONE shared fetch + canonicalization path and the ONE sweep loop
for every oracle harness.

Three harnesses used to fetch results three different ways, the last
one ASYMMETRIC (Spark NULL doubles became NaN through ``toPandas()``,
DuckDB NULLs stayed None), which manufactured a false at-scale red for
``fn_try_arithmetic``, the key whose entire purpose is emitting NULLs.
Everything now goes through this module:

- :func:`fetch_spark` / :func:`fetch_duck` — raw row tuples from
  ``collect()`` and ``fetchall()``: NULL is ``None`` on both sides,
  NaN stays a float NaN on both sides, no pandas coercion anywhere.
- :func:`canon_value` / :func:`canon_rows` — the driver-strict canon
  (bitwise IEEE doubles, exact decimal value strings, -0.0 kept
  distinct); tests/test_oracle.py imports it from here.
- :func:`col_kinds` — per-column Python-type kinds from the raw rows
  (the typed-rendering parity the pandas dtype check approximated,
  without pandas' int+NULL -> float coercion).
- :func:`connect_oracle` / :class:`Oracle` / :func:`check_key` — the
  one tuned DuckDB connection over the fixture tables (recycled, and
  retried once on a fresh connection), and the per-key check
  scripts/check_keys.py prints and scripts/gen_local_correctness.py
  and scripts/gen_stream_equiv.py commit.
- :func:`sweep_keys` / :func:`sweep` — the one per-key sweep loop
  behind every keyed evidence artifact (LOCAL_CORRECTNESS,
  SCALE_CORRECTNESS, NEGZERO_SWEEP): one wall cap per key, abort on
  JVM death, per-key ``sec``, and one verdict rule
  (:func:`key_verdict`: an error is red). :func:`sweep_in_child` runs
  a DuckDB-only slice of a sweep in a fresh process.
- :func:`provenance` — git SHA + wall timestamp for every emitted
  artifact, so a stale artifact is mechanically detectable.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import struct
import subprocess
import sys
import tempfile
import threading
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
    heaviest oracles). Every DuckDB connection an oracle harness opens
    comes from :func:`connect_oracle`, which calls this, and perfbench
    calls it directly, so no harness drifts back to an untuned
    connection.

    The spill dir is RUN-UNIQUE with an atexit cleanup (round-14: a
    SIGKILLed 10x oracle run cannot delete its duckdb_temp_storage
    files — a shared spill dir accumulated 78 GB across killed runs
    until the NEGZERO 10x stage died on a full disk; unique dirs
    bound each leak to one run and scripts/final_gate.sh purges any
    bdfr_duck_spill_* leftovers from prior kills at gate start). In a
    :func:`sweep_in_child` child the dir lands in the child's private
    ``TMPDIR``, which the parent removes even after a kill. The dir
    lives as long as the connection (see ``operators/cache.py``), so it
    is not a release-scoped ``scratch_dir``."""
    import atexit
    import shutil

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
    import duckdb

    con = duckdb.connect()
    tune_duck(con)
    # no progress bar: on a long oracle it writes to stdout, where it
    # would run into the JSON line a sweep_in_child child prints
    con.execute("SET enable_progress_bar=false")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


#: recycle the oracle connection every N statements: at the 10x corpus
#: a single connection's allocator state grows monotonically across
#: hundreds of prepared+executed statements until the PROCESS (not the
#: DuckDB memory_limit) fails tiny mallocs with bad_alloc, poisoning
#: every later query (round-8 finding — the whole udf_*/window_* tail
#: errored after one mid-run OOM and the sweep looked hung).
RECONNECT_EVERY = 40


class Oracle:
    """A :func:`connect_oracle` connection, recycled every
    :data:`RECONNECT_EVERY` statements, that retries a failed query
    once on a fresh connection: DuckDB's allocator state after a heavy
    oracle can fail the next one, which then passes standalone
    (round-7 sweep lesson; bad_alloc while co-resident with the 8g
    Spark JVM in the r12 10x sweep). A deterministic oracle bug fails
    both. An interrupt (the sweep's wall cap) is never retried."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.con = connect_oracle(sf_dir)
        self.used = 0

    def _reconnect(self) -> None:
        self.con.close()
        self.con = connect_oracle(self.sf_dir)
        self.used = 0

    def fetch(self, sql):
        import duckdb

        if self.used >= RECONNECT_EVERY:
            self._reconnect()
        self.used += 1
        try:
            return fetch_duck(self.con, sql)
        except duckdb.InterruptException:
            raise
        except duckdb.Error:
            self._reconnect()
            return fetch_duck(self.con, sql)

    def interrupt(self) -> None:
        """Interrupt the running statement. Tried twice: an interrupt
        that dies (round-7: MemoryError inside the timer thread under
        allocator pressure) must not leave the query running
        unbounded."""
        for _ in range(2):
            try:
                self.con.interrupt()
                return
            except Exception:
                pass

    def drain(self) -> None:
        """Swallow a pending interrupt: a cap that fires in the gap
        between ``fetchall()`` returning and the timer's cancel leaves
        one behind, and it would abort the NEXT oracle."""
        import duckdb

        try:
            self.con.execute("SELECT 1").fetchall()
        except duckdb.InterruptException:
            pass

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


#: Per-key wall cap (seconds) of every sweep. Generous for every
#: linear/linearithmic key at the 10x corpus; only deliberately
#: quadratic ground truths approach it. A capped key is listed under
#: ``timeouts`` — visible, never silent, and not red.
KEY_SECONDS = 90.0

#: Per-key cap overrides, for DuckDB ground truths that are slow by
#: construction at the 10x corpus and still worth the wall:
#: dedup_ngram_jaccard's exact lang-blocked all-pairs Jaccard CTE
#: measured 383 s (Spark side 74 s), and fn_date's 14 date-function
#: columns over 6M rows 335 s standalone (round 13).
KEY_SECONDS_OVERRIDE = {"dedup_ngram_jaccard": 600.0, "fn_date": 600.0}


def key_seconds(name: str) -> float:
    return KEY_SECONDS_OVERRIDE.get(name, KEY_SECONDS)


class JvmDied(Exception):
    """The local JVM died mid-sweep (:func:`is_jvm_death`)."""


def key_verdict(entry: dict) -> str:
    """The one verdict rule of every sweep: ``"timeout"`` (listed,
    non-fatal), ``"green"`` or ``"red"``. A comparison key is green
    only with mode ``"oracle"`` and :func:`entry_green`; a signbit scan
    (check_negzero) only with no hits. Everything else — an error, a
    rows-only or unrecognised entry — is red, so no key can drop out
    of the count."""
    if "timeout" in entry:
        return "timeout"
    if "error" in entry:
        return "red"
    if entry.get("mode") == "oracle":
        return "green" if entry_green(entry) else "red"
    if entry.get("mode") == "signbit":
        return "red" if entry["hits"] else "green"
    return "red"


def tally(queries: dict) -> dict:
    """Key names by :func:`key_verdict`."""
    out = {"green": [], "red": [], "timeout": []}
    for name, entry in queries.items():
        out[key_verdict(entry)].append(name)
    return out


def sweep_keys(keys, check, *, spark=None, oracle=None) -> dict:
    """Run ``check(name) -> entry`` for every key and return
    ``{name: entry}``, each entry stamped with its wall ``sec``.

    One wall cap per key (:func:`key_seconds`): when it expires, the
    key's Spark job group is cancelled and ``oracle``'s running DuckDB
    statement interrupted; a check that then raises is recorded as a
    timeout. Any other exception is recorded as the key's ``error``
    (red), except a JVM death, which raises :class:`JvmDied`: hundreds
    of bogus per-key errors from a dead session once made a
    "completed" artifact (round-6)."""
    out = {}
    for name in keys:
        t0 = time.time()
        fired = []
        tag = f"sweep-{name}"
        if spark is not None:
            spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel=True)

        def _cap():
            fired.append(True)
            if spark is not None:
                spark.sparkContext.cancelJobGroup(tag)
            if oracle is not None:
                oracle.interrupt()

        timer = threading.Timer(key_seconds(name), _cap)
        timer.start()
        try:
            entry = check(name)
        except Exception as exc:
            if is_jvm_death(exc):
                raise JvmDied(f"{name}: {type(exc).__name__}: {exc}"[:400]) from exc
            if fired:
                interrupted = "Interrupt" in type(exc).__name__
                entry = {"timeout": "duckdb" if interrupted else "spark"}
            else:
                entry = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        finally:
            timer.cancel()
            timer.join()
        if spark is not None:
            spark.sparkContext.setJobGroup("", "")
        if fired and oracle is not None:
            oracle.drain()
        entry["sec"] = round(time.time() - t0, 2)
        out[name] = entry
    return out


def sweep(path, keys, check, build, *, spark=None, oracle=None) -> int:
    """The sweep behind a keyed evidence artifact: :func:`sweep_keys`,
    then write ``{**provenance(), **build(queries, verdicts),
    "wall_sec": ...}`` to ``path`` (``verdicts`` is :func:`tally`'s).
    Returns 3 with NO artifact written on a JVM death, 1 if any key
    is red, else 0 — a timeout alone stays 0."""
    t0 = time.time()
    try:
        queries = sweep_keys(keys, check, spark=spark, oracle=oracle)
    except JvmDied as exc:
        print(f"FATAL: JVM death while running {exc}", file=sys.stderr)
        return 3
    v = tally(queries)
    record = {
        **provenance(),
        **build(queries, v),
        "wall_sec": round(time.time() - t0, 1),
    }
    with open(path, "w") as fh:
        json.dump(record, fh, indent=2)
    print(
        f"{len(v['green'])}/{len(queries)} keys green, red={v['red']}, "
        f"{len(v['timeout'])} timeouts ({record['wall_sec']}s) -> {path}"
    )
    return 1 if v["red"] else 0


#: Child-process code for :func:`sweep_in_child`: load the module that
#: defines the function (a package module or a script, by file path),
#: call it, and print its result as the last stdout line.
_CHILD = (
    "import importlib.util, json, sys\n"
    "sys.path.insert(0, sys.argv[1])\n"
    "spec = importlib.util.spec_from_file_location('_sweep_child', sys.argv[2])\n"
    "mod = importlib.util.module_from_spec(spec)\n"
    "spec.loader.exec_module(mod)\n"
    "print(json.dumps(getattr(mod, sys.argv[3])(*json.loads(sys.argv[4]))))\n"
)


def sweep_in_child(fn, sf_dir: str, names: list) -> dict:
    """``fn(sf_dir, names)`` — a module-level function that returns
    :func:`sweep_keys`' ``{name: entry}`` for a DuckDB-only check — run
    in a fresh Python process. DuckDB runs out of process because its
    allocator and mmap state outlive every connect/close pair: the
    round-11 sweeps segfaulted after heavy window oracles exhausted
    vm.max_map_count, killing the whole run. The result travels back
    as the child's last stdout line of JSON. A nonzero rc or a missing
    JSON object marks every key of ``names`` as an error (red); an
    expired wall (the keys' caps plus 900 s for fetching and digesting
    multi-million-row outputs) as a timeout.

    The child's ``TMPDIR`` is a dir this call removes however the child
    ended, so the temp files of a killed child (its DuckDB spill dir
    above all, which no atexit of its own can remove) go with it."""
    mod = sys.modules[fn.__module__]
    wall = sum(key_seconds(n) for n in names) + 900
    argv = [
        sys.executable, "-c", _CHILD,
        str(Path(__file__).resolve().parents[1]),
        str(Path(mod.__file__).resolve()),
        fn.__name__,
        json.dumps([sf_dir, list(names)]),
    ]
    try:
        with tempfile.TemporaryDirectory(
            prefix="bdfr_child_", ignore_cleanup_errors=True
        ) as tmp:
            proc = subprocess.run(
                argv, capture_output=True, text=True, timeout=wall,
                env={**os.environ, "TMPDIR": tmp},
            )
    except subprocess.TimeoutExpired:
        return {n: {"timeout": "child"} for n in names}
    if proc.returncode != 0:
        err = f"child rc={proc.returncode}: {(proc.stderr or '').strip()[-300:]}"
    else:
        try:
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            return {n: out.get(n, {"error": "no entry from child"}) for n in names}
        except (ValueError, IndexError, AttributeError):
            err = f"child printed no JSON object: {proc.stdout[-200:]!r}"
    return {n: {"error": err} for n in names}


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
