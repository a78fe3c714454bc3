"""Emit SCALE_CORRECTNESS.json — the driver's t2 gate re-run AT SCALE
(default: the 10x staged corpus, /tmp/sf1x).

Why this exists: correctness divergence can be scale-dependent. The
round-6 Spearman bug was invisible at sf0.01 and sf0.1's oracle tests
(moments fit int64) and only wrapped at ~2M rows/group on the 10x
corpus; the round-6 at-scale reds (raw double sums crossing rounding
boundaries at ~1M+ rows) were equally invisible below. This sweep runs
EVERY registry key on Spark AND DuckDB at the staged scale through the
ONE shared fetch path (``bigdata_financial_reporting_spark.oracle_compare``).

The Spark side runs in this process; the DuckDB side runs in a fresh
child per key (``oracle_compare.sweep_in_child``), which ships back
only the ``canon_digest`` of the oracle's rows. The loop is
``oracle_compare.sweep``: one wall cap per key (capped keys are listed
under ``timeouts``, never skipped silently), a key whose check raises
is red, and a JVM death aborts with rc 3 and writes NO artifact. The
end-of-round gate (scripts/final_gate.sh) requires rc 0 before
committing the artifact, and the artifact embeds the git SHA it ran
against.

Usage:
    python scripts/gen_scale_correctness.py             # /tmp/sf1x
    python scripts/gen_scale_correctness.py /some/dir   # explicit dir
Stage the 10x corpus first if absent: python scripts/gen_scale10x.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_financial_reporting_spark.oracle_compare import (  # noqa: E402
    KEY_SECONDS,
    KEY_SECONDS_OVERRIDE,
    Oracle,
    canon_digest,
    compare_digest_entry,
    fetch_spark,
    sweep,
    sweep_in_child,
    sweep_keys,
)
from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402
from bigdata_financial_reporting_spark.session import get_session  # noqa: E402


def duck_digests(sf_dir: str, names: list) -> dict:
    """Child side: each key's oracle digest at ``sf_dir``."""
    oracle = Oracle(sf_dir)
    return sweep_keys(
        names,
        lambda n: {"digest": canon_digest(*oracle.fetch(QUERIES[n].oracle))},
        oracle=oracle,
    )


def main() -> int:
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

    def check(name: str) -> dict:
        s_cols, s_rows = fetch_spark(QUERIES[name].fn(spark, sf_dir))
        entry = {"spark_rows": len(s_rows)}
        # digest, then drop, the Spark rows before the DuckDB child
        # starts: at 10x they are millions of tuples the child's memory
        # would otherwise have to fit beside
        s_digest = canon_digest(s_cols, s_rows)
        del s_rows
        d = sweep_in_child(duck_digests, sf_dir, [name])[name]
        if "digest" not in d:  # the child's timeout or error
            return {**entry, **d}
        entry.update(mode="oracle", oracle_rows=d["digest"]["n_rows"])
        entry.update(compare_digest_entry(s_digest, d["digest"]))
        return entry

    def build(queries: dict, v: dict) -> dict:
        return {
            "sf_dir": sf_dir,
            "per_query_cap_sec": KEY_SECONDS,
            "oracle_cap_overrides": KEY_SECONDS_OVERRIDE,
            "n_queries": len(queries),
            "n_oracle_compared": sum(
                1 for e in queries.values() if e.get("mode") == "oracle"
            ),
            "n_oracle_green": len(v["green"]),
            "oracle_red": v["red"],
            "n_rows_only": 0,
            "timeouts": v["timeout"],
            "errors": [n for n, e in queries.items() if "error" in e],
            "queries": queries,
        }

    rc = sweep(
        os.path.join(REPO, "SCALE_CORRECTNESS.json"),
        QUERIES,
        check,
        build,
        spark=spark,
    )
    if rc != 3:  # a dead JVM cannot be stopped
        spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
