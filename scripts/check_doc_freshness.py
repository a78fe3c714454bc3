"""Mechanical doc-freshness gate (round-12 verdict item 2).

Round 12 shipped PLANS.md and QUERIES.md regenerated at round-11
commits — both docs were missing the three r12 registry keys because
their regeneration step sat BEHIND the long 10x sweep in
final_gate.sh and the sweep failed. The gate now regenerates the docs
first AND runs this check, which fails loudly when either doc
disagrees with the live registry. One rule for both docs: every
registry key has a row, and QUERIES.md declares exactly
``len(QUERIES)`` queries.
"""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402


def main() -> int:
    ok = True

    qtext = open(os.path.join(REPO, "QUERIES.md")).read()
    m = re.search(r"\*\*(\d+) queries\*\*", qtext)
    declared = int(m.group(1)) if m else -1
    if declared != len(QUERIES):
        print(
            f"STALE: QUERIES.md declares {declared} queries, live "
            f"registry has {len(QUERIES)} — regenerate "
            "(scripts/gen_queries_md.py)"
        )
        ok = False

    for doc, gen in (("QUERIES.md", "gen_queries_md.py"), ("PLANS.md", "gen_plans_md.py")):
        text = open(os.path.join(REPO, doc)).read()
        missing = [k for k in QUERIES if f"| `{k}` |" not in text]
        if missing:
            print(
                f"STALE: {doc} missing rows for {len(missing)} keys: "
                f"{missing[:8]} — regenerate (scripts/{gen})"
            )
            ok = False

    if ok:
        print(f"doc freshness OK: QUERIES.md and PLANS.md cover all {len(QUERIES)} keys")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
