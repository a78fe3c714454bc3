"""Regenerate PLANS.md: physical-plan posture of every registry key,
grouped by category as QUERIES.md is."""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bigdata_financial_reporting_spark.session import get_session
from bigdata_financial_reporting_spark.queries import QUERIES
from bigdata_financial_reporting_spark.plans.inspect import plan_report
from bigdata_financial_reporting_spark.operators.cache import release_operator_caches

spark = get_session("gen-plans")
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.01"


def _posture_row(name):
    r = plan_report(QUERIES[name].fn(spark, SF))
    joins = []
    if r["broadcast_hash_join"]:
        joins.append("broadcast")
    if r["sort_merge_join"]:
        joins.append("sort-merge")
    if r["broadcast_nested_loop"]:
        joins.append("bcast-nested-loop")
    if r["cartesian"]:
        joins.append("CARTESIAN!")
    return (
        f"| `{name}` | {', '.join(joins) or chr(8212)} | {r['exchanges']} "
        f"| {r['reused_exchanges']} | {len(r['pushed_filters'])} "
        f"| {r['codegen_spans']} | {'YES' if r['rowbased_python_udf'] else 'no'} |"
    )


lines = [
    "# Physical-plan posture — every registry key",
    "",
    "Auto-generated by `scripts/gen_plans_md.py` (plans at sf0.01, cold",
    "cache). The scale properties the engine commits to, read straight",
    "off `explain`: broadcasts for small sides, filters pushed into",
    "scans, bounded shuffle counts, no cartesian products, no row-based",
    "Python outside the explicit UDF surface.",
    "",
]
cats = {}
for spec in QUERIES.values():
    cats.setdefault(spec.category or "misc", []).append(spec.name)
spark.catalog.clearCache()
for cat in sorted(cats):
    names = sorted(cats[cat])
    lines += [
        f"## {cat} ({len(names)})",
        "",
        "| query | joins | shuffles | reused | pushed filters | codegen spans | row-Python |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in names:
        lines.append(_posture_row(name))
        release_operator_caches()
    lines.append("")
out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
open(out, "w").write("\n".join(lines))
print(f"wrote {out}")
