"""Regenerate QUERIES.md from the live registry (run after adding queries)."""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from employee_activity_etl_poc_spark.plans.registry import REGISTRY  # noqa: E402

lines = [
    "# QUERIES — the registry surface",
    "",
    "Every named query exposed through `__spark_entry__.py::queries()`;",
    "'oracle' = DuckDB value-hash verified (CORRECTNESS gate), 'rows-only' =",
    "not SQL-expressible, checked for shape/rows. Generated from the",
    "registry docstrings (`tools/gen_queries_md.py`).",
    "",
    "| query | check | tags | what it is |",
    "|---|---|---|---|",
]
for name, q in sorted(REGISTRY.items()):
    check = "oracle" if q.oracle else "rows-only"
    doc = " ".join(q.doc.split())
    lines.append(f"| `{name}` | {check} | {', '.join(q.tags)} | {doc} |")
lines.append("")
lines.append(
    f"Total: {len(REGISTRY)} queries, "
    f"{sum(1 for q in REGISTRY.values() if q.oracle)} oracle-checked."
)
open(os.path.join(ROOT, "QUERIES.md"), "w").write("\n".join(lines) + "\n")
print(f"QUERIES.md: {len(REGISTRY)} entries")
