"""Dump ``explain("formatted")`` for named registry queries to files.

Writes ``plans/<round>/<query>_<suffix>.txt`` — the physical plan
evidence for every query a change touches. Expression ids (``#N``) and
exchange ids (``plan_id=N``) are normalized at write time: both are
session counters, so two dumps of the same plan taken at different
commits compare with a plain ``diff``.

Usage:
    python tools/explain_dump.py <suffix> <query[,query...]> [sf_dir]

Writes plans/$PLAN_ROUND/<query>_<suffix>.txt for each query
(PLAN_ROUND defaults to r14).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from employee_activity_etl_poc_spark.plans.registry import REGISTRY  # noqa: E402
from employee_activity_etl_poc_spark.session import get_spark  # noqa: E402


def normalize(plan: str) -> str:
    """Replace the session-counter ids of a plan string with ``N``."""
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))


def main() -> None:
    suffix = sys.argv[1]
    names = [n for n in sys.argv[2].split(",") if n]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    out_dir = os.path.join(REPO, "plans", os.environ.get("PLAN_ROUND", "r14"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain-dump")
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        txt = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
