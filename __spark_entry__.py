"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship business query (the reference's wellness
KPI rollup, ``FormulaePowerBI.txt:30-47``) at sf0.001. ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 with a
DuckDB oracle where SQL-expressible.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from employee_activity_etl_poc_spark.plans.registry import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    # Match the engine's expected session settings even when the driver
    # hands us its own SparkSession.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for conf, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # tz-naive parquet timestamps must read as LTZ, not TIMESTAMP_NTZ
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(conf, val)
        except Exception:
            pass  # already-read schemas may pin these; loader tolerates both
    return REGISTRY["wellness_kpis"].fn(spark, "/root/testdata/sf0.001")


def _latest_gate_round() -> dict[str, int]:
    """query -> the latest round N whose committed
    ``CORRECTNESS_r<N>.json`` gated it."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        with open(path) as fh:
            for name in json.load(fh):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def _ordered() -> dict[str, object]:
    """The registry, stalest gate first. The external correctness gate
    verifies a PREFIX of this dict (50 queries), so queries never gated
    (round 0) lead, then those whose latest gate is oldest; the sort is
    stable, so ties keep registry order."""
    latest = _latest_gate_round()
    names = sorted(REGISTRY, key=lambda n: latest.get(n, 0))
    return {n: REGISTRY[n] for n in names}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator query from SURVEY.md §2."""
    return {name: q.fn for name, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {name: q.oracle for name, q in _ordered().items() if q.oracle is not None}
