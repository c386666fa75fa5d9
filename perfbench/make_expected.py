"""Write ``expected_hashes.json`` for the ``query_mix`` workload.

Each expected hash is ``tools/check_oracle.normalize`` over the query's
DuckDB oracle result on ``data/sf0.01``, so the benchmark checks Spark
against an independent engine. With ``--verify`` the Spark result of
every query is computed too and must hash the same.

    python3 perfbench/make_expected.py [--verify]
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from query_mix import DATA_DIR, EXPECTED, QUERIES  # noqa: E402

from employee_activity_etl_poc_spark.plans.registry import REGISTRY  # noqa: E402
from tools.check_oracle import normalize, oracle_connection  # noqa: E402


def main() -> int:
    con = oracle_connection(DATA_DIR)
    out = {}
    for name in QUERIES:
        rows, _cols, digest = normalize(con.execute(REGISTRY[name].oracle).fetchdf())
        out[name] = {"rows": rows, "hash": digest}
    bad = 0
    if "--verify" in sys.argv[1:]:
        from employee_activity_etl_poc_spark.session import get_spark

        spark = get_spark("make_expected")
        for name in QUERIES:
            rows, _cols, digest = normalize(REGISTRY[name].fn(spark, DATA_DIR).toPandas())
            ok = (rows, digest) == (out[name]["rows"], out[name]["hash"])
            bad += not ok
            print(f"{'OK  ' if ok else 'FAIL'} {name}: spark {rows} rows")
        spark.stop()
    payload = {
        "source": "duckdb-oracle",
        "data": "data/sf0.01 (copy of the seed-42 sf0.01 test tables)",
        "hash": "tools/check_oracle.normalize",
        "queries": out,
    }
    with open(EXPECTED, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
