"""Local replica of the driver's correctness gate.

Runs every REGISTRY query on Spark and its DuckDB oracle side-by-side,
normalizes both results (columns sorted by name, rows sorted, values
stringified), and reports row-count / schema-shape / value-hash agreement.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from employee_activity_etl_poc_spark.plans.registry import REGISTRY  # noqa: E402
from employee_activity_etl_poc_spark.schemas import TESTDATA_TABLES  # noqa: E402
from employee_activity_etl_poc_spark.session import get_spark  # noqa: E402


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def normalize(df) -> tuple[int, list[str], str]:
    """(row_count, sorted column names, order-insensitive value hash)."""
    cols = sorted(df.columns)
    rows = sorted(tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(rows), cols, h.hexdigest()


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the testdata tables registered as views —
    the driver's oracle environment, reproduced."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_sweep(spark, sf_dir: str, only: set[str] | None = None) -> int:
    """Run the full registry-vs-oracle compare; returns the failure
    count. Callable from main() AND from the in-suite
    ``pytest -m oracle_sweep`` test, so 'ALL OK' is a test, not a
    claim."""
    con = oracle_connection(sf_dir)
    failures = 0
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            t0 = time.time()
            try:
                sdf = q.fn(spark, sf_dir).toPandas()
            except Exception as e:
                print(f"FAIL {name}: spark error: {e}")
                failures += 1
                continue
            if q.oracle is None:
                print(f"SKIP {name}: no oracle (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
                continue
            try:
                odf = con.execute(q.oracle).fetchdf()
            except Exception as e:
                print(f"FAIL {name}: duckdb error: {e}")
                failures += 1
                continue
            sn, sc, sh = normalize(sdf)
            on_, oc, oh = normalize(odf)
            ok = (sn, sc, sh) == (on_, oc, oh)
            status = "OK  " if ok else "FAIL"
            print(f"{status} {name}: rows {sn}/{on_} cols {sc == oc} hash {sh == oh} "
                  f"[{time.time()-t0:.1f}s]")
            if not ok:
                failures += 1
                if sc != oc:
                    print(f"   spark cols: {sc}\n   duck  cols: {oc}")
                elif sn != on_ or sh != oh:
                    # show a few differing rows for debugging
                    s = sdf[sorted(sdf.columns)].map(_norm_cell)
                    o = odf[sorted(odf.columns)].map(_norm_cell)
                    s_t = set(map(tuple, s.itertuples(index=False)))
                    o_t = set(map(tuple, o.itertuples(index=False)))
                    print(f"   only-spark: {list(s_t - o_t)[:3]}")
                    print(f"   only-duck : {list(o_t - s_t)[:3]}")
        finally:
            # release the caches a query leaves for its caller, as bench.py
            # and perfbench/query_mix.py do, so no later query re-caches them
            spark.catalog.clearCache()
    print("ALL OK" if failures == 0 else f"{failures} FAILURES")
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # no console progress bar: it shares a terminal line (split by \r)
    # with the OK/FAIL result lines, so a line filter would drop results
    spark = get_spark(
        "check_oracle", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    return 1 if run_sweep(spark, sf_dir, only or None) else 0


if __name__ == "__main__":
    raise SystemExit(main())
