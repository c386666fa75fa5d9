"""AST lint: driver-side local relations have exactly ONE home.

Python rows handed to ``createDataFrame`` (as a list or through
``sparkContext.parallelize``) become a ``Scan ExistingRDD`` leaf: every
scan runs a Python worker to serve the rows, and the planner sees a
Long.MaxValue size, so it never broadcasts the relation unhinted.
``employee_activity_etl_poc_spark.localrel.local_df`` builds an Arrow
``LocalRelation`` instead: no Python worker, real size statistics. This
lint fails any NEW plain ``createDataFrame`` call site and any
``parallelize(`` call in package (non-test) code.

Allowlist entries are (path, reason) — a site is exempt only when its
input is NOT a local row list (e.g. a pandas DataFrame, which takes the
Arrow conversion path and never becomes a Python-RDD scan).
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "employee_activity_etl_poc_spark"
)

ALLOWED = {
    # the helper itself — the single legitimate raw call
    "localrel.py",
    # Excel reader: createDataFrame(pandas_df) takes the Arrow
    # conversion path (no Python-RDD scan)
    "sources/readers.py",
}


def _call_sites(attr: str):
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text(), filename=rel)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr
            ):
                hits.append((rel, node.lineno))
    return hits


def test_no_raw_createdataframe_outside_localrel():
    offenders = [
        f"{rel}:{line}"
        for rel, line in _call_sites("createDataFrame")
        if rel not in ALLOWED
    ]
    assert not offenders, (
        "plain createDataFrame call site(s) in package code — driver-local "
        "rows must use localrel.local_df (an Arrow LocalRelation: no Python "
        f"worker, real size statistics): {offenders}"
    )


def test_no_parallelize_in_package():
    offenders = [f"{rel}:{line}" for rel, line in _call_sites("parallelize")]
    assert not offenders, (
        "parallelize call site(s) in package code — a Python RDD scan runs "
        "a Python worker and has no size statistics; driver-local rows must "
        f"use localrel.local_df: {offenders}"
    )


def test_allowlist_is_not_stale():
    # every allowlisted file must still contain at least one raw call —
    # otherwise the exemption is dead weight and should be removed
    live = {rel for rel, _ in _call_sites("createDataFrame")}
    stale = ALLOWED - live
    assert not stale, f"allowlist entries with no raw call left: {stale}"
