"""Cache-ownership lint (r8 judge ask #8): every operator that persists
frames backing its returned LAZY result hands the CALLER the release —
fine for one-shot gated queries under bench.py's per-query
``clearCache()`` hygiene, a leak for any repeated or streaming call site
(one cache registration per micro-batch, the class fixed in
``lsh_bucket_stats``/``llm_pipeline``). This enforces the contract with
ast, not a docstring: repeated contexts never call an always-caching
operator and pass ``persist=False`` to the one that can opt out, and
every other call site in the package is on the ONE_SHOT allowlist."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "employee_activity_etl_poc_spark",
)

# operators that always leave caches for their caller to release
_ALWAYS_CACHES = {
    "minhash_near_duplicates",
    "minhash_cross_pairs",
    "prefix_jaccard_pairs",
    "duplicated_token_spans",
    "remove_duplicated_spans",
}
# the one caching operator with a persist=False opt-out
_OPT_OUT = "remove_duplicated_spans_incremental"
_OWNED = _ALWAYS_CACHES | {_OPT_OUT}

# (relative module, function name) call sites allowed to leave caches
# behind: one-shot registered gate queries, released by the bench/sweep
# clearCache hygiene between queries
ONE_SHOT_OK = {
    ("plans/llm_queries.py", "minhash_near_duplicates"),
    ("plans/llm_queries.py", "minhash_cross_pairs"),
    ("plans/llm_queries.py", "prefix_jaccard_pairs"),
    ("plans/llm_queries.py", "duplicated_token_spans"),
    ("plans/llm_queries.py", "remove_duplicated_spans"),
    ("plans/llm_queries.py", "remove_duplicated_spans_incremental"),
    # remove_duplicated_spans builds on the detector: its own caller
    # owns both operators' caches
    ("operators/dedup.py", "duplicated_token_spans"),
}

# modules that run per micro-batch / per epoch: no always-caching
# operator, and the opt-out operator only with persist=False
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
    assert {name for _, name, _ in found} == _OWNED, (
        "a caching operator has no package call site — lint is stale"
    )
    for rel, name, node in found:
        if rel.startswith(_REPEATED_CONTEXTS):
            assert name == _OPT_OUT and _passes_persist_false(node), (
                f"{rel}:{node.lineno}: {name} in a repeated/streaming "
                "context leaves one cache registration per micro-batch — "
                f"only {_OPT_OUT}(persist=False) may run here"
            )
        elif not (name == _OPT_OUT and _passes_persist_false(node)):
            assert (rel, name) in ONE_SHOT_OK, (
                f"{rel}:{node.lineno}: {name} leaves caches for its caller "
                "but is not on the ONE_SHOT_OK allowlist — document the "
                "release owner here"
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
