"""AST lint: every public top-level def or class in the package has a
caller outside ``tests/``.

A def that only its own tests call is a second surface: an alias, a
second implementation of a job the package already does, or an extra
nothing runs. This lint fails when a public (no leading ``_``)
module-level function or class in ``employee_activity_etl_poc_spark``
has no ``Name``, ``Attribute`` or import reference in any non-test
``.py`` file of the repo. Strings do not count (``__all__`` entries,
docstrings), and neither does the def's own body.

Exempt: ``@register`` queries (the registry calls them by name) and the
KEEP entries below, each with the reason it stays.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = "employee_activity_etl_poc_spark"

# (module path relative to the package, name) -> why it stays without a
# non-test caller
KEEP = {
    # store lifecycle: the coupled-horizon contract is pinned in pytest
    ("plans/llm_pipeline.py", "prune_soft_store"): "store lifecycle",
    ("plans/llm_pipeline.py", "prune_line_store"): "store lifecycle",
    ("plans/llm_pipeline.py", "prune_gram_store"): "store lifecycle",
    ("plans/llm_pipeline.py", "prune_signature_store"): "store lifecycle",
    ("sources/sinks.py", "compact_parquet"): "store lifecycle",
    # artifact lifecycle: the refresh-if-drifted loop per artifact
    ("plans/model_lifecycle.py", "refresh_classifier_if_drifted"):
        "artifact lifecycle",
    ("plans/model_lifecycle.py", "refresh_tokenizer_if_drifted"):
        "artifact lifecycle",
    ("plans/model_lifecycle.py", "refresh_kmeans_if_drifted"):
        "artifact lifecycle",
    # jar-free Delta stand-in: the table operations Delta would provide
    ("sources/deltalog.py", "delta_merge_upsert"): "jar-free Delta stand-in",
    ("sources/deltalog.py", "delta_version_diff"): "jar-free Delta stand-in",
    ("sources/deltalog.py", "compact_delta"): "jar-free Delta stand-in",
    ("sources/deltalog.py", "vacuum_delta"): "jar-free Delta stand-in",
    # a Protocol seam: the client type an enrichment caller plugs in
    ("operators/enrichment.py", "CommuteClient"): "Protocol seam",
    # reference parity (PARITY.md §2.1-§2.9)
    ("sources/catalog.py", "create_table_if_not_exists"): "reference parity",
    ("sources/catalog.py", "table_exists"): "reference parity",
    ("sources/catalog.py", "is_readable_table"): "reference parity",
    ("operators/relational.py", "upsert_new"): "reference parity",
    ("functions/scalars.py", "micros_to_timestamp"): "reference parity",
    ("functions/scalars.py", "coerce_timestamp"): "reference parity",
    ("functions/scalars.py", "coerce_double"): "reference parity",
    ("functions/scalars.py", "fold_accents"): "reference parity (F6)",
    ("functions/scalars.py", "distance_label_3g"): "a deliberate pin",
    ("plans/gold_jobs.py", "run_incremental"): "reference parity (S5)",
    ("streaming/stateful.py", "idle_closing_sessions"): "reference parity",
    ("streaming/stateful.py", "running_activity_profile"): "reference parity",
    # input checks for data from outside the program
    ("streaming/cdc.py", "parse_cdc_with_quarantine"): "external input check",
    # reference implementations the tests compare against
    ("operators/similarity.py", "near_duplicate_pairs_exact_small"):
        "test reference implementation",
    ("operators/dedup.py", "simhash_from_hashes"):
        "test reference implementation (the fold simhash_signatures matches)",
    # the paper's end-to-end entry points
    ("plans/pipeline_demo.py", "run_end_to_end"): "paper entry point",
    ("plans/llm_pipeline.py", "stream_document_ingest"): "paper entry point",
}


def _non_test_files():
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if rel.parts[0] in ("tests", ".claude") or "_work" in rel.parts:
            continue
        yield rel, ast.parse(path.read_text(), filename=str(rel))


def _is_register(dec: ast.expr) -> bool:
    call = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(call, "id", getattr(call, "attr", None)) == "register"


def _unreferenced():
    defs = []  # (module rel, name, first line, last line)
    refs: dict[str, list[tuple[str, int]]] = {}
    for rel, tree in _non_test_files():
        if rel.parts[0] == PKG:
            mod = str(pathlib.PurePosixPath(*rel.parts[1:]))
            for node in tree.body:
                if (
                    isinstance(
                        node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                    )
                    and not node.name.startswith("_")
                    and not any(_is_register(d) for d in node.decorator_list)
                ):
                    defs.append((mod, node.name, node.lineno, node.end_lineno))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            refs.setdefault(name, []).append((str(rel), getattr(node, "lineno", 0)))
    out = []
    for mod, name, first, last in defs:
        own = f"{PKG}/{mod}"
        if not any(
            not (path == own and first <= line <= last)
            for path, line in refs.get(name, ())
        ):
            out.append((mod, name))
    return out


def test_every_public_def_has_a_caller():
    offenders = [
        f"{mod}::{name}"
        for mod, name in _unreferenced()
        if (mod, name) not in KEEP
    ]
    assert not offenders, (
        "public def(s) with no reference outside tests/ — delete them, "
        "make them private, or add a KEEP entry with its reason: "
        f"{offenders}"
    )


def test_keep_list_is_not_stale():
    # a KEEP entry whose def is gone or has gained a caller is dead weight
    stale = set(KEEP) - set(_unreferenced())
    assert not stale, f"KEEP entries that no longer need the exemption: {stale}"
