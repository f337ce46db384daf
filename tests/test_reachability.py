"""Regrowth guard: every top-level def/class in pmocr_spark/ has a caller
outside the test suite.

AST-only (no Spark session). A name counts as referenced when a non-test
file other than its own definition mentions it as a Name, an Attribute,
an import alias, or an identifier-shaped string constant (the
``getattr(module, name)`` dispatch shape). Docstrings and comments do not
count. Names that only tests reach, on purpose, go in KEEP with the reason.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pmocr_spark"

#: reachable only from tests or docs, kept on purpose
KEEP = {
    "bm25_search": "reference one-shot search the index-backed search is tested against",
    "encode_word": "per-word BPE reference the Spark tokenizer is tested against",
    "evaluate_path": "robots.txt reference evaluator the Spark rule join is tested against",
    "reference_corrections": "spelling-correction reference the Spark operator is tested against",
    "blocklist_filter": "join regime, the cross-check of the literal blocklist regime",
    "hll_estimate": "the estimator for hll_sketch registers (documented user API)",
    "read_records_at": "random access by CDX offset, the next step the --warc-cdx help names",
    "has_pushed_filters": "plan-pin helper (plans/shape.py)",
    "read_schema_columns": "plan-pin helper (plans/shape.py)",
    "count_broadcast_joins": "plan-pin helper (plans/shape.py)",
    "has_cartesian": "plan-pin helper (plans/shape.py)",
    "unpartitioned_window_args": "plan-pin helper (plans/shape.py)",
    "python_udf_after_filter": "plan-pin helper (plans/shape.py)",
}

#: decorators that register the function they wrap (the query catalog)
REGISTRIES = {"query"}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _is_test(path: Path) -> bool:
    rel = path.relative_to(ROOT)
    return rel.parts[0] == "tests" or rel.name.startswith("test_") or rel.name == "conftest.py"


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the Constant nodes that are docstrings"""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _refs(node: ast.AST, skip: set[int]) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in skip
            and _IDENT.match(n.value)
        ):
            out.add(n.value)
    return out


def _registered(stmt: ast.AST) -> bool:
    for d in getattr(stmt, "decorator_list", []):
        fn = d.func if isinstance(d, ast.Call) else d
        if isinstance(fn, ast.Name) and fn.id in REGISTRIES:
            return True
    return False


def _scan():
    """(top-level definitions of the package, references per file and def)"""
    defs = []  # (file, name)
    refs = []  # (file, enclosing top-level def or None, names)
    for path in sorted(ROOT.rglob("*.py")):
        if _is_test(path):
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        skip = _docstrings(tree)
        for stmt in tree.body:
            owner = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = stmt.name
                if PACKAGE in path.parents and not _registered(stmt):
                    defs.append((path, stmt.name))
            refs.append((path, owner, _refs(stmt, skip)))
    return defs, refs


@functools.cache
def unreferenced() -> tuple[tuple[str, str], ...]:
    """(defining file, name) of every package definition that no non-test
    code references"""
    defs, refs = _scan()
    return tuple(
        (str(path.relative_to(ROOT)), name)
        for path, name in defs
        if not name.startswith("__")
        and not any(name in names and not (p == path and o == name) for p, o, names in refs)
    )


def test_every_package_definition_has_a_non_test_caller():
    assert [f"{f}: {n}" for f, n in unreferenced() if n not in KEEP] == []


def test_keep_list_holds_only_uncalled_names():
    # a KEEP name that gained a caller (or was deleted) leaves the list
    assert sorted(set(KEEP) - {n for _, n in unreferenced()}) == []
