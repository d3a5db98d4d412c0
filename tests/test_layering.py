"""Layering: the index layer (build, manifests, maintenance, the on-disk
formats) never depends on the query layer. Every module under
honeywell_search_engine_spark/index/ is parsed, imports inside functions
included."""

import ast
import pathlib

PKG = "honeywell_search_engine_spark"
INDEX_DIR = pathlib.Path(__file__).resolve().parent.parent / PKG / "index"
QUERY_PKG = f"{PKG}.query"


def _imported_modules(tree: ast.AST) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.extend(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            # relative imports resolve against the index package
            base = f"{PKG}.index".split(".")[: 3 - node.level] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            # `from honeywell_search_engine_spark import query` names the
            # subpackage as an imported attribute
            out.extend([mod] + [f"{mod}.{a.name}" for a in node.names])
    return out


def test_index_does_not_import_query():
    bad = {
        path.name: mods
        for path in sorted(INDEX_DIR.glob("*.py"))
        if (
            mods := [
                m
                for m in _imported_modules(ast.parse(path.read_text()))
                if m == QUERY_PKG or m.startswith(QUERY_PKG + ".")
            ]
        )
    }
    assert not bad, f"index modules import the query layer: {bad}"
