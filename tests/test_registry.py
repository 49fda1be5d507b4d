"""The query registry's shape: names, order, functions and oracle text
pinned by a committed snapshot, the same under every import order, and
a one-way import graph between the query modules.

The driver hash-checks the first 50 entries of ``queries.REGISTRY``, so
a refactor of the query modules must leave the registry byte-identical.
Regenerate the snapshot only for a deliberate registry change:
``python tests/test_registry.py > tests/registry_snapshot.tsv``.
"""

from __future__ import annotations

import ast
import hashlib
import subprocess
import sys
from pathlib import Path

import pytest

TESTS = Path(__file__).resolve().parent
REPO = TESTS.parent
PKG = REPO / "kaggle_ecommerce_etl_spark"
SNAPSHOT = TESTS / "registry_snapshot.tsv"

QUERY_MODULES = (
    "queries",
    "queries_ext",
    "queries_ext2",
    "queries_ext3",
    "queries_ext4",
    "queries_pipeline",
)

#: helpers the query modules share; each is defined once, in queries_common
SHARED_HELPERS = (
    "_t", "_dsum", "_fixture_tag", "_stream_fixture_dir",
    "_publish_fixture_dir", "_parquet_stream", "_format_fixture",
    "_view", "_sw_list",
    "_oracle_conflict", "_SHINGLE_SQL", "_mh_sql", "_band_sql",
    "ORACLE_SESSIONIZE", "_CC_REACH_SQL",
)


def registry_snapshot() -> str:
    """One line per entry: name, defining function, oracle digest."""
    from kaggle_ecommerce_etl_spark.queries import REGISTRY

    lines = []
    for name, (fn, oracle) in REGISTRY.items():
        digest = "-" if oracle is None else hashlib.sha1(oracle.encode()).hexdigest()[:12]
        lines.append(f"{name}\t{fn.__module__}.{fn.__qualname__}\t{digest}\n")
    return "".join(lines)


def test_registry_matches_snapshot():
    assert registry_snapshot() == SNAPSHOT.read_text()


_FIRST_IMPORT = r"""
import sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, {tests!r})
import kaggle_ecommerce_etl_spark.{module}
from test_registry import registry_snapshot
sys.stdout.write(registry_snapshot())
"""


@pytest.mark.parametrize("module", QUERY_MODULES)
def test_registry_independent_of_import_order(module):
    """Importing any query module first yields the same registry."""
    script = _FIRST_IMPORT.format(repo=str(REPO), tests=str(TESTS), module=module)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout == SNAPSHOT.read_text()


def _query_module_sources() -> dict[str, ast.Module]:
    return {
        name: ast.parse((PKG / f"{name}.py").read_text())
        for name in QUERY_MODULES + ("queries_common",)
    }


def _imports_query_module(node: ast.ImportFrom) -> bool:
    mod = node.module or ""
    if mod.startswith("kaggle_ecommerce_etl_spark.queries"):
        return True
    return mod == "kaggle_ecommerce_etl_spark" and any(
        a.name.startswith("queries") for a in node.names
    )


def test_no_function_local_imports_between_query_modules():
    offenders = []
    for name, tree in _query_module_sources().items():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Import):
                    bad = any(".queries" in a.name for a in node.names)
                else:
                    bad = isinstance(node, ast.ImportFrom) and _imports_query_module(node)
                if bad:
                    offenders.append(f"{name}.py:{node.lineno} in {fn.name}")
    assert not offenders, offenders


def test_wave_modules_import_only_the_shared_helpers():
    """queries imports the wave modules; they import only queries_common,
    which imports no query module: the graph has no cycle."""
    allowed = {
        "queries": {m for m in QUERY_MODULES if m != "queries"} | {"queries_common"},
        "queries_common": set(),
    }
    for name, tree in _query_module_sources().items():
        got = set()
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and _imports_query_module(node):
                if node.module == "kaggle_ecommerce_etl_spark":
                    got |= {a.name for a in node.names}
                else:
                    got.add(node.module.rsplit(".", 1)[1])
        assert got <= allowed.get(name, {"queries_common"}), (name, got)


def test_shared_helpers_defined_once():
    defined: dict[str, list[str]] = {h: [] for h in SHARED_HELPERS}
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            else:
                continue
            for n in names:
                if n in defined:
                    defined[n].append(str(path.relative_to(PKG)))
    assert all(where == ["queries_common.py"] for where in defined.values()), defined


def _fixture_path_decisions(tree: ast.Module) -> list[str]:
    """The ``"/tmp"`` string literals (docstrings aside) and the hash
    calls over ``sf_dir`` in one module: each is a fixture path decided
    outside ``queries_common``."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    hashes = hashlib.algorithms_available | {"new"}
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "/tmp" in node.value
            and id(node) not in docstrings
        ):
            found.append(f"{node.lineno}: literal {node.value!r}")
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in hashes
            and any(isinstance(n, ast.Name) and n.id == "sf_dir" for n in ast.walk(node))
        ):
            found.append(f"{node.lineno}: {node.func.attr} over sf_dir")
    return found


def test_fixture_paths_decided_only_in_queries_common():
    """Fixture paths are tagged by ``queries_common._fixture_tag`` and
    rooted at ``tempfile.gettempdir()``: no other package module holds
    a ``/tmp`` path or hashes ``sf_dir`` into a tag of its own."""
    offenders = {
        str(path.relative_to(PKG)): found
        for path in PKG.rglob("*.py")
        if path.name != "queries_common.py"
        and (found := _fixture_path_decisions(ast.parse(path.read_text())))
    }
    assert offenders == {}, offenders


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    sys.stdout.write(registry_snapshot())
