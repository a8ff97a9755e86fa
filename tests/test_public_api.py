"""Every public function or class of the package has a caller outside
``tests/``, and every package attribute those callers name exists.

A name only tests reach is a second implementation of some job that the
pipeline, the registered queries and the benchmarks never run. The
scan walks the syntax trees of the package, ``__spark_entry__.py``,
``bench.py``, ``tools/*.py`` and ``perfbench/*.py`` and counts a name as
used where it appears as a ``Name``, an ``Attribute`` or an imported
alias; docstrings and comments do not count.

The callers outside the package reach it mostly as ``mod.attr`` after a
``from <package>... import mod``; no test imports most of ``tools/``, so
a rename in the package would break them silently. The second test
resolves every such attribute.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "etl_s3_airflow_snowflake_powerbi_marketing_data_spark"

# Public names kept without a caller outside tests, each for a reason.
ALLOWED_UNREFERENCED = {
    "brute_force_topk": "exact O(N*Q) top-k, the pytest oracle of the ANN ops",
    "cosine_dup_pairs": "exact O(N^2) duplicate pairs, a pytest oracle",
    "cosine_dup_pairs_blocked": "blocked form of the cosine_dup_pairs oracle",
    "train_merges_on_texts": "pure-Python BPE trainer, the pytest oracle of "
    "train_bpe_merges_spark",
    "synthetic_mp4_sample_rows": "builds the mp4 test fixtures",
    "synthetic_near_dup_video_rows": "builds the near-dup video test fixtures",
    "vacuum": "the versioned store's only deleter: recovery and maintenance",
    "build_dag": "Airflow imports it from the DAG file",
    "parse_raw_event_time": "parser of the reference's raw CSV time dialect",
}


def _scanned_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    return files


def _referenced_names(trees: list[ast.AST]) -> set[str]:
    names: set[str] = set()
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _public_definitions() -> list[tuple[str, str]]:
    """(defining module, name) of every public top-level ``def``/``class``."""
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                out.append((str(path.relative_to(ROOT)), node.name))
    return out


def test_every_public_name_has_a_non_test_caller():
    defined = _public_definitions()
    stale = sorted(set(ALLOWED_UNREFERENCED) - {n for _, n in defined})
    assert not stale, f"allowlisted names no longer defined: {stale}"
    used = _referenced_names([ast.parse(p.read_text()) for p in _scanned_files()])
    unreferenced = [
        f"{module}: {name}"
        for module, name in defined
        if name not in used and name not in ALLOWED_UNREFERENCED
    ]
    assert not unreferenced, (
        "public names only tests reach (wire each into a pipeline stage, "
        "registered query or tool, or delete it):\n" + "\n".join(unreferenced)
    )


def _is_package_module(dotted: str) -> bool:
    path = ROOT.joinpath(*dotted.split("."))
    return path.with_suffix(".py").is_file() or (path / "__init__.py").is_file()


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _own_nodes(scope: ast.AST) -> list[ast.AST]:
    """The nodes of ``scope``, not descending into nested functions or
    classes (they are scopes of their own and are yielded unopened)."""
    out, stack = [], list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        out.append(node)
        if not isinstance(node, _SCOPES):
            stack.extend(ast.iter_child_nodes(node))
    return out


def _module_attributes(tree: ast.AST) -> list[tuple[str, str, int]]:
    """(package module, attribute, line) for every ``alias.attr`` read
    where ``alias`` is bound, in its own or an enclosing scope, by
    ``from <package>... import <module> [as alias]``."""
    found = []

    def visit(scope: ast.AST, env: dict[str, str]) -> None:
        nodes = _own_nodes(scope)
        env = dict(env)
        for node in nodes:
            if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                (node.module or "").split(".")[0] == PACKAGE.name
            ):
                for alias in node.names:
                    dotted = f"{node.module}.{alias.name}"
                    if _is_package_module(dotted):
                        env[alias.asname or alias.name] = dotted
        for node in nodes:
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Load)
                and isinstance(node.value, ast.Name)
                and node.value.id in env
            ):
                found.append((env[node.value.id], node.attr, node.lineno))
            elif isinstance(node, _SCOPES):
                visit(node, env)

    visit(tree, {})
    return found


def test_every_package_attribute_a_tool_names_resolves():
    callers = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    callers += sorted((ROOT / "tools").glob("*.py"))
    callers += sorted((ROOT / "perfbench").glob("*.py"))
    missing, checked = [], 0
    for path in callers:
        for module, attr, line in _module_attributes(ast.parse(path.read_text())):
            checked += 1
            if not (
                hasattr(importlib.import_module(module), attr)
                or _is_package_module(f"{module}.{attr}")
            ):
                missing.append(
                    f"{path.relative_to(ROOT)}:{line}: {module}.{attr}"
                )
    assert checked, "the scan found no package attributes at all"
    assert not missing, "attributes that no longer exist:\n" + "\n".join(
        sorted(missing)
    )
