"""Every public function or class of the package has a caller outside
``tests/``.

A name only tests reach is a second implementation of some job that the
pipeline, the registered queries and the benchmarks never run. The
scan walks the syntax trees of the package, ``__spark_entry__.py``,
``bench.py``, ``tools/*.py`` and ``perfbench/*.py`` and counts a name as
used where it appears as a ``Name``, an ``Attribute`` or an imported
alias; docstrings and comments do not count.
"""

from __future__ import annotations

import ast
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
