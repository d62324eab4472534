"""No package code that only tests and tools reach.

Every public name that a module under ``go_matrixprofile_spark/``
defines must be used by the program itself: the package,
``__spark_entry__.py``, ``bench.py``, ``jobs/`` or ``perfbench/``, or
another definition in the same module. A use from ``tests/`` or
``tools/`` alone does not count, and neither does a re-export in a
package ``__init__.py``.

The one exception is ``REFERENCES``: plain implementations that tests
hold the Spark or kernel path equal to."""

import ast
import functools
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "go_matrixprofile_spark"
NOT_PROGRAM = {"tests", "tools"}

REFERENCES = {
    "operators/reference_rollup.py": {
        "derive_series_pandas": "pandas twin of operators.series.derive_series",
        "rollup_pandas": "pandas twin of operators.rollup.rollup_tiers",
        "gap_fill_locf_pandas": "pandas twin of operators.rollup.gap_fill_locf",
    },
    "sources/datagen.py": {
        "generate_transcripts_pandas": "pandas twin of generate_transcripts",
    },
    "functions/langprofiles.py": {
        "predict": "pure-Python twin of operators.text.lang_id",
    },
    "functions/bpe.py": {
        "count_tokens": "pure-Python twin of operators.text.token_counts_bpe",
    },
}


def _modules():
    return sorted(p.relative_to(PACKAGE).as_posix() for p in PACKAGE.rglob("*.py"))


def _program_files():
    for path in sorted(ROOT.rglob("*.py")):
        parts = path.relative_to(ROOT).parts
        if parts[0] in NOT_PROGRAM or any(p.startswith(".") for p in parts):
            continue
        if path.name == "__init__.py":
            continue
        yield path


def _used_names(node) -> set[str]:
    """Names node reads, reads as an attribute, or imports."""
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name)
    return used


def _public_definitions(tree) -> dict[str, ast.stmt]:
    defs = {}
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
            defs[stmt.name] = stmt
        elif isinstance(stmt, ast.Assign):
            defs.update((t.id, stmt) for t in stmt.targets if isinstance(t, ast.Name))
    return {name: stmt for name, stmt in defs.items() if not name.startswith("_")}


@functools.cache
def _program_uses() -> dict[Path, set[str]]:
    return {
        path: _used_names(ast.parse(path.read_text(), str(path)))
        for path in _program_files()
    }


def _reached_only_from_tests(module: Path) -> list[str]:
    tree = ast.parse(module.read_text())
    used = set().union(*(u for p, u in _program_uses().items() if p != module))
    module_uses = [(stmt, _used_names(stmt)) for stmt in tree.body]
    return sorted(
        name
        for name, definition in _public_definitions(tree).items()
        if name not in used
        and not any(name in u for stmt, u in module_uses if stmt is not definition)
    )


def _assert_program_caller(module: str) -> None:
    unused = _reached_only_from_tests(PACKAGE / module)
    unlisted = sorted(set(unused) - set(REFERENCES.get(module, {})))
    assert not unlisted, f"reached only from tests/ or tools/: {unlisted}"


PROFILE = "operators/profile.py"
KERNELS = [m.removeprefix("kernels/") for m in _modules() if m.startswith("kernels/")]


def test_profile_public_names_have_a_program_caller():
    _assert_program_caller(PROFILE)


@pytest.mark.parametrize("module", KERNELS)
def test_kernel_public_names_have_a_program_caller(module):
    _assert_program_caller(f"kernels/{module}")


@pytest.mark.parametrize(
    "module", [m for m in _modules() if m != PROFILE and not m.startswith("kernels/")]
)
def test_public_names_have_a_program_caller(module):
    _assert_program_caller(module)


@pytest.mark.parametrize("module", sorted(REFERENCES))
def test_references_are_reached_only_from_tests(module):
    """An entry whose name is gone, or has gained a program caller,
    no longer needs the exception."""
    unused = set(_reached_only_from_tests(PACKAGE / module))
    stale = sorted(set(REFERENCES[module]) - unused)
    assert not stale, f"not test-only references any more: {stale}"
