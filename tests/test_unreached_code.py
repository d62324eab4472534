"""No matrix-profile code that only tests and tools reach.

Every public name that ``operators/profile.py``,
``kernels/matrix_profile.py`` or ``kernels/pmp.py`` defines must be used
by the program itself: the package, ``__spark_entry__.py``, ``bench.py``,
``jobs/`` or ``perfbench/``, or another definition in the same module.
A use from ``tests/`` or ``tools/`` alone does not count."""

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "go_matrixprofile_spark"
NOT_PROGRAM = {"tests", "tools"}


def _program_files():
    for path in sorted(ROOT.rglob("*.py")):
        parts = path.relative_to(ROOT).parts
        if parts[0] in NOT_PROGRAM or any(p.startswith(".") for p in parts):
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


def _reached_only_from_tests(module: Path) -> list[str]:
    tree = ast.parse(module.read_text())
    used = set()
    for path in _program_files():
        if path != module:
            used |= _used_names(ast.parse(path.read_text(), str(path)))
    module_uses = [(stmt, _used_names(stmt)) for stmt in tree.body]
    return sorted(
        name
        for name, definition in _public_definitions(tree).items()
        if name not in used
        and not any(name in u for stmt, u in module_uses if stmt is not definition)
    )


def test_profile_public_names_have_a_program_caller():
    unused = _reached_only_from_tests(PACKAGE / "operators" / "profile.py")
    assert not unused, f"reached only from tests/ or tools/: {unused}"


@pytest.mark.parametrize("module", ["matrix_profile.py", "pmp.py"])
def test_kernel_public_names_have_a_program_caller(module):
    unused = _reached_only_from_tests(PACKAGE / "kernels" / module)
    assert not unused, f"reached only from tests/ or tools/: {unused}"
