"""No package code or option that only tests and tools reach.

Every public name that a module under ``go_matrixprofile_spark/``
defines must be used by the program itself: the package,
``__spark_entry__.py``, ``bench.py``, ``jobs/`` or ``perfbench/``, or
another definition in the same module. A use from ``tests/`` or
``tools/`` alone does not count, and neither does a re-export in a
package ``__init__.py``. A use names the module: ``alias.name`` counts
only where ``alias`` is bound to that module by an import, and a bare
``name`` only where it is imported from it.

Every parameter with a default, of a public function or class
constructor outside ``kernels/``, must be passed at some program call
site: by keyword, by position, or through ``*args`` / ``**kwargs``.
``kernels/`` mirrors the Go API that the fixture tests pin.

The exceptions are ``REFERENCES``: plain implementations that tests
hold the Spark or kernel path equal to; and ``KEPT_OPTIONS``: options
no program call sets, each kept for the reason it gives."""

import ast
import dataclasses
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

MP_OPTS = "the reference's own options struct (kernels.MPOpts, matrixprofile.go)"
KEPT_OPTIONS = {
    "operators/profile.py": {
        ("matrix_profile_ab", "opts"): MP_OPTS,
        ("matrix_profile_chunked", "opts"): MP_OPTS,
        ("mpdist_pairs", "opts"): MP_OPTS,
        ("pan_matrix_profile_distributed", "opts"): MP_OPTS,
    },
    "streaming/ingest.py": {
        ("incremental_batch_update", "opts"): MP_OPTS,
    },
    "session.py": {
        ("get_spark", "extra_conf"): "deployment: the master and cluster conf",
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


@functools.cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _module_path(dotted: str) -> str | None:
    """Package-relative file of a dotted module name, or None outside it."""
    head, *rest = dotted.split(".")
    if head != PACKAGE.name:
        return None
    base = PACKAGE.joinpath(*rest)
    if (base / "__init__.py").is_file():
        return (base / "__init__.py").relative_to(PACKAGE).as_posix()
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py").relative_to(PACKAGE).as_posix()
    return None


def _dotted(path: Path) -> str:
    parts = path.relative_to(PACKAGE.parent).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _import_base(path: Path, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    package = _dotted(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    package = package[: len(package) - node.level + 1]
    return ".".join(package + ([node.module] if node.module else []))


@functools.cache
def _bindings(path: Path) -> dict[str, tuple]:
    """Local name -> ("module", file) or ("name", file, name), for every
    import of the package that the file makes (at any depth)."""
    bound = {}
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname and (mod := _module_path(a.name)):
                    bound[a.asname] = ("module", mod)
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(path, node)
            if _module_path(base) is None:
                continue
            for a in node.names:
                sub = _module_path(f"{base}.{a.name}")
                target = ("module", sub) if sub else ("name", _module_path(base), a.name)
                bound[a.asname or a.name] = target
    return bound


def _resolve(target: tuple) -> tuple:
    """Follow a name bound through a package ``__init__`` re-export."""
    while target[0] == "name" and target[1].endswith("__init__.py"):
        inner = _bindings(PACKAGE / target[1]).get(target[2])
        if inner is None:
            break
        target = inner
    return target


def _referent(path: Path, node) -> tuple | None:
    """What an expression names: a package module or a (module, name)."""
    if isinstance(node, ast.Name):
        target = _bindings(path).get(node.id)
        return _resolve(target) if target else None
    if isinstance(node, ast.Attribute):
        owner = _referent(path, node.value)
        if owner and owner[0] == "module":
            sub = _module_path(f"{_dotted(PACKAGE / owner[1])}.{node.attr}")
            return ("module", sub) if sub else _resolve(("name", owner[1], node.attr))
    return None


@functools.cache
def _program_uses() -> dict[Path, set[tuple[str, str]]]:
    """(module, name) pairs each program file imports or reads."""
    uses = {}
    for path in _program_files():
        found = set()
        for node in ast.walk(_tree(path)):
            if isinstance(node, ast.ImportFrom):
                base = _import_base(path, node)
                if (mod := _module_path(base)) is not None:
                    found.update(_resolve(("name", mod, a.name))[1:] for a in node.names)
            elif isinstance(node, (ast.Name, ast.Attribute)):
                target = _referent(path, node)
                if target and target[0] == "name":
                    found.add(target[1:])
        uses[path] = found
    return uses


def _local_names(node) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _public_definitions(tree) -> dict[str, ast.stmt]:
    defs = {}
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
            defs[stmt.name] = stmt
        elif isinstance(stmt, ast.Assign):
            defs.update((t.id, stmt) for t in stmt.targets if isinstance(t, ast.Name))
    return {name: stmt for name, stmt in defs.items() if not name.startswith("_")}


def _reached_only_from_tests(module: str) -> list[str]:
    path = PACKAGE / module
    tree = _tree(path)
    used = set().union(*(u for p, u in _program_uses().items() if p != path))
    module_uses = [(stmt, _local_names(stmt)) for stmt in tree.body]
    return sorted(
        name
        for name, definition in _public_definitions(tree).items()
        if (module, name) not in used
        and not any(name in u for stmt, u in module_uses if stmt is not definition)
    )


def _assert_program_caller(module: str) -> None:
    unused = _reached_only_from_tests(module)
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
    unused = set(_reached_only_from_tests(module))
    stale = sorted(set(REFERENCES[module]) - unused)
    assert not stale, f"not test-only references any more: {stale}"


# ------------------------------------------------------------- parameters


@dataclasses.dataclass
class _Call:
    positional: int  # positional arguments before any *args
    keywords: set[str]
    spread: bool  # passes *args or **kwargs


def _defaulted(definition) -> list[tuple[str, int | None]]:
    """(name, position or None if keyword-only) of each parameter with a
    default, of a function or of a class's constructor."""
    if isinstance(definition, ast.ClassDef):
        init = next(
            (s for s in definition.body
             if isinstance(s, ast.FunctionDef) and s.name == "__init__"),
            None,
        )
        if init is not None:
            return _defaulted(init)
        fields = [s for s in definition.body
                  if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)]
        return [(s.target.id, i) for i, s in enumerate(fields) if s.value is not None]
    a = definition.args
    positional = a.posonlyargs + a.args
    offset = 1 if positional and positional[0].arg in ("self", "cls") else 0
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i - offset) for i, p in enumerate(positional) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


@functools.cache
def _program_calls() -> dict[tuple[str, str], list[_Call]]:
    """Every program call site of a package function or class."""
    calls = {}
    for path in _program_files():
        # a package module's bare calls of its own top-level definitions
        own = path.relative_to(PACKAGE).as_posix() if path.is_relative_to(PACKAGE) else None
        top = {s.name for s in _tree(path).body
               if own and isinstance(s, (ast.FunctionDef, ast.ClassDef))}
        for node in ast.walk(_tree(path)):
            if not isinstance(node, ast.Call):
                continue
            target = _referent(path, node.func)
            if target is None and isinstance(node.func, ast.Name) and node.func.id in top:
                target = ("name", own, node.func.id)
            if target is None or target[0] != "name":
                continue
            starred = [isinstance(a, ast.Starred) for a in node.args]
            calls.setdefault(target[1:], []).append(_Call(
                positional=starred.index(True) if any(starred) else len(node.args),
                keywords={k.arg for k in node.keywords if k.arg},
                spread=any(starred) or any(k.arg is None for k in node.keywords),
            ))
    return calls


def _passed(call: _Call, name: str, position: int | None) -> bool:
    return (call.spread or name in call.keywords
            or (position is not None and position < call.positional))


def _unset_options(module: str) -> list[tuple[str, str]]:
    """(function, parameter) of each default no program call overrides."""
    references = set(REFERENCES.get(module, {}))
    unset = []
    for name, definition in _public_definitions(_tree(PACKAGE / module)).items():
        if name in references or not isinstance(definition, (ast.FunctionDef, ast.ClassDef)):
            continue
        calls = _program_calls().get((module, name), [])
        unset += [
            (name, param) for param, position in _defaulted(definition)
            if not any(_passed(c, param, position) for c in calls)
        ]
    return sorted(unset)


OPTION_MODULES = [m for m in _modules() if not m.startswith("kernels/")]


@pytest.mark.parametrize("module", OPTION_MODULES)
def test_options_have_a_program_setter(module):
    unlisted = sorted(set(_unset_options(module)) - set(KEPT_OPTIONS.get(module, {})))
    assert not unlisted, f"options no program call sets: {unlisted}"


@pytest.mark.parametrize("module", sorted(KEPT_OPTIONS))
def test_kept_options_are_still_unset(module):
    """An entry whose parameter is gone, or that a program call now
    sets, no longer needs the exception."""
    stale = sorted(set(KEPT_OPTIONS[module]) - set(_unset_options(module)))
    assert not stale, f"kept options that a program call sets or that are gone: {stale}"
