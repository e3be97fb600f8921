"""Every top-level definition in the package is reached by shipped code.

A definition (a top-level function or class of ``docling_eval_spark/``) is
reached when its name is used in code of the package, ``__spark_entry__.py``,
``bench.py``, ``bench_extra.py``, ``scripts/`` or ``perfbench/``, outside the
definition's own body. A use is a ``Name`` or ``Attribute`` read, or a string
constant equal to the name. An import by itself, an ``__all__`` entry, a
docstring or a comment is not a use. Uses inside the bodies of unreached
definitions do not count either: the scan repeats until it finds nothing new,
so a helper that only dead code calls is dead too. A name is matched, not
resolved, so every package module must also be imported by shipped code
outside itself: a module that nothing imports is dead even where a namesake
elsewhere keeps its definitions' names in use.

Tests are not a reach place. The only exceptions are the pure-Python
reference implementations in ``REFERENCE_IMPLEMENTATIONS``, each kept because
the named test compares a Spark or Arrow kernel against it.

Run ``python3 tests/test_reachability.py`` to print the unreached names.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "docling_eval_spark"
# modules run as programs (``python -m``) rather than imported
ENTRY_MODULES = {"docling_eval_spark.cli"}
REACH_PLACES = [
    PACKAGE,
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "scripts",
    ROOT / "perfbench",
]

# name -> the test that compares a kernel against this reference (for
# chrf_reference_py, the unquantized formula, the kernel's twin chrf_py)
REFERENCE_IMPLEMENTATIONS = {
    "cdc_chunks_py": "tests/test_operators.py::test_cdc_spark_matches_py_twin",
    "chrf_py": "tests/test_chrf.py::test_chrf_spark_matches_python_twin",
    "chrf_reference_py": "tests/test_chrf.py::test_chrf_matches_textbook_formula",
    "fingerprint_py": "tests/test_operators.py::test_fingerprint_spark_matches_python",
    "readability_py": "tests/test_readability.py::test_readability_spark_matches_twin",
    "winnow_py": "tests/test_operators.py::test_winnowing_matches_python_reference",
}


def _files(place: Path) -> list[Path]:
    if place.is_file():
        return [place]
    return sorted(p for p in place.rglob("*.py") if "__pycache__" not in p.parts)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _top_level_defs(tree: ast.Module) -> list[ast.AST]:
    """Functions and classes at module level, also under a module-level if/try."""
    out, todo = [], list(tree.body)
    while todo:
        node = todo.pop(0)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append(node)
        elif isinstance(node, (ast.If, ast.Try)):
            for field in ("body", "orelse", "finalbody"):
                todo.extend(getattr(node, field, []))
            for handler in getattr(node, "handlers", []):
                todo.extend(handler.body)
    return out


def _not_uses(tree: ast.Module) -> set[int]:
    """ids of string constants that are docstrings, bare strings or __all__ entries."""
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            skip.add(id(node.value))
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            skip.update(id(n) for n in ast.walk(node.value))
    return skip


def _used_name(node: ast.AST, skip: set[int]) -> str | None:
    if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
        return node.id
    if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
        return node.attr
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return None if id(node) in skip else node.value
    return None


def _scan():
    """({name: [file:line]}, [(enclosing definition or None, used name)])."""
    defs: dict[str, list[str]] = {}
    uses: list[tuple[str | None, str]] = []
    for place in REACH_PLACES:
        for path in _files(place):
            tree = _parse(path)
            skip = _not_uses(tree)
            rel = path.relative_to(ROOT).as_posix()
            owned = {}
            if path.is_relative_to(PACKAGE):
                for node in _top_level_defs(tree):
                    defs.setdefault(node.name, []).append(f"{rel}:{node.lineno}")
                    owned[id(node)] = node.name
            # Attribute each use to the top-level definition whose body holds it.
            stack = [(child, None) for child in ast.iter_child_nodes(tree)]
            while stack:
                node, owner = stack.pop()
                owner = owned.get(id(node), owner)
                name = _used_name(node, skip)
                if name is not None:
                    uses.append((owner, name))
                stack.extend((child, owner) for child in ast.iter_child_nodes(node))
    return defs, uses


def unreached() -> dict[str, list[str]]:
    """{name: [file:line]} of the package's unreached top-level definitions."""
    defs, uses = _scan()
    dead: set[str] = set()
    while True:
        reached = {
            name for owner, name in uses if owner not in dead and name != owner
        }
        now_dead = set(defs) - reached
        if now_dead == dead:
            return {name: defs[name] for name in sorted(dead)}
        dead = now_dead


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def unimported_modules() -> list[str]:
    """Package modules that no shipped file outside them imports, by an
    import statement or by a string naming the module."""
    imported: set[str] = set()
    for place in REACH_PLACES:
        for path in _files(place):
            tree = _parse(path)
            here = _module_name(path)
            found: set[str] = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    found.update(alias.name for alias in node.names)
                elif isinstance(node, ast.ImportFrom) and node.module:
                    found.add(node.module)
                    found.update(f"{node.module}.{a.name}" for a in node.names)
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    found.add(node.value)
            imported.update(found - {here})
    return [
        _module_name(path)
        for path in _files(PACKAGE)
        if path.name != "__init__.py"
        and _module_name(path) not in imported | ENTRY_MODULES
    ]


def test_every_package_module_is_imported():
    dead = unimported_modules()
    assert not dead, "imported by no shipped code: " + ", ".join(dead)


def test_every_package_definition_is_reached():
    dead = {
        name: where
        for name, where in unreached().items()
        if name not in REFERENCE_IMPLEMENTATIONS
    }
    assert not dead, "unreached by any query, phase, CLI command or benchmark:\n" + (
        "\n".join(f"  {name}  ({', '.join(where)})" for name, where in dead.items())
    )


def test_reference_allowlist_holds_only_compared_references():
    dead = unreached()
    for name, test_id in REFERENCE_IMPLEMENTATIONS.items():
        assert name in dead, f"{name} is reached or gone; drop it from the allowlist"
        test_file, test_name = test_id.split("::")
        source = (ROOT / test_file).read_text(encoding="utf-8")
        tests = {
            node.name: node
            for node in ast.walk(ast.parse(source))
            if isinstance(node, ast.FunctionDef)
        }
        assert test_name in tests, f"{test_id} does not exist"
        called = [n.id for n in ast.walk(tests[test_name]) if isinstance(n, ast.Name)]
        called += [
            n.attr for n in ast.walk(tests[test_name]) if isinstance(n, ast.Attribute)
        ]
        assert name in called, f"{test_id} does not use {name}"


if __name__ == "__main__":
    for module in unimported_modules():
        print(module, "(module)")
    for name, where in unreached().items():
        print(name, *where)
