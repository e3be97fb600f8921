"""Every top-level definition and every on/off switch in the package is
used by shipped code.

A definition (a top-level function or class of ``docling_eval_spark/``) is
reached when it is used in code of the package, ``__spark_entry__.py``,
``bench.py``, ``scripts/`` or ``perfbench/``, outside the definition's own
body. Uses are resolved through the using file's bindings:

- a bare name reaches the definition it is bound to in that file, its own
  top-level definition or a ``from docling_eval_spark.… import`` of it
  (followed through package re-exports);
- ``mod.name`` reaches ``name`` of ``mod`` when ``mod`` is bound to a
  package module;
- an attribute of anything else (``obj.name``) reaches every definition of
  that name.

An import by itself, a string (a query name, a column name, an ``__all__``
entry) or a comment is not a use. Uses inside the bodies of unreached
definitions do not count either: the scan repeats until it finds nothing
new, so a helper that only dead code calls is dead too. Every package module
must also be imported by shipped code outside itself, by an import statement
or by a string naming the module.

A switch is a parameter of a package function whose default is ``True`` or
``False``. It is set when a shipped call of that function (resolved as
above) passes it by keyword or by position, or passes ``*args``/``**kwargs``.
A switch that no shipped call sets is a second code path only tests run.

Tests are not a reach place. The only exceptions are the pure-Python
reference implementations in ``REFERENCE_IMPLEMENTATIONS`` and the switches
in ``REFERENCE_SWITCHES``, each kept because the named test compares a
kernel against it.

Run ``python3 tests/test_reachability.py`` to print the unreached names and
the unset switches.
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

# function.switch -> the test that compares the sketch path against the
# exact path this switch selects
REFERENCE_SWITCHES = {
    "corpus_map.exact": "tests/test_spark_stages.py::test_corpus_map_sketch_matches_exact",
}

_ANY = "*"  # module key of a use matched by name


def _files(place: Path) -> list[Path]:
    if place.is_file():
        return [place]
    return sorted(p for p in place.rglob("*.py") if "__pycache__" not in p.parts)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


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


class _File:
    """One shipped file: its tree, top-level definitions and the names its
    import statements bind to package modules and package definitions."""

    def __init__(self, path: Path, modules: set[str]):
        self.path = path
        self.rel = path.relative_to(ROOT).as_posix()
        self.module = _module_name(path)
        self.modules = modules
        self.tree = _parse(path)
        self.defs = _top_level_defs(self.tree) if path.is_relative_to(PACKAGE) else []
        # local name -> "package.module" or ("package.module", "name")
        self.bindings: dict[str, str | tuple[str, str]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.asname and alias.name in modules:
                        self.bindings[alias.asname] = alias.name
                    elif not alias.asname and alias.name.split(".")[0] in modules:
                        head = alias.name.split(".")[0]
                        self.bindings[head] = head
            elif isinstance(node, ast.ImportFrom) and node.module in modules:
                for alias in node.names:
                    sub = f"{node.module}.{alias.name}"
                    target = sub if sub in modules else (node.module, alias.name)
                    self.bindings[alias.asname or alias.name] = target
        for node in self.defs:
            self.bindings[node.name] = (self.module, node.name)

    def module_of(self, expr: ast.AST) -> str | None:
        """The package module ``expr`` names, if it names one."""
        if isinstance(expr, ast.Name):
            bound = self.bindings.get(expr.id)
            return bound if isinstance(bound, str) else None
        if isinstance(expr, ast.Attribute):
            base = self.module_of(expr.value)
            if base is not None and f"{base}.{expr.attr}" in self.modules:
                return f"{base}.{expr.attr}"
        return None

    def target(self, node: ast.AST) -> tuple[str, str] | None:
        """(module, name) of the definition a load of ``node`` uses;
        module ``_ANY`` for a use matched by name only."""
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            bound = self.bindings.get(node.id)
            return bound if isinstance(bound, tuple) else None
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            base = self.module_of(node.value)
            if base is None:
                return (_ANY, node.attr)
            if f"{base}.{node.attr}" in self.modules:
                return None
            return (base, node.attr)
        return None


def _shipped_files() -> list[_File]:
    modules = {_module_name(p) for p in _files(PACKAGE)}
    return [_File(path, modules) for place in REACH_PLACES for path in _files(place)]


def _resolver(files: list[_File]):
    """(module, name) -> the (module, name) of the definition it re-exports."""
    by_module = {f.module: f for f in files}

    def resolve(key: tuple[str, str]) -> tuple[str, str]:
        seen = set()
        while key not in seen:
            seen.add(key)
            owner = by_module.get(key[0])
            bound = owner.bindings.get(key[1]) if owner else None
            if not isinstance(bound, tuple) or bound == key:
                return key
            key = bound
        return key

    return resolve


def _scan():
    """({(module, name): file:line}, [(enclosing definition or None, used definition)])."""
    files = _shipped_files()
    resolve = _resolver(files)
    defs: dict[tuple[str, str], str] = {}
    uses: list[tuple[tuple[str, str] | None, tuple[str, str]]] = []
    for f in files:
        owned = {}
        for node in f.defs:
            defs[(f.module, node.name)] = f"{f.rel}:{node.lineno}"
            owned[id(node)] = (f.module, node.name)
        # Attribute each use to the top-level definition whose body holds it.
        stack = [(child, None) for child in ast.iter_child_nodes(f.tree)]
        while stack:
            node, owner = stack.pop()
            owner = owned.get(id(node), owner)
            target = f.target(node)
            if target is not None:
                uses.append((owner, target if target[0] == _ANY else resolve(target)))
            stack.extend((child, owner) for child in ast.iter_child_nodes(node))
    return defs, uses


def unreached() -> dict[str, list[str]]:
    """{name: [file:line]} of the package's unreached top-level definitions."""
    defs, uses = _scan()
    named: dict[str, set[tuple[str, str]]] = {}
    for key in defs:
        named.setdefault(key[1], set()).add(key)
    dead: set[tuple[str, str]] = set()
    while True:
        reached = set()
        for owner, target in uses:
            if owner in dead:
                continue
            hits = named.get(target[1], set()) if target[0] == _ANY else {target}
            reached.update(hits - {owner})
        now_dead = set(defs) - reached
        if now_dead == dead:
            out: dict[str, list[str]] = {}
            for key in sorted(dead):
                out.setdefault(key[1], []).append(defs[key])
            return dict(sorted(out.items()))
        dead = now_dead


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


def _switches(func: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None) of the bool-defaulted parameters."""
    positional = func.args.posonlyargs + func.args.args
    pos_defaults = [None] * (len(positional) - len(func.args.defaults))
    pairs = [
        (arg, default, i)
        for i, (arg, default) in enumerate(
            zip(positional, pos_defaults + func.args.defaults)
        )
    ]
    pairs += [(a, d, None) for a, d in zip(func.args.kwonlyargs, func.args.kw_defaults)]
    return [
        (arg.arg, i)
        for arg, default, i in pairs
        if isinstance(default, ast.Constant) and isinstance(default.value, bool)
    ]


def unset_switches() -> dict[str, str]:
    """{function.switch: file:line} of the bool-defaulted parameters of
    package functions that no shipped call sets."""
    files = _shipped_files()
    resolve = _resolver(files)
    # (module, name) or (module, "Class.method") -> (definition, file,
    # leading parameters a call does not pass: self for a method)
    funcs: dict[tuple[str, str], tuple[ast.FunctionDef, str, int]] = {}
    for f in files:
        for node in f.defs:
            if isinstance(node, ast.FunctionDef):
                funcs[(f.module, node.name)] = (node, f.rel, 0)
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(item, ast.FunctionDef):
                        funcs[(f.module, f"{node.name}.{item.name}")] = (item, f.rel, 1)
    named: dict[str, set[tuple[str, str]]] = {}
    for key in funcs:
        named.setdefault(key[1].rsplit(".", 1)[-1], set()).add(key)
    unset = {key: dict(_switches(func)) for key, (func, _, _) in funcs.items()}
    for f in files:
        for call in ast.walk(f.tree):
            target = f.target(call.func) if isinstance(call, ast.Call) else None
            if target is None:
                continue
            keys = named.get(target[1], set()) if target[0] == _ANY else {resolve(target)}
            by_kw = {k.arg for k in call.keywords}
            splat = None in by_kw or any(isinstance(a, ast.Starred) for a in call.args)
            for key in keys & unset.keys():
                n_pos = len(call.args) + funcs[key][2]
                unset[key] = {
                    name: index
                    for name, index in unset[key].items()
                    if not (splat or name in by_kw or (index is not None and index < n_pos))
                }
    return {
        f"{key[1]}.{name}": f"{funcs[key][1]}:{funcs[key][0].lineno}"
        for key in sorted(unset)
        for name in unset[key]
    }


def _test_uses(test_id: str, name: str) -> None:
    test_file, test_name = test_id.split("::")
    source = (ROOT / test_file).read_text(encoding="utf-8")
    tests = {
        node.name: node
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.FunctionDef)
    }
    assert test_name in tests, f"{test_id} does not exist"
    called = [n.id for n in ast.walk(tests[test_name]) if isinstance(n, ast.Name)]
    called += [n.attr for n in ast.walk(tests[test_name]) if isinstance(n, ast.Attribute)]
    called += [n.arg for n in ast.walk(tests[test_name]) if isinstance(n, ast.keyword)]
    assert name in called, f"{test_id} does not use {name}"


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
        _test_uses(test_id, name)


def test_every_switch_is_set_by_shipped_code():
    unset = unset_switches()
    extra = {s: where for s, where in unset.items() if s not in REFERENCE_SWITCHES}
    assert not extra, "switches no query, phase, CLI command or benchmark sets:\n" + (
        "\n".join(f"  {switch}  ({where})" for switch, where in extra.items())
    )
    for switch, test_id in REFERENCE_SWITCHES.items():
        assert switch in unset, f"{switch} is set or gone; drop it from the allowlist"
        for name in switch.split("."):
            _test_uses(test_id, name)


if __name__ == "__main__":
    for module in unimported_modules():
        print(module, "(module)")
    for name, where in unreached().items():
        print(name, *where)
    for switch, where in unset_switches().items():
        print(switch, where, "(switch)")
