"""Every function, class, method and module-level name in the package
is reached, by name, from an entry point, or is on ``ALLOWED`` with the
reason it stays.

Entry points (roots): the registered queries (functions decorated with
``_register``), the model registry (``plans.dag.MODELS``), the CLI
(``cli.py``, ``__main__.py``), the public methods of ``PipelineRunner``,
the names ``streaming/__init__.py`` exports, and the names ``bench.py``,
``__spark_entry__.py`` and ``perfbench/`` use.

From a reached definition the walk follows the names in its body:
bare names and ``module.attr`` chains through the module's (and the
function's own) imports, ``self.attr`` / ``cls.attr`` within its class,
any other ``obj.attr`` to the methods of that name on reached classes
(names that the built-in containers and strings also have excepted),
and identifiers inside string literals other than docstrings (SQL
text) through the module's names. It reads source only and imports
nothing.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "dbt_datbricks_demo_spark"
OUTSIDE_ROOTS = ("bench.py", "__spark_entry__.py", "perfbench")

# Unreached from the entry points on purpose. A module path allows each
# of its definitions and a class each of its methods; what an allowed
# definition uses is reached from it.
ALLOWED = {
    # reference operator S9: Delta-style versions, time travel, OPTIMIZE
    "plans.maintenance:VersionedTable": "tests/test_maintenance.py",
    # DuckDB oracle derivations that run the registered queries' oracle
    # in stages at scale
    "queries.llm_ops:staged_knee_report_sql": "scripts/scaled_oracle.py",
    "queries.mining_ops:staged_ann_lifecycle_sql": "scripts/ann_lifecycle.py",
    "queries.pipeline_ops:staged_training_set_sql": "scripts/scaled_oracle.py",
    "queries.training_ops:staged_doremi_sql": "scripts/scaled_oracle.py",
    # references that scripts and tests compare against
    "testing.checksum": "scripts/checksum_audit.py, tests/test_checksum_gate.py",
    "testing.scaleup": "scripts/weak_scaling.py, tests/test_scaleup.py",
    "operators.corpus:corpus_stats": "the plain form corpus_stats_staged is tested against",
    # environment gate of the stateful streaming tests
    "streaming.stateful:transform_with_state_available": "tests/test_streaming.py",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# obj.attr on a receiver of unknown type reaches package methods named
# attr, except where every list, dict or string has that attribute too
_BUILTIN_ATTRS = frozenset(
    a for t in (list, dict, set, tuple, str, bytes, int, float) for a in dir(t)
)
_SCOPE_BLOCKS = (ast.If, ast.Try, ast.With)


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO / PKG).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _top_level(body):
    """Module-level statements, looking inside if / try / with blocks."""
    for stmt in body:
        if isinstance(stmt, _SCOPE_BLOCKS):
            blocks = [stmt.body, getattr(stmt, "orelse", [])]
            blocks += [getattr(stmt, "finalbody", [])]
            blocks += [h.body for h in getattr(stmt, "handlers", [])]
            for block in blocks:
                yield from _top_level(block)
        else:
            yield stmt


def _targets(node) -> list[str]:
    if isinstance(node, ast.Name):
        return [node.id]
    if isinstance(node, (ast.Tuple, ast.List)):
        return [n for elt in node.elts for n in _targets(elt)]
    return []


class _Package:
    """Definitions, module scopes and the walk over them."""

    def __init__(self):
        self.modules: dict[str, ast.Module] = {}
        self.scopes: dict[str, dict] = {}
        self.defs: dict[str, list] = {}  # key -> [(node, module, class)]
        self.classes: dict[str, dict] = {}  # class key -> {method: key}
        self.docstrings: set[int] = set()
        for path in sorted((REPO / PKG).rglob("*.py")):
            tree = ast.parse(path.read_text(), str(path))
            mod = _module_name(path)
            self.modules[mod] = tree
            self.docstrings |= _docstrings(tree)
        for mod, tree in self.modules.items():
            self.scopes[mod] = self._scope(mod, tree.body, define=True)
        self.reached: set[str] = set()
        self.used_attrs: set[str] = set()
        self.todo: list[str] = []

    # ---- scopes ------------------------------------------------------------
    def _package_module(self, dotted: str) -> str | None:
        if dotted == PKG:
            return ""
        if dotted.startswith(PKG + "."):
            return dotted[len(PKG) + 1:]
        return None

    def _bind_import(self, scope: dict, stmt) -> None:
        if isinstance(stmt, ast.Import):
            for alias in stmt.names:
                mod = self._package_module(alias.name)
                if mod is None:
                    continue
                if alias.asname:
                    scope[alias.asname] = ("mod", mod)
                else:
                    scope[alias.name.split(".")[0]] = ("mod", "")
        elif isinstance(stmt, ast.ImportFrom) and stmt.module:
            mod = self._package_module(stmt.module)
            if mod is None:
                return
            for alias in stmt.names:
                sub = f"{mod}.{alias.name}".lstrip(".")
                scope[alias.asname or alias.name] = (
                    ("mod", sub) if sub in self.modules else ("from", mod, alias.name)
                )

    def _scope(self, mod: str, body, define: bool) -> dict:
        scope: dict = {}
        for stmt in _top_level(body):
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self._bind_import(scope, stmt)
            elif not define:
                continue
            elif isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                key = f"{mod}:{stmt.name}"
                scope[stmt.name] = ("def", key)
                self.defs[key] = [(stmt, mod, None)]
            elif isinstance(stmt, ast.ClassDef):
                key = f"{mod}:{stmt.name}"
                scope[stmt.name] = ("def", key)
                self.defs[key] = [(stmt, mod, key)]
                methods = {}
                for item in stmt.body:
                    if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        methods[item.name] = f"{key}.{item.name}"
                        self.defs[methods[item.name]] = [(item, mod, key)]
                self.classes[key] = methods
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                for name in (n for t in targets for n in _targets(t)):
                    key = f"{mod}:{name}"
                    scope[name] = ("def", key)
                    if stmt.value is not None:
                        self.defs.setdefault(key, []).append((stmt.value, mod, None))
        return scope

    def _resolve(self, binding, seen=()):
        """A scope binding as ("def", key) or ("mod", module), or None."""
        if binding is None or binding[0] in ("def", "mod"):
            return binding
        _, mod, name = binding
        if (mod, name) in seen:
            return None
        return self._resolve(self.scopes.get(mod, {}).get(name), seen + ((mod, name),))

    def _member(self, mod: str, name: str):
        sub = f"{mod}.{name}".lstrip(".")
        if sub in self.modules:
            return ("mod", sub)
        return self._resolve(self.scopes.get(mod, {}).get(name))

    def _expr(self, node, scopes):
        """What a Name / Attribute chain refers to in the package."""
        if isinstance(node, ast.Name):
            for scope in scopes:
                if node.id in scope:
                    return self._resolve(scope[node.id])
            return None
        if isinstance(node, ast.Attribute):
            base = self._expr(node.value, scopes)
            if base and base[0] == "mod":
                return self._member(base[1], node.attr)
            if base and base[0] == "def" and base[1] in self.classes:
                key = self.classes[base[1]].get(node.attr)
                return ("def", key) if key else None
        return None

    # ---- the walk ----------------------------------------------------------
    def reach(self, key: str | None) -> None:
        if key and key not in self.reached and key in self.defs:
            self.reached.add(key)
            self.todo.append(key)

    def _class_method(self, cls: str, name: str) -> str | None:
        """``name`` on package class ``cls`` or its package bases."""
        if name in self.classes.get(cls, {}):
            return self.classes[cls][name]
        node, mod, _ = self.defs[cls][0]
        for base in node.bases:
            found = self._expr(base, [self.scopes[mod]])
            if found and found[0] == "def" and found[1] in self.classes:
                hit = self._class_method(found[1], name)
                if hit:
                    return hit
        return None

    def use_attr(self, name: str) -> None:
        if name in self.used_attrs or name in _BUILTIN_ATTRS:
            return
        self.used_attrs.add(name)
        for cls, methods in self.classes.items():
            if cls in self.reached and name in methods:
                self.reach(methods[name])

    def visit(self, root, mod: str, cls: str | None, scopes, strings_as_attrs=False):
        """Reach every package name ``root`` refers to."""
        local: dict = {}
        for node in ast.walk(root):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                self._bind_import(local, node)
        scopes = [local, *scopes]
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                hit = self._expr(node, scopes)
                if hit and hit[0] == "def":
                    self.reach(hit[1])
            elif isinstance(node, ast.Attribute):
                hit = self._expr(node, scopes)
                if hit:
                    if hit[0] == "def":
                        self.reach(hit[1])
                elif (
                    cls
                    and isinstance(node.value, ast.Name)
                    and node.value.id in ("self", "cls")
                    and self._class_method(cls, node.attr)
                ):
                    self.reach(self._class_method(cls, node.attr))
                else:
                    self.use_attr(node.attr)
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in self.docstrings
            ):
                for word in _IDENT.findall(node.value):
                    hit = self._expr(ast.Name(id=word), scopes)
                    if hit and hit[0] == "def":
                        self.reach(hit[1])
                    if strings_as_attrs:
                        self.use_attr(word)

    def run(self) -> None:
        while self.todo:
            key = self.todo.pop()
            for node, mod, cls in self.defs[key]:
                scopes = [self.scopes[mod]]
                if key in self.classes:
                    for part in node.bases + node.keywords + node.decorator_list:
                        self.visit(part, mod, None, scopes)
                    for item in node.body:
                        if not isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                            self.visit(item, mod, cls, scopes)
                    for name, method in self.classes[key].items():
                        if name.startswith("__") or name in self.used_attrs:
                            self.reach(method)
                else:
                    if cls:
                        self.reach(cls)
                    self.visit(node, mod, cls, scopes)


def _is_registered(node) -> bool:
    for dec in getattr(node, "decorator_list", []):
        func = dec.func if isinstance(dec, ast.Call) else dec
        name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", "")
        if name == "_register":
            return True
    return False


def walk_package() -> _Package:
    pkg = _Package()
    for mod, tree in pkg.modules.items():
        for stmt in _top_level(tree.body):
            if _is_registered(stmt):
                pkg.reach(f"{mod}:{stmt.name}")
            elif isinstance(stmt, (ast.Expr, ast.Assert, ast.For)) and not (
                isinstance(stmt, ast.Expr) and id(stmt.value) in pkg.docstrings
            ):
                pkg.visit(stmt, mod, None, [pkg.scopes[mod]])
    pkg.reach("plans.dag:MODELS")
    for mod in ("cli", "__main__"):
        for key in [k for k in pkg.defs if k.startswith(f"{mod}:")]:
            pkg.reach(key)
    runner = "plans.runner:PipelineRunner"
    pkg.reach(runner)
    for name, key in pkg.classes[runner].items():
        if not name.startswith("_"):
            pkg.reach(key)
    for binding in pkg.scopes["streaming"].values():
        hit = pkg._resolve(binding)
        if hit and hit[0] == "def":
            pkg.reach(hit[1])
    outside = []
    for root in OUTSIDE_ROOTS:
        path = REPO / root
        outside += sorted(path.rglob("*.py")) if path.is_dir() else [path]
    for path in outside:
        tree = ast.parse(path.read_text(), str(path))
        scope = pkg._scope("", tree.body, define=False)
        pkg.visit(tree, "", None, [scope], strings_as_attrs=True)
    pkg.run()
    return pkg


def unreached(pkg: _Package) -> set[str]:
    return {
        key for key in pkg.defs
        if key not in pkg.reached and not key.split(":")[1].startswith("__")
    }


def _allowed(key: str, entry: str) -> bool:
    """``entry`` names ``key``, its class or its module."""
    return key.split(":")[0] == entry or key == entry or key.startswith(entry + ".")


def test_every_definition_is_reached_or_allowed():
    pkg = walk_package()
    left = unreached(pkg)
    stale = [e for e in ALLOWED if not any(_allowed(k, e) for k in left)]
    assert stale == [], "reached from an entry point: drop from ALLOWED"
    for key in left:
        if any(_allowed(key, e) for e in ALLOWED):
            pkg.reach(key)
    pkg.run()
    assert sorted(unreached(pkg)) == []
