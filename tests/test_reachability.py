"""Every top-level definition in the package is reachable.

A static AST scan (no imports, no tracing) walks name references from
the package's roots:

- functions registered with ``@query`` or ``@register_source``;
- module-level statements of every package module that are not
  definitions (calls, dispatch-table updates, decorators) — an import
  is a binding, not a use, so module-level imports only resolve names;
- package ``__init__.py`` files, whose definitions and re-exports are the
  package's public surface;
- ``cli.py`` and ``__main__.py``;
- the entry-point module ``__spark_entry__.py``, ``bench.py`` and
  ``perfbench/*.py``.

Definitions are functions, classes and module-level assignments: a
constant is reachable only when a root or a reachable definition reads
it, and the names its value uses are reachable only through it. Dunder
assignments (``__all__``) are read by the interpreter and count as
roots. A name resolves through the module's own definitions and its
imports (``from .x import f``, ``import a.b as m; m.f``), following
re-exports. A definition that no root reaches is dead code and fails
the test unless ``ALLOWLIST`` names it with the reason it stays.
Allowlisted definitions count as roots, so their private helpers need
no entry.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "debgpt7_8_with_vectordb_spark"
ROOT_DECORATORS = {"query", "register_source"}
ROOT_FILES = ["__spark_entry__.py", "bench.py", "perfbench/*.py"]
ROOT_MODULES = {f"{PKG}.cli", f"{PKG}.__main__"}

ALLOWLIST = {
    f"{PKG}.sources.debian.set_fetcher": "test seam: injects the BTS/wiki fetcher",
    f"{PKG}.sources.debian.set_searcher": "test seam: injects the web searcher",
    f"{PKG}.sources.debian.set_nm_templates": "test seam: injects NM templates",
    f"{PKG}.operators.embedding.hash_embed_py": (
        "pure-Python reference the hash_embed expression is compared against"
    ),
    f"{PKG}.functions.psl.public_suffix": "entry point of the PSL test vectors",
    f"{PKG}.operators.providers.provider_embed_fn": (
        "the only link from the provider clients to provider_embed "
        "(pluggable embedding backends)"
    ),
    f"{PKG}.operators.embedding.probe_bulk_index": (
        "read half of bulk_index_build, which perfbench drives"
    ),
    f"{PKG}.sinks.rewrite_corpus_inplace": "COVERAGE S23: in-place corpus rewrite",
    f"{PKG}.sinks.rewrite_file_inplace": "COVERAGE F16: in-place file rewrite",
    f"{PKG}.sources.fanout.expand_month_range": "COVERAGE F13: month-range fan-out",
    f"{PKG}.sources.fanout.clean_fetched": "COVERAGE P9: fetched-page cleanup",
    f"{PKG}.operators.webplcodec.decode_webp_alpha": (
        "validates the reachable VP8L decoder on a real third-party .webp"
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _defined_names(node: ast.stmt) -> list[str]:
    """Names a module-level statement defines: a def/class name, or the
    plain names an assignment binds (not subscript or attribute
    targets, which mutate an existing object, and not dunders)."""
    if isinstance(node, _DEFS):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name)
        and isinstance(n.ctx, ast.Store)
        and not (n.id.startswith("__") and n.id.endswith("__"))
    ]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: Path):
        self.name = _module_name(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        # name -> every module-level statement defining it (first one
        # gives the reported line)
        self.defs: dict[str, list[ast.stmt]] = {}
        for n in self.tree.body:
            for name in _defined_names(n):
                self.defs.setdefault(name, []).append(n)
        # local name -> (module, attribute or None for a module binding)
        self.aliases: dict[str, tuple[str, str | None]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.ImportFrom):
                src = self.import_source(node)
                for a in node.names:
                    self.aliases[a.asname or a.name] = (src, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.aliases[a.asname] = (a.name, None)
                    else:
                        head = a.name.split(".")[0]
                        self.aliases[head] = (head, None)

    def import_source(self, node: ast.ImportFrom) -> str:
        if node.level == 0:
            return node.module or ""
        base = self.name.split(".")
        if not self.is_pkg:
            base.pop()
        base = base[: len(base) - (node.level - 1)]
        return ".".join(base + ([node.module] if node.module else []))


class _Graph:
    def __init__(self, modules: dict[str, _Module]):
        self.modules = modules

    def lookup(self, mod: str, attr: str | None, seen=frozenset()):
        """Resolve ``mod.attr`` to ("def", module, name) or ("mod", module)."""
        if attr is None:
            return ("mod", mod)
        sub = f"{mod}.{attr}"
        m = self.modules.get(mod)
        if m is not None and attr in m.defs:
            return ("def", mod, attr)
        if sub in self.modules:
            return ("mod", sub)
        if m is not None and attr in m.aliases and (mod, attr) not in seen:
            return self.lookup(*m.aliases[attr], seen | {(mod, attr)})
        return None

    def refs(self, m: _Module, nodes) -> set:
        out = set()
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    if node.id in m.defs and m.name in self.modules:
                        out.add(("def", m.name, node.id))
                    elif node.id in m.aliases:
                        out.add(self.lookup(*m.aliases[node.id]))
                elif isinstance(node, ast.Attribute):
                    chain, base = [], node
                    while isinstance(base, ast.Attribute):
                        chain.append(base.attr)
                        base = base.value
                    if not isinstance(base, ast.Name) or base.id not in m.aliases:
                        continue
                    target = self.lookup(*m.aliases[base.id])
                    for attr in reversed(chain):
                        if target is None or target[0] != "mod":
                            break
                        target = self.lookup(target[1], attr)
                    out.add(target)
                elif isinstance(node, ast.ImportFrom):
                    src = m.import_source(node)
                    out.update(self.lookup(src, a.name) for a in node.names)
        out.discard(None)
        return out


def _is_root_decorator(d: ast.expr) -> bool:
    f = d.func if isinstance(d, ast.Call) else d
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return name in ROOT_DECORATORS


def _scan(allowlist=ALLOWLIST):
    """(package modules, set of reachable ("def", module, name) keys)."""
    modules = {
        m.name: m for m in map(_Module, sorted((REPO / PKG).rglob("*.py")))
    }
    graph = _Graph(modules)
    edges: dict[tuple, set] = {}
    roots: set = set()
    for m in modules.values():
        whole_module_is_root = m.is_pkg or m.name in ROOT_MODULES
        for name, nodes in m.defs.items():
            key = ("def", m.name, name)
            edges[key] = graph.refs(m, nodes)
            if (
                whole_module_is_root
                or any(
                    _is_root_decorator(d)
                    for n in nodes
                    for d in getattr(n, "decorator_list", ())
                )
                or f"{m.name}.{name}" in allowlist
            ):
                roots.add(key)
        statements = [
            n
            for n in m.tree.body
            if not _defined_names(n)
            and (m.is_pkg or not isinstance(n, (ast.Import, ast.ImportFrom)))
        ]
        decorators = [
            d for n in m.tree.body if isinstance(n, _DEFS) for d in n.decorator_list
        ]
        roots |= graph.refs(m, statements + decorators)
    for pattern in ROOT_FILES:
        for path in sorted(REPO.glob(pattern)):
            m = _Module(path)
            roots |= graph.refs(m, [m.tree])

    reached: set = set()
    stack = list(roots)
    while stack:
        key = stack.pop()
        if key in reached:
            continue
        reached.add(key)
        stack.extend(edges.get(key, ()))
    return modules, reached


def test_every_package_definition_is_reachable():
    modules, reached = _scan()
    dead = [
        f"{m.name}.{name} ({m.name.replace('.', '/')}.py:{nodes[0].lineno}, "
        f"{nodes[0].end_lineno - nodes[0].lineno + 1} lines)"
        for m in modules.values()
        for name, nodes in m.defs.items()
        if ("def", m.name, name) not in reached
    ]
    assert not dead, (
        "unreachable from any query, source, CLI, entry point or benchmark "
        "(delete it, or allowlist it with a reason):\n" + "\n".join(dead)
    )


def test_allowlist_holds_only_otherwise_unreachable_definitions():
    modules, reached = _scan(allowlist={})
    defined = {
        f"{m.name}.{name}" for m in modules.values() for name in m.defs
    }
    missing = sorted(set(ALLOWLIST) - defined)
    assert not missing, f"allowlisted but not defined: {missing}"
    stale = sorted(
        qual for qual in ALLOWLIST if ("def", *qual.rsplit(".", 1)) in reached
    )
    assert not stale, f"allowlisted but reachable from a root: {stale}"
