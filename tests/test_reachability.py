"""Every package module, and every definition in it, is reachable from a
real entry point.

Two ``ast`` walks, no Spark import. Roots are the CLI (``app``), the
registered queries (``entry_queries``, ``__spark_entry__``), ``scripts/``
and the benchmark (``perfbench/``).

- The module walk follows ``import`` statements (module level and inside
  functions) and fails on a package module that only ``tests/`` imports.
- The definition walk follows names from the module-level code of every
  root and package module and from every ``@register``ed query. A
  top-level function or class, or a public method, is reached when reached
  code names it: as a ``Name``, through an import alias, or as an
  ``Attribute`` (a public method of that name once its class is reached;
  a module's function when the value is that module). A module-level
  ``X = expr`` is reached only when reached code names ``X``. Reaching a
  class reaches its body, its private and dunder methods. Docstrings and
  comments name nothing. It fails on every definition that only ``tests/``
  reaches and that ``ALLOWED`` does not list with a reason, and on an
  ``ALLOWED`` entry that is reached or gone.

Such code is dead code with a test suite: it gets deleted, or moved into
``tests/`` when it is a reference the tests compare against."""

from __future__ import annotations

import ast
import pathlib
from collections.abc import Iterator

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "data_quality_automated_evaluator_spark"

# module:name -> why it stays although no entry point reaches it
ALLOWED = {
    f"{PKG}.app:make_pyfiles_zip":
        "builds the spark-submit --py-files zip; test_spark_submit runs it end to end",
    # deferred deletions: each one retires tests of its own (ROADMAP direction 7)
    f"{PKG}.operators.bpe:bpe_segment":
        "deferred: deleting it retires test_bpe_segment_applies_merges",
    f"{PKG}.operators.pq:ivfpq_topk":
        "deferred: deleting it retires the three test_ivfpq_* tests",
    f"{PKG}.operators.similarity:embedding_dup_pairs":
        "deferred: deleting it (and its LSH helpers) retires test_embedding_dup_pairs",
    f"{PKG}.pipeline.features:salted_conversation_stats":
        "deferred: deleting it retires test_salted_stats_exact_under_skew",
    f"{PKG}.pipeline.sinks:QualitySink.read_stats":
        "deferred: deleting it retires test_read_stats_reads_the_one_interval_tree",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, pathlib.Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _root_files() -> dict[str, pathlib.Path]:
    paths = [ROOT / "__spark_entry__.py",
             *(ROOT / "scripts").glob("*.py"), *(ROOT / "perfbench").glob("*.py")]
    return {f"{p.parent}/{p.stem}": p for p in paths}


def _import_targets(node: ast.AST, path: pathlib.Path, name: str, known: set[str]
                    ) -> Iterator[tuple[str, str, str | None]]:
    """``(local name, module, attribute or None)`` for each alias an import
    binds; ``import a.b`` gives ``("a", "a.b", None)``."""
    def sibling(mod: str) -> str:
        # scripts import their directory's modules by bare name (``import inputs``)
        if name not in known and mod in {p.stem for p in path.parent.glob("*.py")}:
            return f"{path.parent}/{mod}"
        return mod

    if isinstance(node, ast.Import):
        for a in node.names:
            yield a.asname or a.name.split(".")[0], sibling(a.name), None
    elif isinstance(node, ast.ImportFrom):
        if node.level:
            base = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
            mod = ".".join(base[: len(base) - node.level + 1] + ([node.module] if node.module else []))
        else:
            mod = node.module or ""
        for a in node.names:
            yield a.asname or a.name, sibling(mod), a.name


def _imports(path: pathlib.Path, name: str, known: set[str]) -> set[str]:
    """Package modules (and sibling script modules) that ``path`` imports."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        for _, mod, attr in _import_targets(node, path, name, known):
            if "/" in mod:
                out.add(mod)
                continue
            # ``from pkg import mod`` names a submodule, ``from mod import f`` a symbol
            for t in (mod, f"{mod}.{attr}" if attr else mod):
                parts = t.split(".")
                # importing a.b.c runs a/__init__ and a/b/__init__ too
                out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1)
                           if ".".join(parts[:i]) in known)
    return out


def reachable() -> set[str]:
    modules = _package_modules()
    files: dict[str, pathlib.Path] = {**modules, **_root_files()}
    roots = [f"{PKG}.app", f"{PKG}.entry_queries", *_root_files()]
    seen: set[str] = set()
    stack = list(roots)
    while stack:
        m = stack.pop()
        if m in seen or m not in files:
            continue
        seen.add(m)
        stack.extend(_imports(files[m], m, set(modules)))
    return seen


def test_every_package_module_is_reachable():
    dead = sorted(set(_package_modules()) - reachable())
    assert not dead, f"package modules only tests import: {dead}"


# --- definitions ----------------------------------------------------------

def _is_def(node: ast.AST) -> bool:
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))


def _lines(node: ast.AST) -> int:
    start = min([node.lineno, *(d.lineno for d in getattr(node, "decorator_list", []))])
    return node.end_lineno - start + 1


def _assigned_names(node: ast.AST) -> list[str]:
    """The names a module-level ``X = ...`` / ``X: T = ...`` binds, [] for
    any other statement (or a target that is not a plain name)."""
    targets = node.targets if isinstance(node, ast.Assign) else (
        [node.target] if isinstance(node, ast.AnnAssign) and node.value else [])
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    return names if len(names) == len(targets) else []


def _is_registered(node: ast.AST) -> bool:
    return any(isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
               for d in getattr(node, "decorator_list", []))


class _Graph:
    """Definitions, the code each one owns, and what each module's names bind to."""

    def __init__(self):
        self.modules = _package_modules()
        self.known = set(self.modules)
        self.size: dict[str, int] = {}  # tracked definition -> lines
        self.code: dict[str, list[ast.AST]] = {}  # unit -> the nodes it runs
        self.binds: dict[str, dict[str, tuple[str, str | None]]] = {}
        self.methods: dict[str, set[str]] = {}  # method name -> its definitions
        self.roots: list[str] = []
        for name, path in {**self.modules, **_root_files()}.items():
            self._add(name, path, name in self.modules)

    def _add(self, mod: str, path: pathlib.Path, tracked: bool) -> None:
        tree = ast.parse(path.read_text(), str(path))
        binds = self.binds[mod] = {}
        top: list[ast.AST] = []
        for node in tree.body:
            names = _assigned_names(node)
            if tracked and names:
                # ``X = expr`` runs on import, but what ``expr`` names is
                # reached only when reached code names ``X``
                for name in names:
                    binds[name] = (mod, name)
                    self.code[f"{mod}:{name}"] = [node]
                continue
            if not (tracked and _is_def(node)):
                top.append(node)
                # module-level imports bind names; reached code that uses a
                # name reaches what it is bound to
                for local, m, attr in _import_targets(node, path, mod, self.known):
                    binds[local] = (local if attr is None and m.startswith(f"{local}.") else m, attr)
                continue
            key = f"{mod}:{node.name}"
            binds[node.name] = (mod, node.name)
            self.size[key] = _lines(node)
            self.code[key] = [node]
            if _is_registered(node):
                self.roots.append(key)
            if isinstance(node, ast.ClassDef):
                self.code[key] = [*node.bases, *node.keywords, *node.decorator_list]
                for item in node.body:
                    if (isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef))
                            and not item.name.startswith("_")):
                        mkey = f"{key}.{item.name}"
                        self.size[mkey] = _lines(item)
                        self.code[mkey] = [item]
                        self.methods.setdefault(item.name, set()).add(mkey)
                    else:
                        self.code[key].append(item)
        self.code[mod] = top
        # module-level code runs on import: of a root always, and of every
        # package module, since the module walk keeps them all imported
        self.roots.append(mod)

    def resolve(self, mod: str, local: str, depth: int = 0) -> str | None:
        """The definition or module that ``local`` names in ``mod``."""
        if depth > 20 or local not in self.binds.get(mod, {}):
            return None
        return self._target(*self.binds[mod][local], depth)

    def _target(self, target: str, attr: str | None, depth: int = 0) -> str | None:
        if attr is None:
            return target
        if f"{target}:{attr}" in self.code:
            return f"{target}:{attr}"
        if f"{target}.{attr}" in self.known:
            return f"{target}.{attr}"
        return self.resolve(target, attr, depth + 1)

    def names(self, unit: str) -> Iterator[str]:
        """What the code of ``unit`` reaches."""
        mod = unit.split(":")[0]
        for top in self.code[unit]:
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    yield from filter(None, [self.resolve(mod, node.id)])
                elif isinstance(node, ast.Attribute):
                    yield from self.methods.get(node.attr, ())
                    owner = self._module_of(mod, node.value)
                    if owner:
                        yield from filter(None, [self._target(owner, node.attr)])
                elif isinstance(node, (ast.Import, ast.ImportFrom)) and node is not top:
                    # an import inside a function reaches what it names
                    for _, m, attr in _import_targets(node, self._path(mod), mod, self.known):
                        yield from filter(None, [self._target(m, attr)])

    def _module_of(self, mod: str, node: ast.AST) -> str | None:
        if isinstance(node, ast.Name):
            target = self.resolve(mod, node.id)
            return target if target in self.known else None
        if isinstance(node, ast.Attribute):
            owner = self._module_of(mod, node.value)
            if owner and f"{owner}.{node.attr}" in self.known:
                return f"{owner}.{node.attr}"
        return None

    def _path(self, mod: str) -> pathlib.Path:
        return self.modules.get(mod) or _root_files()[mod]


def _owner(key: str) -> str | None:
    """``mod:Class`` for a method key ``mod:Class.name``, else None."""
    mod, _, name = key.partition(":")
    return f"{mod}:{name.rsplit('.', 1)[0]}" if "." in name else None


def unreached_definitions(extra_roots: tuple[str, ...] = ()) -> dict[str, int]:
    """Tracked definitions that neither an entry point nor ``extra_roots``
    reaches, with their line counts."""
    g = _Graph()
    seen: set[str] = set()
    waiting: dict[str, set[str]] = {}  # class -> its methods named before it was reached
    stack = [*g.roots, *(r for r in extra_roots if r in g.code)]
    while stack:
        unit = stack.pop()
        if unit in seen:
            continue
        owner = _owner(unit)
        if owner and owner not in seen:
            # ``x.read`` names a method only of a class that code reaches
            waiting.setdefault(owner, set()).add(unit)
            continue
        seen.add(unit)
        stack.extend(waiting.pop(unit, ()))
        stack.extend(n for n in g.names(unit) if n in g.code and n not in seen)
    # a method of an unreached class is counted in the class's lines
    return {k: n for k, n in g.size.items()
            if k not in seen and _owner(k) not in g.size.keys() - seen}


def test_every_definition_is_reachable():
    # an allowed definition is kept on purpose, so what it calls is kept too
    flagged = unreached_definitions(tuple(ALLOWED))
    stale = sorted(ALLOWED.keys() - unreached_definitions().keys())
    assert not flagged and not stale, (
        f"{len(flagged)} definitions ({sum(flagged.values())} lines) only tests reach:\n"
        + "".join(f"  {k} ({n} lines)\n" for k, n in sorted(flagged.items()))
        + (f"stale ALLOWED entries (reached or gone): {stale}" if stale else "")
    )
