"""Every package module and every top-level function is reachable from a contract.

The contracts are the package itself (``__init__``), the CLI (``__main__``),
``Engine`` (``engine``) and the query suite (``suite``). Code that none of
them reaches is code no user can run: only its own tests reach it. This
file checks that at two levels.

Modules: the static import closure from those roots (every
``import``/``from ... import`` anywhere in a module, relative imports
resolved, parent packages included, since importing ``a.b.c`` runs
``a/__init__`` and ``a/b/__init__``). It fails on any module outside it.
The closure is sound only while the package never imports by name at run
time, so that is checked too.

Definitions: a name-level call graph over the top-level ``def``s,
``class``es and constants of the package (a constant is a top-level
assignment to plain, non-dunder names; its value is its body). The roots
are the rest of the module-level code of every package module
(decorators, default arguments and base classes included),
``__main__.main``, ``engine.Engine``, ``__init__``'s ``get_spark`` and
``__getattr__``, every registered ``suite`` query, and the repo's own
programs (``tools/*.py``, ``perfbench/*.py``, ``bench.py``,
``__spark_entry__.py``). A reached definition reaches every package
top-level definition named by any identifier it mentions: a ``Name``, an
``Attribute``, an imported name (so ``import x as y`` follows ``x``) or an
identifier-like string constant. Matching by bare name over-approximates,
so the check never flags live code; a name in a docstring or comment is not
a mention. It fails on any top-level definition outside the closure.

Each level has an allowlist of things kept on purpose without a contract
reaching them, each with its reason; an entry that is gone or now reached
fails too.
"""

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "etl_edi_data_scrapper_spark"

ROOTS = ("", "__main__", "engine", "suite")

# module (dotted, relative to the package; "" is the package) -> reason
ALLOWED: dict[str, str] = {}

DYNAMIC = {"importlib", "import_module", "__import__"}

# names that seed the function-level closure: __main__.main, engine.Engine
# and __init__'s get_spark / __getattr__
DEF_ROOTS = ("main", "Engine", "get_spark", "__getattr__")

DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _defined(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a ``def``/``class`` name, or
    the targets of a constant assignment (plain, non-dunder names only;
    anything else, such as ``__all__`` or a tuple unpack, stays a root)."""
    if isinstance(node, DEF_TYPES):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    if all(isinstance(t, ast.Name) and not t.id.startswith("__") for t in targets):
        return [t.id for t in targets]
    return []

# "module:name" -> reason
ALLOWED_DEFS: dict[str, str] = {
    "sources.registry:build_registry": (
        "production wiring: the reader registry that a deployment builds "
        "with its own transports"
    ),
    "sources.transports:LocalFs": (
        "production wiring: the local-disk transport a deployment passes to "
        "build_registry"
    ),
    "sources.transports:ParamikoFs": (
        "production wiring: the SFTP transport a deployment passes to "
        "build_registry"
    ),
    "sources.rest:JwtManager": (
        "production wiring: the Bearer-auth page fetch a deployment passes "
        "as build_registry(rest_fetch=mgr.fetch)"
    ),
    "sources.google:OAuthTokenManager": (
        "production wiring: the OAuth token source for the Sheets reader"
    ),
    "sources.google:real_sheets_client": (
        "production wiring: the Sheets API client a deployment injects"
    ),
    "operators.rollup:full_rollup": (
        "test reference: the from-scratch rollup that the incremental "
        "rollup-merge is checked against"
    ),
    "functions.span_dedup:span_dedup_oracle_sql": (
        "test reference: the DuckDB oracle of the span-dedup kernel"
    ),
    "functions.bpe:bpe_count_text": (
        "test reference: the pure-Python BPE token count the Spark kernel "
        "is checked against"
    ),
    "operators.rollup:read_rollup": (
        "the read side of the store that the rollup-merge CLI writes"
    ),
}

PROGRAMS = ("tools/*.py", "perfbench/*.py", "bench.py", "__spark_entry__.py")


def package_modules(root: pathlib.Path = PACKAGE) -> dict[str, pathlib.Path]:
    """Dotted module name (relative to the package) -> file."""
    mods = {}
    for path in sorted(root.rglob("*.py")):
        parts = list(path.relative_to(root).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imported(mod: str, path: pathlib.Path, pkg: str) -> set[str]:
    """Dotted names (relative to the package) that ``mod`` may import."""
    is_pkg = path.name == "__init__.py"
    here = mod.split(".") if mod else []
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here if is_pkg else here[:-1]
                base = base[: len(base) - (node.level - 1)]
                stem = ".".join([pkg, *base, *([node.module] if node.module else [])])
            else:
                stem = node.module
            names.add(stem)
            names.update(f"{stem}.{alias.name}" for alias in node.names)
    prefix = pkg + "."
    return {
        "" if name == pkg else name[len(prefix):]
        for name in names
        if name == pkg or name.startswith(prefix)
    }


def reachable(root: pathlib.Path = PACKAGE, roots=ROOTS) -> set[str]:
    mods = package_modules(root)
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in mods:
            continue
        seen.add(mod)
        parts = mod.split(".") if mod else []
        todo.extend(".".join(parts[:i]) for i in range(len(parts)))
        todo.extend(_imported(mod, mods[mod], root.name))
    return seen


def _names(node: ast.AST) -> set[str]:
    if isinstance(node, ast.Name):
        return {node.id}
    if isinstance(node, ast.Attribute):
        return {node.attr}
    if isinstance(node, ast.Import):
        return {part for alias in node.names for part in alias.name.split(".")}
    if isinstance(node, ast.ImportFrom):
        return {*(node.module or "").split("."), *(alias.name for alias in node.names)}
    return set()


def dynamic_imports(root: pathlib.Path = PACKAGE) -> list[str]:
    """``file:line`` of every mention of a run-time import-by-name API."""
    return [
        f"{path.relative_to(root).as_posix()}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if _names(node) & DYNAMIC
    ]


def test_every_package_module_is_reachable_from_a_contract():
    unreached = sorted(set(package_modules()) - reachable() - set(ALLOWED))
    assert not unreached, (
        "package modules that no contract imports (delete them with their "
        f"tests, or import them from the code that needs them): {unreached}"
    )


def test_allowlist_has_no_stale_entries():
    mods = package_modules()
    reached = reachable()
    stale = sorted(m for m in ALLOWED if m not in mods or m in reached)
    assert not stale, f"allowlisted modules that are gone or now reached: {stale}"


def test_package_imports_nothing_by_name_at_run_time():
    assert not dynamic_imports(), (
        "a run-time import by name makes the static closure unsound: "
        f"{dynamic_imports()}"
    )


def test_closure_follows_relative_and_parent_imports(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub" / "deep").mkdir(parents=True)
    files = {
        "__init__.py": "from pkg.sub import a\n",
        "__main__.py": "def main():\n    from .sub.deep import d\n",
        "engine.py": "import pkg.sub.b as b\n",
        "suite.py": "from . import c\n",
        "c.py": "",
        "orphan.py": "import pkg.c\n",
        "sub/__init__.py": "",
        "sub/a.py": "from .. import c\n",
        "sub/b.py": "from ..sub import e\n",
        "sub/e.py": "",
        "sub/deep/__init__.py": "",
        "sub/deep/d.py": "",
        "sub/deep/lost.py": "import os\n",
    }
    for rel, text in files.items():
        (pkg / rel).write_text(text)
    assert set(package_modules(pkg)) - reachable(pkg) == {"orphan", "sub.deep.lost"}
    (pkg / "c.py").write_text("import importlib\nm = __import__('os')\n")
    assert dynamic_imports(pkg) == ["c.py:1", "c.py:2"]


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _mentions(nodes) -> set[str]:
    """Identifiers that ``nodes`` (and everything inside them) mention."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.update(node.name.split("."))
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if _IDENT.match(node.value):
                    out.add(node.value)
    return out


def _import_time_parts(node: ast.stmt) -> list[ast.AST]:
    """The parts of a top-level ``def``/``class`` that run at import."""
    parts = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        return parts + node.bases + [k.value for k in node.keywords]
    return parts + node.args.defaults + [d for d in node.args.kw_defaults if d]


def _is_query(node: ast.stmt) -> bool:
    return any(
        "register" in _mentions([d.func if isinstance(d, ast.Call) else d])
        for d in node.decorator_list
    )


def unreached_defs(
    root: pathlib.Path = PACKAGE,
    programs: tuple[str, ...] = PROGRAMS,
    kept: tuple[str, ...] = (),
) -> set[str]:
    """``module:name`` of every top-level def/class/constant outside the
    closure from the contracts plus the ``kept`` definitions."""
    defs: dict[str, list[str]] = {}
    bodies: dict[str, list[ast.stmt]] = {}
    todo = [*DEF_ROOTS, *(q.partition(":")[2] for q in kept)]
    for mod, path in package_modules(root).items():
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            names = _defined(node)
            if not names:
                todo.extend(_mentions([node]))
                continue
            for name in names:
                defs.setdefault(name, []).append(mod)
                bodies.setdefault(name, []).append(node)
            if not isinstance(node, DEF_TYPES):
                continue
            todo.extend(_mentions(_import_time_parts(node)))
            if mod == "suite" and _is_query(node):
                todo.append(node.name)
    for pattern in programs:
        for path in sorted(root.parent.glob(pattern)):
            todo.extend(_mentions([ast.parse(path.read_text(encoding="utf-8"))]))
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(_mentions(bodies.get(name, ())))
    return {f"{mod}:{name}" for name, mods in defs.items() if name not in reached for mod in mods}


def test_every_top_level_definition_is_reachable_from_a_contract():
    unreached = sorted(unreached_defs(kept=tuple(ALLOWED_DEFS)))
    assert not unreached, (
        "package functions/classes/constants that no contract reaches, only tests or "
        "docstrings (delete them with their tests, or allowlist them with a "
        f"reason): {unreached}"
    )


def test_definition_allowlist_has_no_stale_entries():
    # a gone definition is not in `unreached` either
    unreached = unreached_defs()
    stale = sorted(q for q in ALLOWED_DEFS if q not in unreached)
    assert not stale, f"allowlisted definitions that are gone or now reached: {stale}"
    assert all(reason.strip() for reason in ALLOWED_DEFS.values())


def test_def_closure_follows_names_aliases_strings_and_programs(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (tmp_path / "tools").mkdir()
    files = {
        "__init__.py": "from .session import get_spark\n",
        "session.py": (
            "LIVE = 1\nDEAD = _make_dead()\nTYPED: int = 2\n"
            "__all__ = ['get_spark']\nA, B = 3, 4\n\n"
            "def _make_dead():\n    return 0\n\n"
            "def get_spark():\n    return _conf() + LIVE\n\n"
            "def _conf():\n    return 1\n\n"
            "def orphan():\n    return _dead()\n\n"
            "def _dead():\n    return 0\n"
        ),
        "__main__.py": (
            "def main():\n"
            "    from .sub.x import helper as h\n"
            "    return h(), getattr(h, 'by_string')\n"
        ),
        "engine.py": (
            "def deco(f):\n    return f\n\n"
            "@deco\ndef decorated(k=default_fn):\n    pass\n\n"
            "def default_fn():\n    pass\n\n"
            "class Engine(Base):\n    def run(self):\n        return self.method_target()\n"
        ),
        "suite.py": (
            "def register(name):\n    return lambda f: f\n\n"
            "@register('q')\ndef q1(spark):\n    return kernel()\n\n"
            "def kernel():\n    pass\n\n"
            "def test_only():\n    return kernel()\n"
        ),
        "sub/__init__.py": "",
        "sub/x.py": (
            "def helper():\n    '''Unlike docstring_only, this is called.'''\n\n"
            "def method_target():\n    pass\n\n"
            "def by_string():\n    pass\n\n"
            "def docstring_only():\n    pass\n\n"
            "def tool_only():\n    pass\n\n"
            "def kept_fn():\n    return kept_helper()\n\n"
            "def kept_helper():\n    pass\n\n"
            "class Base:\n    pass\n"
        ),
    }
    for rel, text in files.items():
        (pkg / rel).write_text(text)
    (tmp_path / "tools" / "t.py").write_text("from pkg.sub.x import tool_only\n")
    programs = ("tools/*.py",)
    dead = {
        "session:DEAD",
        "session:_make_dead",
        "session:TYPED",
        "session:orphan",
        "session:_dead",
        "engine:decorated",
        "sub.x:docstring_only",
        "suite:test_only",
    }
    kept = {"sub.x:kept_fn", "sub.x:kept_helper"}
    assert unreached_defs(pkg, programs) == dead | kept
    assert unreached_defs(pkg, programs, kept=("sub.x:kept_fn",)) == dead
    assert unreached_defs(pkg, ()) == dead | kept | {"sub.x:tool_only"}
