"""Every package module is reachable from a contract.

The contracts are the package itself (``__init__``), the CLI (``__main__``),
``Engine`` (``engine``) and the query suite (``suite``). A module that none
of them imports, directly or through another module, is code no user can
run: only its own tests reach it. This test computes the static import
closure from those roots (every ``import``/``from ... import`` anywhere in a
module, relative imports resolved, parent packages included, since importing
``a.b.c`` runs ``a/__init__`` and ``a/b/__init__``) and fails on any module
outside it. The closure is sound only while the package never imports by
name at run time, so that is checked too. The allowlist names modules kept
on purpose without a contract reaching them, each with its reason.
"""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "etl_edi_data_scrapper_spark"

ROOTS = ("", "__main__", "engine", "suite")

# module (dotted, relative to the package; "" is the package) -> reason
ALLOWED: dict[str, str] = {}

DYNAMIC = {"importlib", "import_module", "__import__"}


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
