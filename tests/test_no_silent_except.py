"""No silent broad exception handlers in the package.

A handler that catches everything (bare ``except``, ``Exception``,
``BaseException``) and then only passes, breaks, continues or returns a
constant turns any bug inside its ``try`` into a quiet wrong answer: a
truncated feed, a format misdetected, a row dropped. Catch the errors that
are meant, or let the failure propagate. The allowlist names the few
places where swallowing is the contract, each with its reason.
"""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "etl_edi_data_scrapper_spark"

BROAD = {"Exception", "BaseException"}

# (file relative to the package, enclosing function) -> (handlers, reason)
ALLOWED = {
    ("functions/multimodal.py", "real_decode_kernel"): (
        1, "per-row image decode: a corrupt blob is a NULL feature row, not a failed stage"),
    ("functions/multimodal.py", "_decode_video"): (
        1, "per-row video decode: a corrupt or streamless blob is a NULL feature row"),
    ("functions/multimodal.py", "_decode_wav"): (
        2, "per-row WAV decode (container, then samples): corrupt PCM is a NULL feature row"),
}


def _is_broad(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return True
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(
        (isinstance(t, ast.Name) and t.id in BROAD)
        or (isinstance(t, ast.Attribute) and t.attr in BROAD)
        for t in types
    )


def _is_silent(stmt: ast.stmt) -> bool:
    if isinstance(stmt, (ast.Pass, ast.Break, ast.Continue)):
        return True
    if isinstance(stmt, ast.Return):
        return stmt.value is None or isinstance(stmt.value, ast.Constant)
    # a docstring-like bare string or an Ellipsis
    return isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)


def silent_handlers(root: pathlib.Path = PACKAGE) -> dict[tuple[str, str], list[int]]:
    """Line numbers of silent broad handlers, keyed by (file, function)."""
    found: dict[tuple[str, str], list[int]] = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()

        def visit(node: ast.AST, func: str) -> None:
            for child in ast.iter_child_nodes(node):
                name = func
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name
                if (
                    isinstance(child, ast.ExceptHandler)
                    and _is_broad(child)
                    and all(_is_silent(s) for s in child.body)
                ):
                    found.setdefault((rel, func), []).append(child.lineno)
                visit(child, name)

        visit(ast.parse(path.read_text(encoding="utf-8")), "<module>")
    return found


def test_no_silent_broad_except_outside_allowlist():
    found = silent_handlers()
    unexpected = {
        site: lines for site, lines in found.items()
        if len(lines) > ALLOWED.get(site, (0, ""))[0]
    }
    assert not unexpected, (
        "broad exception handlers that swallow the error: catch the specific "
        f"errors, log, or re-raise: {unexpected}"
    )


def test_allowlist_has_no_stale_entries():
    found = silent_handlers()
    stale = {site for site, (n, _) in ALLOWED.items() if len(found.get(site, [])) != n}
    assert not stale, f"allowlisted handlers no longer present as counted: {stale}"


def test_scanner_flags_the_silent_forms(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def a():\n    try:\n        x()\n    except Exception:\n        pass\n"
        "def b():\n    try:\n        x()\n    except:\n        return None\n"
        "def c():\n    for _ in y:\n        try:\n            x()\n"
        "        except (ValueError, BaseException):\n            continue\n"
        "def d():\n    try:\n        x()\n    except ValueError:\n        pass\n"
        "def e():\n    try:\n        x()\n    except Exception as err:\n        log(err)\n"
    )
    assert sorted(silent_handlers(pkg)) == [("m.py", "a"), ("m.py", "b"), ("m.py", "c")]
