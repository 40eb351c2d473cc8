"""Every top-level function in ``pq_spark/`` is reachable from a real entry
point, so the package carries no code that only its tests call.

The roots are the module-level code of ``pq_spark/`` (each registry
``register(...)`` row included; class bodies count whole), the CLI
(``pq_spark/__main__.py``), ``bench.py``, ``bench_extra.py``,
``__spark_entry__.py``, the non-test ``perfbench/`` files and
``scripts/``. A function is reached when reached code names it: as a
variable, as an attribute, or inside a string constant that is not a
docstring (perfbench names the functions it traces as strings). Imports
and ``__all__`` re-exports are not uses. The scan is by name, so two
functions that share a name are reached together. Spark-free.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "pq_spark"

# fixtures the tests share: kept in the package though no entry point calls them
TEST_HELPERS = {"run_cli", "write_warc", "verify_extraction"}

_WORD = re.compile(r"[A-Za-z_]\w*")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _docstrings(tree: ast.Module) -> set[int]:
    """ids of the docstring constants of every module, class and function."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, *_FUNCS)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.add(id(first.value))
    return out


def _names(nodes, docstrings: set[int]) -> set[str]:
    used = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and id(n) not in docstrings):
                used.update(_WORD.findall(n.value))
    return used


def _is_all(stmt: ast.stmt) -> bool:
    targets = getattr(stmt, "targets", None) or [getattr(stmt, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _root_files() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
    files += [p for p in sorted((ROOT / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    return files + sorted((ROOT / "scripts").glob("*.py"))


def unreached() -> list[str]:
    """``module:function (lines)`` of each top-level ``pq_spark/`` function
    that no root reaches, allowed test helpers aside."""
    used: set[str] = set()
    funcs: dict[str, list[tuple[str, ast.AST, set[int]]]] = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        doc = _docstrings(tree)
        mod = path.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")
        root_stmts = []
        for stmt in tree.body:
            if isinstance(stmt, _FUNCS):
                funcs.setdefault(stmt.name, []).append((mod, stmt, doc))
            elif not _is_all(stmt):
                root_stmts.append(stmt)
        used |= _names(root_stmts, doc)
    for path in _root_files():
        tree = ast.parse(path.read_text())
        used |= _names([tree], _docstrings(tree))

    reached: set[str] = set()
    while True:
        new = {f for f in funcs if f in used or f in TEST_HELPERS} - reached
        if not new:
            break
        reached |= new
        for f in new:
            for _mod, node, doc in funcs[f]:
                used |= _names([node], doc)
    return sorted(
        f"{mod}:{name} ({node.end_lineno - node.lineno + 1} lines)"
        for name, defs in funcs.items() if name not in reached
        for mod, node, _doc in defs
    )


def test_every_package_function_is_reachable():
    dead = unreached()
    assert not dead, "unreachable from every entry point:\n" + "\n".join(dead)

