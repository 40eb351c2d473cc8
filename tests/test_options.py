"""Every defaulted parameter of a ``pq_spark/`` function is set by some
caller, so the package carries no option that only ever takes its default.

A parameter with one value in use is a constant, not an option. The scan
covers the functions and methods of ``pq_spark/`` whose name is unique in
the package (a class's ``__init__`` goes by the class name). A defaulted
parameter is set when some call in the package, a root of
``test_reachability`` or a test file passes it a value, by keyword or by
position, whose source text differs from the default's. A bare name that
is a defaulted parameter of the enclosing function, itself set by no caller,
passes that parameter's default (a required or set one always counts); this
is iterated to a fixed point. A call with ``*args`` or ``**kw`` sets every
parameter. Spark-free.
"""

import ast

from tests.test_reachability import PKG, ROOT, _root_files

# parameters no call sets that stay options, each with its reason
ALLOWED = {
    # run_pipeline passes it through ThreadPoolExecutor.submit(store.commit, ...)
    "commit:input_fps",
    # a safety check: the extra job that proves the 64-bit series keys distinct
    "series_dim:check_collisions",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


class _Func:
    """One scanned definition: its call name, positional parameters as a
    call sees them (``self``/``cls`` dropped) and the defaulted ones."""

    def __init__(self, name: str, node: ast.AST, method: bool):
        a = node.args
        pos = [p.arg for p in a.posonlyargs + a.args]
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                     for d in node.decorator_list)
        self.name = name
        self.positional = pos[1:] if method and not static else pos
        self.defaults = {p.arg: ast.unparse(d) for p, d in
                         zip((a.posonlyargs + a.args)[len(pos) - len(a.defaults):], a.defaults)}
        self.defaults.update({p.arg: ast.unparse(d) for p, d in
                              zip(a.kwonlyargs, a.kw_defaults) if d is not None})


def _package_funcs() -> dict[str, _Func]:
    """Uniquely named functions and methods of ``pq_spark/`` by call name."""
    seen: dict[str, list[_Func]] = {}

    def visit(body, cls: str | None):
        for stmt in body:
            if isinstance(stmt, ast.ClassDef):
                visit(stmt.body, stmt.name)
            elif isinstance(stmt, _FUNCS):
                name = cls if cls and stmt.name == "__init__" else stmt.name
                seen.setdefault(name, []).append(_Func(name, stmt, cls is not None))
                visit(stmt.body, None)

    for path in sorted(PKG.rglob("*.py")):
        visit(ast.parse(path.read_text()).body, None)
    return {name: defs[0] for name, defs in seen.items() if len(defs) == 1}


def _call_sites(funcs: dict[str, _Func]):
    """``(callee, param, value, enclosing)`` of each value a call passes to
    a defaulted parameter; ``value`` is None for ``*args``/``**kw``.
    ``enclosing`` is ``(name, params)`` of the function around the call."""
    files = sorted(PKG.rglob("*.py")) + _root_files()
    files += sorted((ROOT / "tests").rglob("*.py"))
    out = []

    def visit(node, enclosing):
        if isinstance(node, (*_FUNCS, ast.Lambda)):
            a = node.args
            params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
            params |= {p.arg for p in (a.vararg, a.kwarg) if p is not None}
            enclosing = (getattr(node, "name", "<lambda>"), params)
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            fn = funcs.get(name)
            if fn is not None:
                star = any(isinstance(x, ast.Starred) for x in node.args)
                star |= any(k.arg is None for k in node.keywords)
                for p in fn.defaults:
                    if star:
                        out.append((fn.name, p, None, enclosing))
                for p, v in zip(fn.positional, node.args):
                    if p in fn.defaults and not star:
                        out.append((fn.name, p, v, enclosing))
                for k in node.keywords:
                    if k.arg in fn.defaults and not star:
                        out.append((fn.name, k.arg, k.value, enclosing))
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing)

    for path in files:
        visit(ast.parse(path.read_text()), None)
    return out


def unset_options() -> list[str]:
    """``function:parameter`` of each defaulted parameter no caller sets."""
    funcs = _package_funcs()
    sites = _call_sites(funcs)
    set_: set[str] = set()
    while True:
        new = set()
        for callee, p, value, enclosing in sites:
            key = f"{callee}:{p}"
            if key in set_:
                continue
            if value is None:
                new.add(key)
                continue
            text = ast.unparse(value)
            if isinstance(value, ast.Name) and enclosing and value.id in enclosing[1]:
                outer = funcs.get(enclosing[0])
                if (outer is not None and value.id in outer.defaults
                        and f"{outer.name}:{value.id}" not in set_):
                    # an unset parameter passed on carries its own default
                    text = outer.defaults[value.id]
            if text != funcs[callee].defaults[p]:
                new.add(key)
        if not new:
            break
        set_ |= new
    return sorted(f"{fn.name}:{p}" for fn in funcs.values() for p in fn.defaults
                  if f"{fn.name}:{p}" not in set_)


def test_every_option_is_set_by_some_caller():
    unset = [k for k in unset_options() if k not in ALLOWED]
    assert not unset, (f"{len(unset)} defaulted parameters no caller sets "
                       "(make each a constant):\n" + "\n".join(unset))


def test_allowed_options_exist_and_stay_unset():
    unset = set(unset_options())
    assert ALLOWED <= unset, sorted(ALLOWED - unset)
