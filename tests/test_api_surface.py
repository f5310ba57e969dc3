"""Ratchet on the engine's settable surface: the number of parameters
with defaults on public functions and methods of ``batch_geocode_spark``
(``entry_queries.py`` aside: its query functions are the driver
contract, not an operator API). Spark-free: it parses the source."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "batch_geocode_spark"

# lower it when an option goes; never raise it to make room for one
MAX_DEFAULTED_PARAMS = 171


def _public_defs(body):
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not node.name.startswith("_"):
                yield node
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            yield from _public_defs(node.body)


def defaulted_params() -> list[str]:
    out = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "entry_queries.py":
            continue
        for fn in _public_defs(ast.parse(path.read_text()).body):
            a = fn.args
            pos = a.posonlyargs + a.args
            named = [x.arg for x in pos[len(pos) - len(a.defaults):]] if a.defaults else []
            named += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            out += [f"{path.relative_to(PKG)}:{fn.name}({n})" for n in named]
    return out


def test_settable_values_do_not_grow():
    params = defaulted_params()
    assert len(params) <= MAX_DEFAULTED_PARAMS, (
        f"{len(params)} parameters with defaults, the ratchet allows "
        f"{MAX_DEFAULTED_PARAMS}: use a literal or a module constant unless "
        "two non-test callers need different values"
    )
