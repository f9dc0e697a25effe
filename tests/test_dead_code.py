"""Dead-code guard: every top-level package function or class is used.

A top-level ``def`` or ``class`` in ``ts_data_pipeline_spark/`` must be
reached from outside the dead code: from module-level code or a live
definition elsewhere in the package, or from ``tests/``, ``bench.py``,
``perfbench/``, ``tools/`` or ``__spark_entry__.py``. Liveness follows
references transitively, so a helper whose only caller is itself
unreachable is reported too.

A reference is a loaded name, an attribute, an imported name or a
string constant equal to the name (``getattr``/registry lookups).
Prose in docstrings and comments does not count. The files are
compiled, not imported: the compiled code objects carry each scope's
names (``co_names``) and constants, which costs about half of building
the full syntax tree for the ~2 MB scanned. No Spark.
"""

from __future__ import annotations

import dis
import os
import types

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE = os.path.join(_REPO, "ts_data_pipeline_spark")
_SCAN = (
    _PACKAGE,
    os.path.join(_REPO, "tests"),
    os.path.join(_REPO, "perfbench"),
    os.path.join(_REPO, "tools"),
    os.path.join(_REPO, "bench.py"),
    os.path.join(_REPO, "__spark_entry__.py"),
)
_STORES = frozenset({"STORE_NAME", "STORE_GLOBAL", "DELETE_NAME", "DELETE_GLOBAL"})


def _py_files(root: str):
    if os.path.isfile(root):
        yield root
        return
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _compile(path: str) -> types.CodeType:
    with open(path, encoding="utf-8") as fh:
        return compile(fh.read(), path, "exec", dont_inherit=True)


def _consts(code: types.CodeType, out: set[str]) -> list[types.CodeType]:
    """Add identifier-shaped string constants to ``out``; return the
    nested code objects."""
    nested = []
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            nested.append(c)
        elif isinstance(c, str) and c.isidentifier():
            out.add(c)
        elif isinstance(c, (tuple, frozenset)):
            out.update(s for s in c if isinstance(s, str) and s.isidentifier())
    return nested


def _names(code: types.CodeType, out: set[str]) -> set[str]:
    """Every name a code object and its nested scopes refer to."""
    for name in code.co_names:
        out.update(name.split("."))
    for inner in _consts(code, out):
        _names(inner, out)
    return out


def _module(code: types.CodeType):
    """(module-level references, {top-level def/class: references}).

    Module-level bytecode is read per instruction so the bindings
    made by ``def``/``class``/assignment do not count as uses."""
    refs: set[str] = set()
    for ins in dis.get_instructions(code):
        if isinstance(ins.argval, str) and ins.opname not in _STORES:
            refs.update(ins.argval.split("."))
    defs = {}
    for inner in _consts(code, refs):
        if inner.co_name.startswith("<"):  # lambda, comprehension
            _names(inner, refs)
        else:
            defs[inner.co_name] = _names(inner, set())
    return refs, defs


def unreferenced_definitions() -> list[str]:
    """``module.py::name`` for each top-level package def/class that
    nothing live reaches."""
    live: set[str] = set()
    defs: dict[tuple[str, str], set[str]] = {}
    for root in _SCAN:
        for path in _py_files(root):
            code = _compile(path)
            if not path.startswith(_PACKAGE + os.sep):
                live |= _names(code, set())
                continue
            refs, mod_defs = _module(code)
            live |= refs
            rel = os.path.relpath(path, _PACKAGE)
            defs.update(((rel, n), r) for n, r in mod_defs.items())
    pending = dict(defs)
    grew = True
    while grew:
        grew = False
        for key, refs in list(pending.items()):
            if key[1] in live:
                live |= refs
                del pending[key]
                grew = True
    return sorted(f"{rel}::{name}" for rel, name in pending)


def test_no_unreferenced_top_level_definitions():
    dead = unreferenced_definitions()
    assert not dead, (
        f"{len(dead)} top-level definitions are referenced nowhere: "
        + ", ".join(dead)
    )
