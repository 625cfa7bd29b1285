"""Every defaulted parameter of the engine's public functions is set by a call.

A parameter with a default that no call in the repository sets is a
configuration no workload or test runs: it belongs in a constant. The audit
walks the public top-level functions of ``pubmedkb_web_spark/`` outside
``gates/`` and every call in the repository's Python files. A call sets a
parameter when it passes it by keyword, reaches its position, or passes
``*args``/``**kwargs``. Calls are matched by function name (``f(...)`` or
``m.f(...)``, following ``from m import f as g``), so two public functions
sharing a name share their call sites.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "pubmedkb_web_spark"


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if not any(p.startswith(".") or p == "__pycache__" for p in rel.parts):
            yield rel, ast.parse(path.read_text(), str(rel))


def _defaulted(fn: ast.FunctionDef) -> dict[str, int | None]:
    """Parameter name -> position (None for keyword-only) of each defaulted one."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out: dict[str, int | None] = {p.arg: i for i, p in enumerate(pos) if i >= first}
    out.update({p.arg: None for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


def never_set() -> list[str]:
    sources = list(_sources())
    public = defaultdict(list)  # function name -> [(qualified name, {param: position})]
    for rel, tree in sources:
        if rel.parts[0] != PKG.name or rel.parts[1] == "gates":
            continue
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                params = _defaulted(node)
                if params:
                    public[node.name].append((f"{rel.with_suffix('')}.{node.name}", params))

    unset = {(q, p) for fs in public.values() for q, params in fs for p in params}
    for _, tree in sources:
        alias = {a.asname: a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
                 for a in n.names if a.asname}
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            f = call.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            name = alias.get(name, name)
            splat = any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords)
            keywords = {k.arg for k in call.keywords}
            for q, params in public.get(name, ()):
                for p, pos in params.items():
                    if splat or p in keywords or (pos is not None and pos < len(call.args)):
                        unset.discard((q, p))
    return sorted(f"{q}({p}=)" for q, p in unset)


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = never_set()
    assert not unset, f"{len(unset)} defaulted parameters no call sets:\n" + "\n".join(unset)
