"""``tools/*.py`` scripts run by hand, so nothing else notices when an
engine function they call loses a parameter.  For every call in a tool
whose callee resolves to a ``firebird_mapreduce_spark`` function, each
keyword must be a parameter of that function and the positional
arguments must fit its signature.  AST + ``inspect`` only — no Spark
session."""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os

PKG = "firebird_mapreduce_spark"
TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def _bindings(tree: ast.AST) -> dict[str, tuple[str, str | None]]:
    """Every name a tool binds to the package, anywhere in the file:
    name -> (module, attribute or None for a module alias)."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                try:
                    importlib.import_module(sub)
                    out[a.asname or a.name] = (sub, None)
                except ImportError:
                    out[a.asname or a.name] = (node.module, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and a.asname:
                    out[a.asname] = (a.name, None)
    return out


def _callee(func: ast.expr, binds):
    """The package object a call's ``f(...)`` or ``alias.f(...)`` names."""
    if isinstance(func, ast.Name) and func.id in binds:
        module, attr = binds[func.id]
        if attr is not None:
            return getattr(importlib.import_module(module), attr, None)
    elif isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        module, attr = binds.get(func.value.id, (None, ""))
        if attr is None:
            return getattr(importlib.import_module(module), func.attr, None)
    return None


def test_tool_calls_match_engine_signatures():
    checked = set()
    bad = []
    for path in sorted(glob.glob(os.path.join(TOOLS, "*.py"))):
        tree = ast.parse(open(path).read())
        binds = _bindings(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = _callee(node.func, binds)
            if not inspect.isfunction(fn) or not fn.__module__.startswith(PKG):
                continue
            params = inspect.signature(fn).parameters.values()
            kinds = {p.kind for p in params}
            names = {p.name for p in params if p.kind != p.VAR_POSITIONAL}
            n_pos = sum(
                p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
                for p in params
            )
            where = f"{os.path.basename(path)}:{node.lineno} {fn.__name__}"
            for kw in node.keywords:
                if kw.arg is None or inspect.Parameter.VAR_KEYWORD in kinds:
                    continue
                checked.add((fn.__name__, kw.arg))
                if kw.arg not in names:
                    bad.append(f"{where}: no parameter {kw.arg!r}")
            star = any(isinstance(a, ast.Starred) for a in node.args)
            if (
                not star
                and inspect.Parameter.VAR_POSITIONAL not in kinds
                and len(node.args) > n_pos
            ):
                bad.append(f"{where}: {len(node.args)} positional > {n_pos}")
            checked.add((fn.__name__, None))
    assert not bad, bad
    # non-vacuous: the recall sweeps' dials are among the checked calls
    assert ("embedding_knn_ivfpq", "n_candidates") in checked
    assert ("embedding_knn_ivf_multiprobe", "nprobe") in checked
    assert ("_crawl_semantic_parts", None) in checked
