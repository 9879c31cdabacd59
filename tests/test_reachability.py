"""No package function lives only for the tests.

The roots are what runs outside the suite: the driver contract
(``__spark_entry__.py``), ``bench.py``, ``perfbench/``, ``tools/`` and
the package's own module-level code (its re-exports and ``__all__``
aside, which only name things).  From them the walk follows every
identifier a reached body mentions: ``Name`` and ``Attribute``
references, ``import ... as`` aliases, and string constants that are
identifiers (registries keyed by name).  Matching by bare name
over-approximates reachability — a mention of ``count`` reaches every
``count`` — so the walk can miss dead code but never flags live code.

The methods of a package class with no base class are walked on
their own: a mention of the method's name reaches it, the class's other
statements reach nothing of it, and dunders (which Python calls
implicitly) go with the class.  A class with a base is a Spark plug-in
whose overrides Spark calls (``EdgeListReader.pushFilters``,
``EventGenStreamReader.latestOffset``), so it is reached whole.

A top-level function or class, or a walked method, that no root reaches
must be on ``ALLOWED``, with the reason it stays.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "firebird_mapreduce_spark"

_PLAN_PINS = "plan-pin toolkit the plan tests assert with"
_TWIN = "in-test oracle twin of a live spelling"
ALLOWED = {
    "plans.audit.codegen_stages": _PLAN_PINS,
    "plans.audit.count_exchanges": _PLAN_PINS,
    "plans.audit.has_broadcast_hash_join": _PLAN_PINS,
    "plans.audit.has_pushed_filter": _PLAN_PINS,
    "plans.audit.plan_string": _PLAN_PINS,
    "plans.audit.read_schema_columns": _PLAN_PINS,
    "plans.audit.wholestage_codegen_count": _PLAN_PINS,
    "operators.dedup._minhash_signatures_sql": _TWIN + " (minhash_signatures)",
    "operators.dedup.simhash64_pandas": _TWIN + " (simhash64_signatures)",
    "operators.similarity._assign_to_centroids": _TWIN + " (_assign_to_centroids_arrays)",
    "operators.similarity.embedding_neardup_exact": _TWIN + " (embedding_neardup_topk)",
    "operators.similarity.encode_pq_batch": "locality harness over the live _pq_assign_arrays",
    "mapreduce.map_only": "the reference's identity-reduce API",
    "streaming.jobs.stream_events": "source of the single-batch stream parity test",
}


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (*_FUNCS, ast.ClassDef)


def _mentions(*nodes: ast.AST) -> set[str]:
    out = set()
    for n in (sub for node in nodes for sub in ast.walk(node)):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            out.add(n.value)
    return out


def _names_only(stmt: ast.stmt) -> bool:
    """An import or an ``__all__`` list: it names things, runs nothing."""
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return True
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def _methods(stmt: ast.stmt) -> list[ast.stmt]:
    """The methods walked on their own: a base-less class's, dunders
    aside."""
    if not isinstance(stmt, ast.ClassDef) or stmt.bases:
        return []
    return [
        m
        for m in stmt.body
        if isinstance(m, _FUNCS)
        and not (m.name.startswith("__") and m.name.endswith("__"))
    ]


def unreached() -> set[str]:
    """Package-relative names of the top-level functions and classes,
    and of the walked methods, that no root reaches."""
    modules = {
        ".".join(p.relative_to(ROOT / PKG).with_suffix("").parts): ast.parse(
            p.read_text()
        )
        for p in sorted((ROOT / PKG).rglob("*.py"))
    }
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for tier in ("perfbench", "tools"):
        roots += sorted((ROOT / tier).rglob("*.py"))
    root_trees = [ast.parse(p.read_text()) for p in roots]
    # ``import x as y``: a mention of y reaches x
    aliases: dict[str, set[str]] = {}
    for tree in [*modules.values(), *root_trees]:
        for n in ast.walk(tree):
            if isinstance(n, ast.alias) and n.asname:
                aliases.setdefault(n.asname, set()).add(n.name.rsplit(".", 1)[-1])
    # name -> (qualified name, what reaching it mentions)
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    todo: list[str] = []
    for module, tree in modules.items():
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                qual = f"{module}.{stmt.name}"
                methods = _methods(stmt)
                shell = [n for n in ast.iter_child_nodes(stmt) if n not in methods]
                defs.setdefault(stmt.name, []).append((qual, _mentions(*shell)))
                for m in methods:
                    defs.setdefault(m.name, []).append(
                        (f"{qual}.{m.name}", _mentions(m))
                    )
                for deco in stmt.decorator_list:
                    todo += _mentions(deco)
            elif not _names_only(stmt):
                todo += _mentions(stmt)
    for tree in root_trees:
        todo += _mentions(tree)
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo += aliases.get(name, ())
        for _, mentions in defs.get(name, ()):
            todo += mentions - reached
    return {
        qual
        for name, found in defs.items()
        if name not in reached
        for qual, _ in found
    }


def test_no_test_only_package_functions():
    dead = unreached()
    assert dead == set(ALLOWED), (
        f"reached only from tests (delete, or allow with a reason): "
        f"{sorted(dead - set(ALLOWED))}; allowed but now reached (drop "
        f"from ALLOWED): {sorted(set(ALLOWED) - dead)}"
    )
