"""Every top-level def and class in ``scones/`` is reached from production.

Production is ``scones/`` itself, ``__spark_entry__.py``, ``tools/`` and
``perfbench/``; tests do not count.  A name is reached when production
code outside its own definition names it, or when a reached definition
does.  Naming is a load, an attribute, an import, a dotted string
(``"LineageStore.commit"``) or a string beside a ``"scones.<module>"``
string in one tuple (perfbench's span targets).  A bare string such as
a query name is not a reference, and neither is a docstring.  What stays
for tests alone is listed in ``KEEP`` with its reason.  Spark-free.
"""

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: defined in scones/, named by no production code, kept on purpose
KEEP = {
    "write_corpus": "fixture writer for the parquet corpus",
    "write_warc": "fixture writer for WARC shards",
    "write_jsonl": "fixture writer for JSONL shards",
    "save_lm": "writes the model layout lm_model_path reads",
    "simulate_pipeline": "independent oracle of the snapshot pipeline",
    "read_committed": "Iceberg-swap seam pinned by test_storage_contract",
    "vacuum_orphans": "Iceberg-swap seam pinned by test_storage_contract",
    "backlog_report": "Iceberg-swap seam pinned by test_storage_contract; "
    "the stats endpoint takes its backlog from file_report",
    "sink_aggregates": "per-sink correctness aggregate; only test_routing "
    "runs it (the sink_aggregates entry query is a hand-built demo)",
    "salted_join": "the paper's hot-host fallback to the broadcast join",
    "warc_shard_stats": "WARC skip counters",
}

_DOTTED = re.compile(r"[A-Za-z_][\w.]*")


def _production_files() -> list[str]:
    pats = ("scones/*.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py")
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p)))


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring nodes of a module, class or function."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def _strings(node: ast.AST) -> list[str]:
    return [
        e.value
        for e in getattr(node, "elts", ())
        if isinstance(e, ast.Constant) and isinstance(e.value, str)
    ]


def _names(node: ast.AST, docs: set[int]) -> set[str]:
    """Every name ``node`` mentions, docstrings excluded."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Tuple) and any(
            v.startswith("scones.") for v in _strings(n)
        ):
            out.update(_strings(n))
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docs
            and "." in n.value
            and _DOTTED.fullmatch(n.value)
        ):
            out.update(n.value.split("."))
    return out


def unreached(keep=KEEP) -> list[str]:
    """``module.name`` of each scones top-level def or class that no
    reached production code names, ``keep`` aside."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}  # name → (module, uses)
    reached: set[str] = set()
    for path in _production_files():
        tree = ast.parse(open(path).read(), path)
        docs = _docstrings(tree)
        in_scones = os.path.dirname(path) == os.path.join(ROOT, "scones")
        mod = os.path.splitext(os.path.basename(path))[0]
        for stmt in tree.body:
            is_def = isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            if in_scones and is_def:
                uses = _names(stmt, docs) - {stmt.name}
                defs.setdefault(stmt.name, []).append((mod, uses))
            else:
                reached |= _names(stmt, docs)
    reached |= set(keep)
    # a definition's own uses count once the definition is reached
    frontier = set(reached)
    while frontier:
        new = set()
        for name in frontier:
            for _, uses in defs.get(name, ()):
                new |= uses - reached
        reached |= new
        frontier = new
    return sorted(
        f"{mod}.{name}"
        for name, sites in defs.items()
        if name not in reached
        for mod, _ in sites
    )


def test_every_scones_definition_is_reached_from_production():
    assert unreached() == []


def test_keep_names_exist_and_are_otherwise_unreached():
    """A KEEP entry names a real definition that production does not
    reach; once production reaches it, the entry goes."""
    bare = {q.split(".", 1)[1] for q in unreached(keep=())}
    assert set(KEEP) <= bare, sorted(set(KEEP) - bare)
