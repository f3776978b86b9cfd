"""``scones.layout`` is the one place the driver lists a configured path.

An AST scan fails on any directory listing or glob call in ``scones/``
outside ``layout.py``, except where ``ALLOWED`` says why.  The
behavioural tests pin what the seam buys: a tail snapshot stats each
input file once, both audits read the parts the snapshot core listed
(never the dir again), and a path on another filesystem raises at
every listing instead of listing as empty.
"""

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the calls that list a path
LISTINGS = {
    "glob.glob",
    "glob.iglob",
    "os.walk",
    "os.scandir",
    "os.listdir",
    "pyarrow.dataset.dataset",
}

#: ``module.top-level name`` allowed to list, with the reason
ALLOWED = {
    "lineage.LineageStore": "owns the format of its own manifest dir, lineage/",
    "footer.footer_schema": "reads one footer of a path it is handed",
}


def _aliases(tree: ast.AST) -> dict[str, str]:
    """Local name → dotted module path, from every import in ``tree``."""
    out = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.asname:
                    out[a.asname] = a.name
                else:
                    out[a.name.split(".")[0]] = a.name.split(".")[0]
        elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
            for a in n.names:
                out[a.asname or a.name] = f"{n.module}.{a.name}"
    return out


def _dotted(node: ast.AST, aliases: dict[str, str]) -> str | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return ".".join([aliases.get(node.id, node.id), *reversed(parts)])


def listing_sites() -> list[str]:
    """``module.top-level name: call`` of each listing call in scones/
    outside layout.py."""
    sites = []
    for path in sorted(glob.glob(os.path.join(ROOT, "scones", "*.py"))):
        mod = os.path.splitext(os.path.basename(path))[0]
        if mod == "layout":
            continue
        tree = ast.parse(open(path).read(), path)
        aliases = _aliases(tree)
        for stmt in tree.body:
            owner = getattr(stmt, "name", "<module>")
            for n in ast.walk(stmt):
                if isinstance(n, ast.Call):
                    call = _dotted(n.func, aliases)
                    if call in LISTINGS:
                        sites.append(f"{mod}.{owner}: {call}")
    return sites


def test_only_the_layout_module_lists_paths():
    stray = [s for s in listing_sites() if s.split(":")[0] not in ALLOWED]
    assert stray == []


def test_allowed_entries_still_list():
    """An ALLOWED entry that no longer lists anything goes."""
    assert set(ALLOWED) <= {s.split(":")[0] for s in listing_sites()}


def _count_stats(monkeypatch) -> list[str]:
    statted = []
    real = os.stat
    monkeypatch.setattr(
        os, "stat", lambda p, *a, **k: statted.append(str(p)) or real(p, *a, **k)
    )
    return statted


def _parts(snap_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(snap_dir, "sink_id=*", "*.parquet")))


def test_tail_snapshot_stats_each_input_once_and_audits_listed_parts(
    spark, tmp_path, monkeypatch
):
    from scones.tailsource import TailSource, run_tail_snapshot

    logs = tmp_path / "logs"
    logs.mkdir()
    inputs = [str(logs / f"{i}.log") for i in range(3)]
    for i, p in enumerate(inputs):
        with open(p, "wb") as fh:
            fh.write(b"".join(b"line %d %d\n" % (i, j) for j in range(20)))
    handed = []
    real_audit = TailSource.audit
    monkeypatch.setattr(
        TailSource,
        "audit",
        lambda self, landed, *a: handed.append(landed) or real_audit(self, landed, *a),
    )
    statted = _count_stats(monkeypatch)
    s = run_tail_snapshot(
        spark, str(logs / "*.log"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    monkeypatch.undo()
    assert s["lines"] == 60
    assert [statted.count(p) for p in inputs] == [1, 1, 1]
    assert handed == [_parts(s["output"])] and handed[0]


def test_documents_audit_reads_listed_parts(spark, tmp_path, monkeypatch):
    import scones.pipeline
    from scones.config import PipelineConfig
    from scones.corpus import write_corpus
    from scones.pipeline import run_snapshot

    write_corpus(str(tmp_path / "in"), n_docs=20, n_files=2, seed=5)
    handed = []
    real = scones.pipeline.lineage_rows_for
    monkeypatch.setattr(
        scones.pipeline,
        "lineage_rows_for",
        lambda landed, *a, **k: handed.append(landed) or real(landed, *a, **k),
    )
    cfg = PipelineConfig(
        str(tmp_path / "in" / "*.parquet"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_sinks=2,
    )
    s = run_snapshot(spark, cfg)
    assert s["rows"] == 20
    assert handed == [_parts(s["output"])] and handed[0]


@pytest.mark.parametrize("plan", ["plan_new_files", "plan_tail_work", "file_report"])
def test_non_local_glob_raises(tmp_path, plan):
    """A glob on another filesystem raises where the snapshot core's knob
    check does not run, instead of listing as empty."""
    from scones import lineage, tailsource
    from scones.lineage import LineageStore

    fn = getattr(lineage, plan, None) or getattr(tailsource, plan)
    with pytest.raises(ValueError, match="only local paths"):
        fn(LineageStore(str(tmp_path / "ckpt")), "s3a://b/*.parquet")
