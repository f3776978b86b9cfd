"""O11/O12: the process dies at each commit boundary, then resumes exactly.

A child process runs one snapshot and dies with ``os._exit(17)`` at a
named point, chosen by a monkeypatch installed only in the child.  That
is a real crash: the driver dies mid-call, its JVM goes with it, and
whatever was on disk at that instant stays there (``_temporary`` dirs,
an unpublished ``.tmp-`` manifest, parts of an uncommitted snapshot).
The parent then resumes on the suite's session and checks, like the
reference's BoltDB high-water-mark resume (supervisor.go:191-249):

  * exactly-once output against the oracle (framing and crc32 routing);
  * lineage continuity: contiguous snapshot ids, each file (documents)
    or byte range (tail) committed once;
  * one run row per committed snapshot, equal to the summary that
    committed it;
  * per-sink stats that count committed rows only — before and after
    the resume.
"""

import os
import subprocess
import sys
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from scones.config import PipelineConfig
from scones.corpus import CORPUS_SCHEMA, generate_rows
from scones.lineage import LineageStore, read_committed
from scones.oracle import frame_bytes, simulate_pipeline
from scones.pipeline import snapshot_fn_for_mode
from scones.statsserver import persist_run_metrics, stats_payload

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SINKS = 3
DIED = 17

#: child-side kill switches: each one dies at its named point
KILLS = {
    # the driver dies while the write job runs
    "mid_write": """
def watch():
    while not os.path.isdir(os.path.join(SNAP_DIR, "_temporary")):
        time.sleep(0.001)
    die()
threading.Thread(target=watch, daemon=True).start()
""",
    # the write job finished and what landed is counted; nothing audited
    "after_write": """
real = scones.layout.count_landed
def killed(*a):
    real(*a)
    die()
scones.layout.count_landed = killed
""",
    # the .tmp-<uuid> manifest is written but never linked
    "before_publish": """
os.link = die
""",
    # the lineage manifest is published; nothing after it runs
    "after_publish": """
real = LineageStore.commit
def killed(self, *a, **k):
    real(self, *a, **k)
    die()
LineageStore.commit = killed
""",
}

# die() SIGKILLs the driver's JVM before the Python exit, so no shutdown
# hook (job abort, _temporary cleanup) runs after the named point
CHILD = """
import os, signal, sys, threading, time
sys.path.insert(0, {repo!r})
import scones.pipeline
from scones.config import PipelineConfig
from scones.lineage import LineageStore
from scones.session import get_spark

cfg = PipelineConfig.from_json({cfg_path!r})
SNAP_DIR = os.path.join(
    cfg.output_dir,
    f"snapshot_id={{LineageStore(cfg.checkpoint_dir).next_snapshot_id()}}",
)

def die(*_):
    os.kill(JVM_PID, signal.SIGKILL)
    os._exit({died})
{kill}
spark = get_spark(master="local[2]", app_name="crash-child")
JVM_PID = spark._jvm.java.lang.ProcessHandle.current().pid()
print(scones.pipeline.snapshot_fn_for_mode(cfg.mode)(spark, cfg))
"""


def _die_in_child(tmp_path, cfg, point):
    cfg_path = str(tmp_path / "cfg.json")
    cfg.to_json(cfg_path)
    script = CHILD.format(
        repo=REPO, cfg_path=cfg_path, died=DIED, kill=KILLS[point]
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
        env={**os.environ, "SCONES_DRIVER_MEM": "1g"},
    )
    assert out.returncode == DIED, (
        f"child did not die at {point} (exit {out.returncode}; a 0 means "
        f"the kill never fired)\nstdout: {out.stdout[-500:]}\n"
        f"stderr: {out.stderr[-2000:]}"
    )


def _assert_counters(cfg, *summaries):
    """One run row per committed snapshot, equal to each given summary's;
    the per-sink counters sum to the committed row count (crash leftovers
    were never sent)."""
    store = LineageStore(cfg.checkpoint_dir)
    committed = store.committed_snapshots()
    runs = store.runs()
    assert [r["snapshot_id"] for r in runs] == committed
    for s in summaries:
        assert runs[committed.index(s["snapshot_id"])] == persist_run_metrics(s)
    assert not os.path.exists(os.path.join(cfg.checkpoint_dir, "metrics"))
    sinks = stats_payload(cfg.checkpoint_dir, cfg.input_glob)["sinks"]
    lineage_rows = sum(store.read_all(columns=["row_count"]).column(0).to_pylist())
    assert sum(s["rows_sent"] for s in sinks.values()) == lineage_rows


def _assert_died_at(cfg, point, snapshot_id):
    """The on-disk state the named point leaves behind."""
    store = LineageStore(cfg.checkpoint_dir)
    published = point == "after_publish"
    assert (snapshot_id in store.committed_snapshots()) == published
    snap = os.path.join(cfg.output_dir, f"snapshot_id={snapshot_id}")
    if point == "mid_write":  # the dead JVM never committed its job
        assert os.path.isdir(os.path.join(snap, "_temporary"))
        assert not os.path.exists(os.path.join(snap, "_SUCCESS"))
    else:
        assert os.path.exists(os.path.join(snap, "_SUCCESS"))
    if point == "before_publish":
        assert any(".tmp-" in f for f in os.listdir(store.dir))


def _assert_lineage_continuous(cfg):
    """Ids 1..N contiguous; per file, each snapshot starts where the
    previous one ended, so every byte range is committed once."""
    store = LineageStore(cfg.checkpoint_dir)
    committed = store.committed_snapshots()
    assert committed == list(range(1, len(committed) + 1))
    by_file = {}
    for r in sorted(store.read_all().to_pylist(), key=lambda r: r["snapshot_id"]):
        by_file.setdefault(r["src_file"], []).append(r)
    for rows in by_file.values():
        assert rows[0]["offset_start"] == 0
        for prev, cur in zip(rows, rows[1:]):
            assert cur["offset_start"] == prev["offset_end"]
    return by_file


def _write_docs(in_dir, rows, first, last, per):
    os.makedirs(in_dir, exist_ok=True)
    for i in range(first, last):
        pq.write_table(
            pa.Table.from_pylist(rows[i * per : (i + 1) * per], schema=CORPUS_SCHEMA),
            os.path.join(in_dir, f"docs_{i:04d}.parquet"),
        )


@pytest.mark.parametrize("point", list(KILLS))
def test_documents_crash_resume(spark, tmp_path, host_meta_path, point):
    cfg = PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        host_meta_path=host_meta_path,
        n_sinks=N_SINKS,
        spread_partitions=2,
    )
    run = snapshot_fn_for_mode(cfg.mode)
    rows, per = generate_rows(160, seed=23), 40
    _write_docs(str(tmp_path / "in"), rows, 0, 2, per)
    first = run(spark, cfg)
    assert first["snapshot_id"] == 1
    _write_docs(str(tmp_path / "in"), rows, 2, 4, per)

    _die_in_child(tmp_path, cfg, point)
    _assert_died_at(cfg, point, 2)
    _assert_counters(cfg, first)

    resumed = run(spark, cfg)
    if point == "after_publish":
        assert resumed["snapshot_id"] is None  # already committed
        summaries = (first,)
    else:
        assert resumed["snapshot_id"] == 2 and resumed["rows"] == 2 * per
        summaries = (first, resumed)

    store = LineageStore(cfg.checkpoint_dir)
    routed = {}
    for r in read_committed(spark, store, cfg.output_dir).select(
        "url", "sink_id"
    ).collect():
        routed.setdefault(r.sink_id, []).append(r.url)
    flat = [u for urls in routed.values() for u in urls]
    assert len(flat) == len(set(flat)) == len(rows), "lost or duplicated rows"
    oracle = simulate_pipeline(rows, N_SINKS)
    assert {k: set(v) for k, v in routed.items()} == {
        k: v for k, v in oracle["sinks"].items() if v
    }

    by_file = _assert_lineage_continuous(cfg)
    assert sorted(os.path.basename(f) for f in by_file) == [
        f"docs_{i:04d}.parquet" for i in range(4)
    ]
    assert all(len(v) == 1 and v[0]["row_count"] == per for v in by_file.values())
    _assert_counters(cfg, *summaries)


@pytest.mark.parametrize("point", ["after_write", "before_publish"])
def test_tail_crash_resume(spark, tmp_path, point):
    logs = tmp_path / "logs"
    logs.mkdir()
    cfg = PipelineConfig(
        input_glob=str(logs / "*.log"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=N_SINKS,
        mode="tail",
    )
    run = snapshot_fn_for_mode(cfg.mode)
    (logs / "a.log").write_bytes(b"".join(b"a%d\n" % i for i in range(30)) + b"a-part")
    (logs / "b.log").write_bytes(b"".join(b"b%d\r\n" % i for i in range(20)))
    first = run(spark, cfg)
    assert first["snapshot_id"] == 1
    # the log grows: the partial line completes, more lines land
    with open(logs / "a.log", "ab") as fh:
        fh.write(b"ial\n" + b"".join(b"a%d\n" % i for i in range(30, 70)))
    with open(logs / "b.log", "ab") as fh:
        fh.write(b"".join(b"b%d\r\n" % i for i in range(20, 45)) + b"b-partial")

    _die_in_child(tmp_path, cfg, point)
    _assert_died_at(cfg, point, 2)
    _assert_counters(cfg, first)

    resumed = run(spark, cfg)
    assert resumed["snapshot_id"] == 2

    store = LineageStore(cfg.checkpoint_dir)
    got = sorted(
        (r.src_file, bytes(r.line), r.hwm, r.sink_id)
        for r in read_committed(spark, store, cfg.output_dir)
        .select("src_file", "line", "hwm", "sink_id")
        .collect()
    )
    want = []
    for f in sorted(logs.glob("*.log")):
        framed = frame_bytes(f.read_bytes())
        for line, hwm in zip(framed.lines, framed.hwms):
            key = f"{f}@{hwm}".encode()
            want.append((str(f), line, hwm, zlib.crc32(key) % N_SINKS))
    assert got == sorted(want)

    by_file = _assert_lineage_continuous(cfg)
    for f in logs.glob("*.log"):
        spans = by_file[str(f)]
        assert [r["snapshot_id"] for r in spans] == [1, 2]
        assert spans[-1]["offset_end"] == frame_bytes(f.read_bytes()).position
    _assert_counters(cfg, first, resumed)
