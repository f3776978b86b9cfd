"""Run rows + HTTP statistics endpoint (statistics_server.go parity):
served JSON equals the lineage-derived state."""

import json
import os
import urllib.request

from scones.config import PipelineConfig
from scones.corpus import write_corpus
from scones.lineage import LineageStore, backlog_report
from scones.pipeline import run_snapshot
from scones.statsserver import (
    RUNS_SERVED,
    SINK_FIELDS,
    StatisticsServer,
    persist_run_metrics,
    stats_payload,
)


def _cfg(tmp_path):
    return PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=2,
        spread_partitions=0,
    )


def test_run_metrics_persisted_per_run(spark, tmp_path):
    cfg = _cfg(tmp_path)
    write_corpus(str(tmp_path / "in"), n_docs=30, n_files=2, seed=81)
    s1 = run_snapshot(spark, cfg)
    runs = LineageStore(cfg.checkpoint_dir).runs()
    assert runs == [persist_run_metrics(s1)]
    assert runs[0]["snapshot_id"] == s1["snapshot_id"]
    assert runs[0]["rows"] == 30
    assert runs[0]["payload_bytes"] == s1["payload_bytes"]
    payload = stats_payload(cfg.checkpoint_dir, cfg.input_glob)
    # the newest runs, served without the per-sink lists, which only
    # feed ``sinks``
    assert payload["runs"] == [
        {k: v for k, v in r.items() if k not in SINK_FIELDS}
        for r in runs[-RUNS_SERVED:]
    ]
    assert sum(s["rows_sent"] for s in payload["sinks"].values()) == 30
    # no-op run appends nothing
    run_snapshot(spark, cfg)
    assert LineageStore(cfg.checkpoint_dir).runs() == runs


def test_stats_payload_matches_lineage(spark, tmp_path):
    cfg = _cfg(tmp_path)
    write_corpus(str(tmp_path / "in"), n_docs=30, n_files=3, seed=82)
    run_snapshot(spark, cfg)
    payload = stats_payload(cfg.checkpoint_dir, cfg.input_glob)
    store = LineageStore(cfg.checkpoint_dir)
    rep = backlog_report(store, cfg.input_glob)
    assert payload["backlog"] == rep
    # parquet inputs are consumed whole: no per-file backlog
    assert len(payload["files"]) == 3
    for f in payload["files"].values():
        assert f["rows_committed"] > 0
        assert (f["first_snapshot"], f["last_snapshot"], f["n_snapshots"]) == (1, 1, 1)


def test_http_endpoint_serves_live_state(spark, tmp_path):
    cfg = _cfg(tmp_path)
    write_corpus(str(tmp_path / "in"), n_docs=20, n_files=2, seed=83)
    run_snapshot(spark, cfg)
    srv = StatisticsServer(cfg.checkpoint_dir, cfg.input_glob).start()
    try:
        url = f"http://127.0.0.1:{srv.port}/"
        got = json.loads(urllib.request.urlopen(url, timeout=10).read())
        assert got == stats_payload(cfg.checkpoint_dir, cfg.input_glob)
        assert got["backlog"]["files_pending"] == []

        # LIVE view: a new input file appears in the served backlog
        # without any pipeline run (the reference re-stats per request)
        write_corpus(str(tmp_path / "in2"), n_docs=5, n_files=1, seed=84)
        import shutil

        shutil.copy(
            str(tmp_path / "in2" / "docs_0000.parquet"),
            str(tmp_path / "in" / "docs_0099.parquet"),
        )
        got2 = json.loads(urllib.request.urlopen(url, timeout=10).read())
        assert len(got2["backlog"]["files_pending"]) == 1
        pending = got2["backlog"]["files_pending"][0]
        assert got2["files"][pending]["position"] == 0
        assert got2["files"][pending]["backlog_bytes"] > 0
    finally:
        srv.stop()


def test_deleted_file_reports_size_minus_one(spark, tmp_path):
    cfg = _cfg(tmp_path)
    write_corpus(str(tmp_path / "in"), n_docs=10, n_files=1, seed=85)
    run_snapshot(spark, cfg)
    victim = str(tmp_path / "in" / "docs_0000.parquet")
    os.unlink(victim)
    payload = stats_payload(cfg.checkpoint_dir, cfg.input_glob)
    assert payload["files"][victim]["size"] == -1  # statistics.go:150-156
    assert payload["files"][victim]["backlog_bytes"] == 0

def test_per_sink_counters_match_routed_output(spark, tmp_path):
    """statistics.go:34-45 ClientStatistics parity: per-sink rows_sent
    equals a direct groupBy over the committed routed output, and
    last_chunk_size tracks the newest snapshot's contribution."""
    cfg = _cfg(tmp_path)
    write_corpus(str(tmp_path / "in"), n_docs=40, n_files=2, seed=86)
    run_snapshot(spark, cfg)

    payload = stats_payload(cfg.checkpoint_dir, cfg.input_glob)
    truth = {
        str(r["sink_id"]): r["n"]
        for r in spark.read.option("basePath", cfg.output_dir)
        .parquet(cfg.output_dir)
        .groupBy("sink_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {k: v["rows_sent"] for k, v in payload["sinks"].items()} == truth
    for s in payload["sinks"].values():
        assert s["last_snapshot_id"] == 1
        assert s["last_chunk_size"] == s["rows_sent"]  # one snapshot so far
        assert s["bytes_sent"] > 0 and s["last_send_time"] > 0

    # second snapshot: rows_sent accumulates, last_chunk_size = the delta
    write_corpus(str(tmp_path / "in2"), n_docs=12, n_files=1, seed=87)
    import shutil

    shutil.copy(
        str(tmp_path / "in2" / "docs_0000.parquet"),
        str(tmp_path / "in" / "docs_0050.parquet"),
    )
    run_snapshot(spark, cfg)
    p2 = stats_payload(cfg.checkpoint_dir, cfg.input_glob)
    assert sum(s["rows_sent"] for s in p2["sinks"].values()) == 52
    assert sum(
        s["last_chunk_size"]
        for s in p2["sinks"].values()
        if s["last_snapshot_id"] == 2
    ) == 12

    # the HTTP endpoint serves the same per-sink view
    srv = StatisticsServer(cfg.checkpoint_dir, cfg.input_glob).start()
    try:
        got = json.loads(
            urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/", timeout=10
            ).read()
        )
        assert got["sinks"] == p2["sinks"]
    finally:
        srv.stop()


def test_bytes_committed_sums_spans_not_hwm(tmp_path):
    """Tail-mode lineage carries cumulative HWM offsets: a file committed
    across two snapshots (0-100 then 100-250) must report 250 committed
    bytes, not 350 (round-2 advice)."""
    store = LineageStore(str(tmp_path / "ckpt"))
    store.commit(1, [{
        "snapshot_id": 1, "src_file": str(tmp_path / "a.log"),
        "offset_start": 0, "offset_end": 100, "row_count": 4,
    }])
    store.commit(2, [{
        "snapshot_id": 2, "src_file": str(tmp_path / "a.log"),
        "offset_start": 100, "offset_end": 250, "row_count": 6,
    }])
    payload = stats_payload(str(tmp_path / "ckpt"), str(tmp_path / "*.log"))
    assert payload["backlog"]["bytes_committed"] == 250
    assert payload["backlog"]["rows_committed"] == 10


def _write_parts(out, sid, rows_per_sink):
    """One part per sink that got rows under ``out/snapshot_id=sid/``, as
    a routed write leaves it; returns the snapshot dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = os.path.join(out, f"snapshot_id={sid}")
    os.makedirs(snap)
    for k, n in enumerate(rows_per_sink):
        if not n:
            continue
        part = os.path.join(snap, f"sink_id={k}")
        os.makedirs(part)
        urls = pa.table({"url": [f"u{sid}-{i}" for i in range(n)]})
        pq.write_table(urls, os.path.join(part, "part-0.parquet"))
    open(os.path.join(snap, "_SUCCESS"), "w").close()
    return snap


def _commit_landed(store, sid, snap, n_sinks):
    """Commit snapshot ``sid`` with the run row the snapshot core builds
    from what landed in ``snap``."""
    from scones.layout import count_landed

    summary = {"snapshot_id": sid, **count_landed(snap, n_sinks)[1]}
    store.commit(sid, [{
        "snapshot_id": sid, "src_file": f"/in/{sid}.log",
        "offset_start": 0, "offset_end": 10, "row_count": 1,
    }], run=persist_run_metrics(summary))


def test_sink_stats_count_committed_snapshots_only(tmp_path):
    """A crash leaves routed parts under a snapshot id the lineage never
    published: they were never sent, so the per-sink counters skip them,
    while a committed snapshot still counts.  A run row without sink
    fields adds nothing."""
    out = str(tmp_path / "out")
    snap1 = _write_parts(out, 1, [2, 0])
    _write_parts(out, 2, [3, 4])  # crash leftover: never committed
    ckpt = str(tmp_path / "ckpt")
    assert stats_payload(ckpt, str(tmp_path / "*.log"))["sinks"] == {}

    store = LineageStore(ckpt)
    _commit_landed(store, 1, snap1, 2)
    sinks = stats_payload(ckpt, str(tmp_path / "*.log"))["sinks"]
    assert list(sinks) == ["0"]
    assert sinks["0"]["rows_sent"] == 2 and sinks["0"]["last_snapshot_id"] == 1
    assert sinks["0"]["bytes_sent"] == os.path.getsize(
        os.path.join(snap1, "sink_id=0", "part-0.parquet")
    )

    store.commit(2, [], run={"snapshot_id": 2, "rows": 0})
    assert stats_payload(ckpt, str(tmp_path / "*.log"))["sinks"] == sinks


def test_poll_opens_stay_flat_as_history_grows(tmp_path, monkeypatch):
    """A stats poll reads the newest manifest base, its runs file and the
    loose manifests above the fold, never the whole history, and never
    the routed output: after 2·T + 5 and 4·T + 5 commits (T = the fold
    threshold), each with one part per sink, one poll opens the same
    number of files, none under the output dir, reads the lineage once
    and globs the input once.  It stats no input path the glob did not
    return (every committed file here is gone, and reports size -1), serves
    the newest RUNS_SERVED run rows, and its backlog JSON does not grow.
    Its per-sink rows are the parts' footer rows."""
    import glob as globmod

    import pyarrow.parquet as pq

    from scones.lineage import file_report

    T = LineageStore.COMPACT_THRESHOLD
    loose, n_sinks = 5, 3
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    input_glob = str(tmp_path / "*.log")
    store = LineageStore(ckpt)

    def commit_up_to(n):
        for sid in range(store.next_snapshot_id(), n + 1):
            snap = _write_parts(out, sid, [1 + (sid + k) % 4 for k in range(n_sinks)])
            _commit_landed(store, sid, snap, n_sinks)

    opened, statted, globbed, reads = [], [], [], []
    for name in ("read_table", "read_schema", "read_metadata", "ParquetFile"):
        real = getattr(pq, name)
        monkeypatch.setattr(
            pq, name,
            lambda p, *a, _real=real, **k: opened.append(str(p)) or _real(p, *a, **k),
        )
    real_glob = globmod.glob
    monkeypatch.setattr(
        globmod, "glob", lambda p, *a, **k: globbed.append(p) or real_glob(p, *a, **k)
    )
    real_read_all = LineageStore.read_all
    monkeypatch.setattr(
        LineageStore, "read_all",
        lambda self, *a, **k: reads.append(1) or real_read_all(self, *a, **k),
    )
    real_stat = os.stat
    monkeypatch.setattr(
        os, "stat", lambda p, *a, **k: statted.append(str(p)) or real_stat(p, *a, **k)
    )

    counts, backlog_bytes = [], []
    for n in (2 * T + loose, 4 * T + loose):
        commit_up_to(n)
        assert len(store._loose_files()) == loose
        footer_rows = sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in real_glob(os.path.join(out, "snapshot_id=*", "sink_id=*", "*.parquet"))
        )
        for seen in (opened, statted, globbed, reads):
            seen.clear()
        payload = stats_payload(ckpt, input_glob)
        assert not [p for p in opened + statted + globbed if p.startswith(out)]
        counts.append(len(opened))
        assert globbed.count(input_glob) == 1
        # the store's own dir aside (LineageStore makes it), a poll stats
        # only what the input glob returned
        assert not {p for p in statted if not p.startswith(ckpt)} - set(
            real_glob(input_glob)
        )
        assert len(payload["files"]) == n
        assert {f["size"] for f in payload["files"].values()} == {-1}
        assert len(reads) == 1
        assert [r["snapshot_id"] for r in payload["runs"]] == list(
            range(n - RUNS_SERVED + 1, n + 1)
        )
        backlog_bytes.append(len(json.dumps(payload["backlog"])))
        assert [r["snapshot_id"] for r in store.runs()] == list(range(1, n + 1))
        assert sum(s["rows_sent"] for s in payload["sinks"].values()) == footer_rows
        assert payload["backlog"] == file_report(store, input_glob)[1]
    assert counts[0] == counts[1] <= 3 * (loose + 1) + 1
    assert backlog_bytes[0] == backlog_bytes[1]
