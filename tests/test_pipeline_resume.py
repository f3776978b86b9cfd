"""End-to-end pipeline + exact resume from checkpoint.

Mirrors the reference's ack/checkpoint semantics: offsets are published
only after the sink accepts the batch (/root/reference/supervisor.go:
210-249); a crash in the send→ack window causes reprocessing, which the
rebuild makes effectively-once via idempotent per-snapshot overwrite +
committed-lineage-only reads.
"""

import os

import pytest

from scones.config import PipelineConfig
from scones.corpus import write_corpus
from scones.lineage import LineageStore, plan_new_files, read_committed
from scones.oracle import simulate_pipeline
from scones.pipeline import run_snapshot

N_SINKS = 3


def _cfg(tmp_path, host_meta_path):
    return PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        host_meta_path=host_meta_path,
        n_sinks=N_SINKS,
        max_length=0,
        spread_partitions=2,
    )


def _routed_urls(spark, cfg):
    store = LineageStore(cfg.checkpoint_dir)
    df = read_committed(spark, store, cfg.output_dir)
    if df is None:
        return {}
    out = {}
    for r in df.select("url", "sink_id", "snapshot_id").collect():
        out.setdefault(r.sink_id, []).append(r.url)
    return out


def _crash_commit(self, snapshot_id, rows, run=None):
    raise RuntimeError("injected crash between sink write and lineage commit")


def test_incremental_snapshots_and_resume(
    spark, tmp_path, host_meta_path, monkeypatch
):
    from scones.corpus import generate_rows

    cfg = _cfg(tmp_path, host_meta_path)
    in_dir = str(tmp_path / "in")
    rows = generate_rows(240, seed=7)

    # First wave: 2 files land (≈ glob discovers two logs).
    import pyarrow as pa
    import pyarrow.parquet as pq
    from scones.corpus import CORPUS_SCHEMA

    os.makedirs(in_dir, exist_ok=True)
    per = 60
    for i in range(2):
        pq.write_table(
            pa.Table.from_pylist(rows[i * per : (i + 1) * per], schema=CORPUS_SCHEMA),
            f"{in_dir}/docs_{i:04d}.parquet",
        )

    s1 = run_snapshot(spark, cfg)
    assert s1["snapshot_id"] == 1 and s1["rows"] == 120

    # No new files → no-op snapshot (≈ size <= HWM skip, supervisor.go:308-313)
    assert run_snapshot(spark, cfg)["snapshot_id"] is None

    # Second wave: 2 more files. Crash AFTER sink write, BEFORE lineage ack.
    for i in range(2, 4):
        pq.write_table(
            pa.Table.from_pylist(rows[i * per : (i + 1) * per], schema=CORPUS_SCHEMA),
            f"{in_dir}/docs_{i:04d}.parquet",
        )
    with monkeypatch.context() as m, pytest.raises(
        RuntimeError, match="injected crash"
    ):
        m.setattr(LineageStore, "commit", _crash_commit)
        run_snapshot(spark, cfg)

    # Orphan snapshot dir exists but is NOT visible to committed readers.
    assert os.path.isdir(str(tmp_path / "out" / "snapshot_id=2"))
    routed = _routed_urls(spark, cfg)
    assert sum(len(v) for v in routed.values()) == 120, "uncommitted data leaked"

    # Resume: the same files are re-planned into the SAME snapshot id,
    # the partial output is overwritten — no dupes, no gaps.
    store = LineageStore(cfg.checkpoint_dir)
    assert len(plan_new_files(store, cfg.input_glob)) == 2
    s2 = run_snapshot(spark, cfg)
    assert s2["snapshot_id"] == 2 and s2["rows"] == 120

    routed = _routed_urls(spark, cfg)
    flat = [u for urls in routed.values() for u in urls]
    assert len(flat) == 240
    assert len(set(flat)) == 240, "duplicates after resume"

    # Routed-row set equality per sink vs the single-threaded oracle.
    oracle = simulate_pipeline(rows, N_SINKS)
    for i in range(N_SINKS):
        assert set(routed.get(i, [])) == oracle["sinks"][i]

    # Lineage rows carry per-file offsets & row counts (≈ HighWaterMark).
    lin = store.read_all().to_pylist()
    assert {r["src_file"].rsplit("/", 1)[-1] for r in lin} == {
        f"docs_{i:04d}.parquet" for i in range(4)
    }
    assert all(r["row_count"] == 60 for r in lin)
    assert all(r["offset_end"] > 0 for r in lin)

    # Per-file offset_end equals the oracle's summed high-water marks.
    from scones.oracle import frame_bytes

    want = {}
    for i in range(4):
        want[f"docs_{i:04d}.parquet"] = sum(
            frame_bytes(r["html"]).position for r in rows[i * per : (i + 1) * per]
        )
    got = {r["src_file"].rsplit("/", 1)[-1]: r["offset_end"] for r in lin}
    assert got == want


def test_backlog_report(spark, tmp_path, host_meta_path):
    from scones.lineage import backlog_report

    cfg = _cfg(tmp_path, host_meta_path)
    write_corpus(str(tmp_path / "in"), n_docs=60, n_files=3, seed=13)
    store = LineageStore(cfg.checkpoint_dir)
    before = backlog_report(store, cfg.input_glob)
    assert before["files_discovered"] == 3 and before["files_committed"] == 0
    assert len(before["files_pending"]) == 3

    run_snapshot(spark, cfg)
    after = backlog_report(store, cfg.input_glob)
    assert after["files_pending"] == []
    assert after["rows_committed"] == 60
    assert after["bytes_committed"] > 0
    assert (after["n_snapshots"], after["last_snapshot"]) == (1, 1)


def test_extracted_text_byte_identical_through_pipeline(
    spark, tmp_path, host_meta_path
):
    from scones.corpus import generate_rows
    from scones.oracle import extract_text

    cfg = _cfg(tmp_path, host_meta_path)
    write_corpus(str(tmp_path / "in"), n_docs=80, n_files=2, seed=11)
    rows = generate_rows(80, seed=11)
    run_snapshot(spark, cfg)
    store = LineageStore(cfg.checkpoint_dir)
    df = read_committed(spark, store, cfg.output_dir)
    got = {r.url: bytes(r.extracted) for r in df.select("url", "extracted").collect()}
    for r in rows:
        assert got[r["url"]] == extract_text(r["html"])
