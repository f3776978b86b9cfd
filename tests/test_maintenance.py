"""Snapshot compaction: fewer files, identical row set, crash-safe."""

import os

from pyspark.sql import functions as F

from scones.config import PipelineConfig
from scones.corpus import write_corpus, write_host_meta
from scones.lineage import LineageStore
from scones.maintenance import compact_snapshot
from scones.pipeline import run_snapshot


def _snapshot(spark, tmp_path, spread=4):
    write_corpus(str(tmp_path / "in"), n_docs=120, n_files=4, seed=31)
    meta = str(tmp_path / "host_meta.parquet")
    write_host_meta(meta)
    cfg = PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        host_meta_path=meta,
        n_sinks=3,
        spread_partitions=spread,  # deliberately many small files
    )
    s = run_snapshot(spark, cfg)
    return cfg, s


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    cfg, s = _snapshot(spark, tmp_path)
    snap = os.path.join(cfg.output_dir, "snapshot_id=1")
    before = {
        r.url: (bytes(r.extracted), r.sink_id)
        for r in spark.read.parquet(snap).collect()
    }
    res = compact_snapshot(spark, cfg.output_dir, 1)
    assert res["files_after"] < res["files_before"]
    assert res["files_after"] <= 3  # one file per sink at this size
    after = {
        r.url: (bytes(r.extracted), r.sink_id)
        for r in spark.read.parquet(snap).collect()
    }
    assert after == before  # byte-identical routed row set
    assert res["rows"] == s["rows"] == len(after)


def test_compact_target_bytes_bounds_files_within_sink(spark, tmp_path):
    """target_bytes actually splits a large sink: per-sink output file
    count == ceil(sink_bytes / target) and files are evenly sized
    (round-robin), not one unbounded single-task file per sink
    (round-3 advice: repartition(n, 'sink_id') could never split one)."""
    import glob
    import math

    cfg, s = _snapshot(spark, tmp_path)
    snap = os.path.join(cfg.output_dir, "snapshot_id=1")
    # pick a target that forces ≥3 files in the largest sink
    sink_bytes = {}
    for d in glob.glob(os.path.join(snap, "sink_id=*")):
        sink_bytes[d] = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )
    target = max(sink_bytes.values()) // 3
    res = compact_snapshot(spark, cfg.output_dir, 1, target_bytes=target)
    assert res["rows"] == s["rows"]
    for d, nbytes in sink_bytes.items():
        parts = [
            os.path.getsize(p)
            for p in glob.glob(os.path.join(d, "*.parquet"))
        ]
        want = max(1, math.ceil(nbytes / target))
        assert len(parts) == want, (d, len(parts), want)
        # round-robin balance: no file more than ~2x the mean
        assert max(parts) <= 2 * (sum(parts) / len(parts))


def test_compact_cleans_stale_attempt_dirs(spark, tmp_path):
    cfg, _ = _snapshot(spark, tmp_path, spread=2)
    snap = os.path.join(cfg.output_dir, "snapshot_id=1")
    # simulate crash debris from a prior interrupted compaction
    os.makedirs(snap + ".compacting/junk")
    os.makedirs(snap + ".old/junk")
    res = compact_snapshot(spark, cfg.output_dir, 1)
    assert not os.path.exists(snap + ".compacting")
    assert not os.path.exists(snap + ".old")
    assert res["rows"] == 120


def test_compact_recovers_crash_between_swap_renames(spark, tmp_path):
    """Death between rename(snap→old) and rename(tmp→snap) leaves the
    ONLY copies of committed data in old/ and .compacting/.  The next
    compaction must restore the original before cleaning debris — blind
    cleanup would delete both copies (round-4 review finding)."""
    import shutil

    cfg, s = _snapshot(spark, tmp_path, spread=2)
    snap = os.path.join(cfg.output_dir, "snapshot_id=1")
    # simulate the mid-swap crash state
    shutil.copytree(snap, snap + ".compacting")
    os.rename(snap, snap + ".old")
    assert not os.path.exists(snap)

    res = compact_snapshot(spark, cfg.output_dir, 1)
    assert res["rows"] == s["rows"] == 120
    assert not os.path.exists(snap + ".old")
    assert not os.path.exists(snap + ".compacting")
    assert spark.read.parquet(snap).count() == 120


def test_cli_usage_error_launches_no_jvm(monkeypatch, capsys):
    """A compaction call without --output-dir/--snapshot-id is a usage
    error, reported before any SparkSession is built."""
    import pytest

    import scones.maintenance
    import scones.session

    def no_spark(**_):
        raise AssertionError("get_spark called for a usage error")

    monkeypatch.setattr(scones.session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        scones.maintenance.main([])
    assert exc.value.code == 2
    assert "--output-dir and --snapshot-id required" in capsys.readouterr().err


def _commit(ck, *ids):
    """Publish lineage for ``ids``: index dirs fold only once committed."""
    store = LineageStore(str(ck))
    for sid in ids:
        store.commit(sid, [{
            "snapshot_id": sid, "src_file": f"/in/f{sid}.parquet",
            "offset_start": 0, "offset_end": 1, "row_count": 1,
        }])


def test_consolidate_indexes_fold_preserves_probes(spark, tmp_path):
    """Three committed snapshots' band/fp/bloom index dirs fold into one
    under the highest id; every probe answers identically afterwards
    (band rows equal as a set; bloom probe verdicts unchanged)."""
    from scones.incremental import (
        bloom_probe,
        exact_dups_via_bloom,
        merge_blooms,
        read_band_index,
        write_band_index,
        write_exact_index,
    )
    from scones.maintenance import consolidate_indexes

    ck = tmp_path / "ckpt"
    docs_by_snap = {}
    for sid in (1, 2, 3):
        docs = spark.createDataFrame(
            [(f"{sid}#{i}", f"snapshot {sid} doc {i} words w{i} x{i} y{i}")
             for i in range(8)],
            ["doc_id", "text"],
        )
        docs_by_snap[sid] = docs
        write_band_index(docs, str(ck / "band_index" / f"snapshot_id={sid}"))
        write_exact_index(
            docs,
            str(ck / "fp_index" / f"snapshot_id={sid}"),
            str(ck / "bloom_index" / f"snapshot_id={sid}"),
        )

    _commit(ck, 1, 2, 3)
    band_dirs = [str(ck / "band_index" / f"snapshot_id={s}") for s in (1, 2, 3)]
    before_bands = {
        tuple(r) for r in read_band_index(spark, *band_dirs).collect()
    }
    bloom_dirs = [str(ck / "bloom_index" / f"snapshot_id={s}") for s in (1, 2, 3)]
    before_bloom = {
        tuple(r) for r in merge_blooms(spark, *bloom_dirs).collect()
    }

    res = consolidate_indexes(spark, str(ck))
    assert res == {"band": 3, "fp": 3, "bloom": 3}
    import os

    for sub in ("band_index", "fp_index", "bloom_index"):
        dirs = [d for d in os.listdir(ck / sub) if d.startswith("snapshot_id=")]
        assert dirs == ["snapshot_id=3"]

    only = str(ck / "band_index" / "snapshot_id=3")
    after_bands = {tuple(r) for r in read_band_index(spark, only).collect()}
    assert after_bands == before_bands
    after_bloom = {
        tuple(r)
        for r in merge_blooms(
            spark, str(ck / "bloom_index" / "snapshot_id=3")
        ).collect()
    }
    assert after_bloom == before_bloom

    # an exact-dup probe of snapshot-1 content still finds its twins
    pairs = exact_dups_via_bloom(
        spark,
        docs_by_snap[1].select(
            F.concat(F.lit("9#"), F.col("doc_id")).alias("doc_id"), "text"
        ),
        [str(ck / "fp_index" / "snapshot_id=3")],
        [str(ck / "bloom_index" / "snapshot_id=3")],
    )
    assert pairs.count() == 8


def test_consolidation_crash_window_leaves_probe_correct_state(spark, tmp_path):
    """Simulate the crash window between the target swap and the source
    prune: a source dir whose rows are ALREADY in the consolidated
    target must neither break probes (pairs stay distinct) nor double
    rows on the next consolidation run (dropDuplicates folds them)."""
    import shutil

    from scones.incremental import (
        exact_dups_via_bloom,
        write_exact_index,
    )
    from scones.maintenance import consolidate_indexes

    ck = tmp_path / "ckpt"
    docs = spark.createDataFrame(
        [(f"1#{i}", f"doc {i} body w{i}") for i in range(6)],
        ["doc_id", "text"],
    )
    write_exact_index(
        docs,
        str(ck / "fp_index" / "snapshot_id=1"),
        str(ck / "bloom_index" / "snapshot_id=1"),
    )
    # crash artifact: snapshot 2's dir duplicates snapshot 1's rows
    shutil.copytree(
        str(ck / "fp_index" / "snapshot_id=1"),
        str(ck / "fp_index" / "snapshot_id=2"),
    )
    shutil.copytree(
        str(ck / "bloom_index" / "snapshot_id=1"),
        str(ck / "bloom_index" / "snapshot_id=2"),
    )
    _commit(ck, 1, 2)
    probe_docs = docs.select(
        F.concat(F.lit("9#"), F.col("doc_id")).alias("doc_id"), "text"
    )
    dup_dirs = lambda sub: [
        str(ck / sub / d) for d in ("snapshot_id=1", "snapshot_id=2")
    ]
    pairs = exact_dups_via_bloom(
        spark, probe_docs, dup_dirs("fp_index"), dup_dirs("bloom_index")
    )
    assert pairs.count() == 6  # one pair per doc, not doubled

    res = consolidate_indexes(spark, str(ck))
    assert res["fp"] == 2 and res["bloom"] == 2
    # after the self-healing fold: single dir, UNDUPLICATED rows
    fp = spark.read.parquet(str(ck / "fp_index" / "snapshot_id=2"))
    assert fp.count() == 6


def test_consolidation_leaves_uncommitted_index_untouched(spark, tmp_path):
    """A crashed attempt writes its index dir before its lineage commit.
    Consolidation folds only the committed snapshots' dirs (under the
    highest committed id) and leaves the uncommitted one in place, so
    the rerun that overwrites it cannot take the committed rows along."""
    from scones.incremental import read_band_index, write_band_index
    from scones.maintenance import consolidate_indexes

    ck = tmp_path / "ckpt"
    band = lambda sid: str(ck / "band_index" / f"snapshot_id={sid}")  # noqa: E731
    rows = {}
    for sid in (1, 2, 3):
        docs = spark.createDataFrame(
            [(f"{sid}#{i}", f"snapshot {sid} doc {i} w{i} x{i}") for i in range(6)],
            ["doc_id", "text"],
        )
        write_band_index(docs, band(sid))
        rows[sid] = {tuple(r) for r in read_band_index(spark, band(sid)).collect()}
    _commit(ck, 1, 2)

    assert consolidate_indexes(spark, str(ck)) == {"band": 2}
    assert sorted(os.listdir(ck / "band_index")) == [
        "snapshot_id=2",
        "snapshot_id=3",
    ]
    got = {tuple(r) for r in read_band_index(spark, band(2)).collect()}
    assert got == rows[1] | rows[2]
    assert {tuple(r) for r in read_band_index(spark, band(3)).collect()} == rows[3]


def test_consolidation_respects_index_lock(spark, tmp_path):
    """consolidate_indexes must not swap/prune live index dirs while a
    pipeline probe holds the shared index lock (round-5 ADVICE): it
    times out loudly instead of racing."""
    import pytest

    from scones.incremental import index_lock
    from scones.maintenance import consolidate_indexes

    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt, exist_ok=True)
    with index_lock(ckpt, exclusive=False):
        # two shared holders coexist (probe + probe)
        with index_lock(ckpt, exclusive=False, timeout_sec=1.0):
            pass
        with pytest.raises(RuntimeError, match="index lock"):
            consolidate_indexes(spark, ckpt, lock_timeout_sec=0.3)
    # lock released -> proceeds (no index dirs: returns empty summary)
    assert consolidate_indexes(spark, ckpt, lock_timeout_sec=1.0) == {}
