"""Time travel, orphan vacuum, config round-trip, skew spread."""

import os

import pytest
from pyspark.sql import functions as F

from scones.config import PipelineConfig
from scones.corpus import write_corpus
from scones.lineage import LineageStore, read_committed, vacuum_orphans
from scones.pipeline import run_snapshot


def _cfg(tmp_path, n_sinks=3, spread=2):
    return PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=n_sinks,
        spread_partitions=spread,
    )


def test_time_travel_and_vacuum(spark, tmp_path):
    cfg = _cfg(tmp_path)
    write_corpus(str(tmp_path / "in"), n_docs=40, n_files=2, seed=51)
    run_snapshot(spark, cfg)
    store = LineageStore(cfg.checkpoint_dir)
    snaps = store.committed_snapshots()
    assert snaps == [1]

    # time travel: as_of=1 equals current state
    now = read_committed(spark, store, cfg.output_dir)
    asof = read_committed(spark, store, cfg.output_dir, as_of_snapshot=1)
    assert now.count() == asof.count() == 40

    # orphan: fake an unpublished snapshot dir
    orphan = tmp_path / "out" / "snapshot_id=99"
    orphan.mkdir(parents=True)
    (orphan / "junk.parquet").write_bytes(b"x")
    removed = vacuum_orphans(store, cfg.output_dir)
    assert [str(orphan)] == removed
    assert not orphan.exists()
    # committed dirs survive
    assert os.path.isdir(str(tmp_path / "out" / "snapshot_id=1"))


def test_time_travel_excludes_later_snapshots(spark, tmp_path):
    cfg = _cfg(tmp_path)
    write_corpus(str(tmp_path / "in"), n_docs=40, n_files=2, seed=53)
    run_snapshot(spark, cfg)
    # wave 2: new files (different names via offset trick)
    import pyarrow as pa
    import pyarrow.parquet as pq
    from scones.corpus import CORPUS_SCHEMA, generate_rows

    pq.write_table(
        pa.Table.from_pylist(generate_rows(25, seed=54), schema=CORPUS_SCHEMA),
        str(tmp_path / "in" / "docs_0009.parquet"),
    )
    run_snapshot(spark, cfg)
    store = LineageStore(cfg.checkpoint_dir)
    assert store.committed_snapshots() == [1, 2]
    assert read_committed(spark, store, cfg.output_dir).count() == 65
    assert (
        read_committed(spark, store, cfg.output_dir, as_of_snapshot=1).count()
        == 40
    )


def test_zero_row_input_file_is_marked_consumed(spark, tmp_path):
    """An empty input parquet must get a lineage row (row_count=0) so it
    is not re-admitted as a new (empty) snapshot on every run."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from scones.corpus import CORPUS_SCHEMA, generate_rows

    cfg = _cfg(tmp_path)
    write_corpus(str(tmp_path / "in"), n_docs=20, n_files=1, seed=71)
    pq.write_table(
        pa.Table.from_pylist([], schema=CORPUS_SCHEMA),
        str(tmp_path / "in" / "docs_0008_empty.parquet"),
    )
    s1 = run_snapshot(spark, cfg)
    assert s1["snapshot_id"] == 1 and s1["rows"] == 20
    store = LineageStore(cfg.checkpoint_dir)
    lineage = store.read_all().to_pylist()
    empties = [r for r in lineage if r["row_count"] == 0]
    assert len(empties) == 1
    assert empties[0]["src_file"].endswith("docs_0008_empty.parquet")
    # no-op rerun: the empty file is consumed, not replanned forever
    assert run_snapshot(spark, cfg)["snapshot_id"] is None


def test_all_empty_snapshot_commits_markers(spark, tmp_path):
    """Even a snapshot where EVERY planned file is empty publishes
    consumed markers instead of looping."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from scones.corpus import CORPUS_SCHEMA

    cfg = _cfg(tmp_path)
    (tmp_path / "in").mkdir()
    for i in range(2):
        pq.write_table(
            pa.Table.from_pylist([], schema=CORPUS_SCHEMA),
            str(tmp_path / "in" / f"empty_{i}.parquet"),
        )
    s1 = run_snapshot(spark, cfg)
    assert s1["snapshot_id"] == 1 and s1["rows"] == 0
    assert run_snapshot(spark, cfg)["snapshot_id"] is None


def _fake_rows(sid: int) -> list[dict]:
    return [
        {
            "snapshot_id": sid,
            "src_file": f"/in/f{sid:04d}.parquet",
            "offset_start": 0,
            "offset_end": 100 + sid,
            "row_count": 10,
        }
    ]


def test_manifest_compaction_folds_to_one_file(tmp_path, monkeypatch):
    """50+ per-commit manifests fold into one base; planning afterwards
    reads ≤2 manifest files (base + at most the newest loose commit) and
    every store query is unchanged (round-3 verdict item 2)."""
    monkeypatch.setattr(LineageStore, "COMPACT_THRESHOLD", 0)
    store = LineageStore(str(tmp_path / "ckpt"))
    for sid in range(1, 56):
        store.commit(sid, _fake_rows(sid))
    assert len(store._files()) == 55
    before = {
        "snaps": store.committed_snapshots(),
        "files": store.processed_files(),
        "next": store.next_snapshot_id(),
        "rows": store.read_all().num_rows,
    }
    res = store.compact_manifest()
    assert res["fold_point"] == 55 and res["files_after"] == 1
    assert len(store._files()) == 1  # planning now reads ONE file
    assert store.committed_snapshots() == before["snaps"]
    assert store.processed_files() == before["files"]
    assert store.next_snapshot_id() == before["next"]
    assert store.read_all().num_rows == before["rows"]
    # post-fold commits sit next to the base: ≤2 files until the next fold
    store.commit(56, _fake_rows(56))
    assert len(store._files()) == 2
    assert store.next_snapshot_id() == 57
    # idempotent re-fold
    store.compact_manifest()
    assert len(store._files()) == 1
    assert store.committed_snapshots() == list(range(1, 57))


def test_manifest_auto_compaction_on_commit(tmp_path, monkeypatch):
    """The daemon path needs no operator action: once ``COMPACT_THRESHOLD``
    loose manifests accumulate, commit() folds them automatically."""
    monkeypatch.setattr(LineageStore, "COMPACT_THRESHOLD", 10)
    store = LineageStore(str(tmp_path / "ckpt"))
    for sid in range(1, 10):
        store.commit(sid, _fake_rows(sid))
    assert len(store._loose_files()) == 9  # below threshold: untouched
    store.commit(10, _fake_rows(10))  # tenth commit trips the fold
    assert len(store._loose_files()) == 0
    assert len(store._files()) == 1
    assert store.committed_snapshots() == list(range(1, 11))


def test_manifest_compaction_crash_between_publish_and_cleanup(tmp_path, monkeypatch):
    """A crash after the base rename but before loose-file deletion leaves
    shadowed duplicates on disk; readers must ignore them (fold-point
    rule) and the next compaction removes them."""
    import shutil

    monkeypatch.setattr(LineageStore, "COMPACT_THRESHOLD", 0)
    store = LineageStore(str(tmp_path / "ckpt"))
    for sid in range(1, 6):
        store.commit(sid, _fake_rows(sid))
    # simulate the crash: publish the base, but "die" before cleanup by
    # restoring the loose files afterwards
    saved = {f: (tmp_path / os.path.basename(f)) for f in store._loose_files()}
    for f, dst in saved.items():
        shutil.copy(f, dst)
    store.compact_manifest()
    for f, dst in saved.items():
        shutil.copy(dst, f)  # shadowed duplicates reappear
    # readers see each row exactly once despite the duplicates on disk
    assert store.read_all().num_rows == 5
    assert store.committed_snapshots() == [1, 2, 3, 4, 5]
    # dead pre-publish tmp files (crash before the atomic rename) are
    # reaped by the next fold too — but only once they age past the
    # grace window (a YOUNG tmp may be a slow in-flight commit from the
    # watchdog's abandoned attempt; round-4 ADVICE)
    import time as _time

    from scones.lineage import TMP_REAP_GRACE_SEC

    dead = tmp_path / "ckpt" / "lineage" / "snapshot_000000000009.parquet.tmp-dead"
    dead.write_bytes(b"x")
    store.compact_manifest()
    assert dead.exists()  # young tmp: spared (possible in-flight commit)
    old = _time.time() - TMP_REAP_GRACE_SEC - 10
    os.utime(dead, (old, old))
    res = store.compact_manifest()  # aged past grace: reaped
    assert len(store._loose_files()) == 0
    assert res["rows"] == 5
    import glob as globmod

    assert not globmod.glob(str(tmp_path / "ckpt" / "lineage" / "*.tmp-*"))


def test_manifest_fold_crash_keeps_one_run_per_snapshot(tmp_path, monkeypatch):
    """The fold publishes runs_<fold> before base_<fold>.  A fold that
    dies between the two leaves readers on the old base with its old
    runs; one that dies after the base, before cleanup, leaves them on
    the new base with its new runs.  Either way runs() holds exactly one
    row per committed snapshot, and the next fold cleans up."""

    class Died(Exception):
        pass

    def run_of(sid):
        return {"snapshot_id": sid, "rows": 10, "plan_sec": sid / 3}

    def dies_at(name, pred):
        real = getattr(os, name)

        def fn(path, *a):
            if pred(os.path.basename(a[0] if a else path)):
                raise Died(name)
            return real(path, *a)

        return fn

    monkeypatch.setattr(LineageStore, "COMPACT_THRESHOLD", 0)
    store = LineageStore(str(tmp_path / "ckpt"))
    for sid in range(1, 6):
        store.commit(sid, _fake_rows(sid), run=run_of(sid))
    store.compact_manifest()  # base_5 + runs_5
    for sid in range(6, 9):
        store.commit(sid, _fake_rows(sid), run=run_of(sid))
    want = [run_of(sid) for sid in range(1, 9)]

    def on_disk():
        return sorted(f for f in os.listdir(store.dir) if ".tmp-" not in f)

    # dies after runs_8 is published, before base_8
    with monkeypatch.context() as m, pytest.raises(Died):
        m.setattr(os, "replace", dies_at("replace", lambda f: f.startswith("base_")))
        store.compact_manifest()
    assert "runs_000000000008.parquet" in on_disk()
    assert os.path.basename(store._files()[0]) == "base_000000000005.parquet"
    assert store.runs() == want
    assert store.committed_snapshots() == list(range(1, 9))

    # dies after base_8 is published, before any cleanup
    with monkeypatch.context() as m, pytest.raises(Died):
        m.setattr(os, "remove", dies_at("remove", lambda f: ".tmp-" not in f))
        store.compact_manifest()
    assert {"base_000000000005.parquet", "runs_000000000005.parquet",
            "snapshot_000000000006.parquet"} <= set(on_disk())
    assert store._files() == [os.path.join(store.dir, "base_000000000008.parquet")]
    assert store.runs() == want
    assert store.committed_snapshots() == list(range(1, 9))

    store.compact_manifest()
    assert on_disk() == ["base_000000000008.parquet", "runs_000000000008.parquet"]
    assert store.runs() == want


def test_commit_fencing_refuses_stale_attempt(tmp_path, monkeypatch):
    """The watchdog race (round-4 ADVICE, medium): an abandoned attempt
    that wakes AFTER the retry committed the same snapshot id must not
    overwrite the retry's manifest with its smaller planned-file set."""
    from scones.lineage import StaleAttemptError

    monkeypatch.setattr(LineageStore, "COMPACT_THRESHOLD", 0)
    abandoned = LineageStore(str(tmp_path / "ckpt"))
    abandoned.fence_attempt()
    # the supervisor relaunches and retries: a NEW store, newer epoch
    retry = LineageStore(str(tmp_path / "ckpt"))
    retry.fence_attempt()
    big = _fake_rows(1) + [
        {
            "snapshot_id": 1,
            "src_file": "/in/late_arrival.parquet",
            "offset_start": 0,
            "offset_end": 7,
            "row_count": 1,
        }
    ]
    retry.commit(1, big)
    with pytest.raises(StaleAttemptError):
        abandoned.commit(1, _fake_rows(1))  # stale epoch: fenced out
    # the retry's (larger) manifest survives intact; no dupe re-admission
    assert retry.read_all().num_rows == 2
    assert retry.processed_files() == {
        "/in/f0001.parquet",
        "/in/late_arrival.parquet",
    }
    import glob as globmod

    assert not globmod.glob(str(tmp_path / "ckpt" / "lineage" / "*.tmp-*"))


def test_commit_refuses_overwrite_of_published_manifest(tmp_path, monkeypatch):
    """A published snapshot manifest is immutable: even an unfenced store
    (direct harness use) cannot silently replace it."""
    from scones.lineage import StaleAttemptError

    monkeypatch.setattr(LineageStore, "COMPACT_THRESHOLD", 0)
    store = LineageStore(str(tmp_path / "ckpt"))
    store.commit(1, _fake_rows(1))
    with pytest.raises(StaleAttemptError):
        store.commit(1, _fake_rows(1))
    assert store.read_all().num_rows == 1


def test_commit_link_failure_raises_and_publishes_nothing(tmp_path, monkeypatch):
    """Only "no hard links here" errnos fall back to rename; any other
    os.link failure (here ENOSPC) fails the commit with nothing published
    and no tmp debris."""
    import errno
    import glob as globmod

    def link_fails(code):
        def fake_link(src, dst):
            raise OSError(code, os.strerror(code))

        return fake_link

    monkeypatch.setattr(LineageStore, "COMPACT_THRESHOLD", 0)
    store = LineageStore(str(tmp_path / "ckpt"))
    monkeypatch.setattr(os, "link", link_fails(errno.ENOSPC))
    with pytest.raises(OSError) as exc:
        store.commit(1, _fake_rows(1))
    assert exc.value.errno == errno.ENOSPC
    assert store.read_all().num_rows == 0
    assert not globmod.glob(str(tmp_path / "ckpt" / "lineage" / "*"))

    monkeypatch.setattr(os, "link", link_fails(errno.EXDEV))
    store.commit(1, _fake_rows(1))  # rename fallback publishes
    assert store.committed_snapshots() == [1]


def test_manifest_compaction_end_to_end_resume_and_time_travel(spark, tmp_path):
    """Compaction under the real pipeline: snapshots land, manifest folds,
    resume stays a no-op and as-of reads are unchanged."""
    cfg = _cfg(tmp_path)
    for seed, n in ((1, 20), (2, 30), (3, 10)):
        write_corpus(str(tmp_path / "in" / f"wave{seed}"), n_docs=n, n_files=1, seed=seed)
        # input_glob must see the new wave
        cfg.input_glob = str(tmp_path / "in" / "*" / "*.parquet")
        run_snapshot(spark, cfg)
    store = LineageStore(cfg.checkpoint_dir)
    assert store.committed_snapshots() == [1, 2, 3]
    as_of_2_before = read_committed(
        spark, store, cfg.output_dir, as_of_snapshot=2
    ).count()
    store.compact_manifest()
    assert len(store._files()) == 1
    # resume: everything already consumed → no-op snapshot
    assert run_snapshot(spark, cfg)["snapshot_id"] is None
    # time travel unchanged through the fold
    assert (
        read_committed(spark, store, cfg.output_dir, as_of_snapshot=2).count()
        == as_of_2_before
        == 50
    )
    assert read_committed(spark, store, cfg.output_dir).count() == 60


def test_config_json_roundtrip(tmp_path):
    cfg = PipelineConfig(
        input_glob="/x/*.parquet",
        output_dir="/y",
        checkpoint_dir="/z",
        n_sinks=7,
        max_length=8192,
    )
    p = str(tmp_path / "cfg.json")
    cfg.to_json(p)
    back = PipelineConfig.from_json(p)
    assert back == cfg
    # an unknown key is rejected loudly, never silently dropped
    import json

    raw = json.load(open(p))
    raw["future_knob"] = True
    json.dump(raw, open(p, "w"))
    with pytest.raises(ValueError, match="future_knob"):
        PipelineConfig.from_json(p)


def test_static_fields_decoration_and_precedence(spark, tmp_path):
    """≈ config.go:41 fields + the reference's precedence rule: a static
    field named like a generated column overwrites it
    (file_reader.go:112-117)."""
    cfg = _cfg(tmp_path)
    cfg.static_fields = {"env": "prod", "host": "forced-host"}
    write_corpus(str(tmp_path / "in"), n_docs=20, n_files=1, seed=61)
    run_snapshot(spark, cfg)
    df = spark.read.parquet(str(tmp_path / "out" / "snapshot_id=1"))
    rows = df.select("env", "host").distinct().collect()
    assert rows == [
        r for r in rows if r.env == "prod" and r.host == "forced-host"
    ] and len(rows) == 1


def test_spread_defuses_hot_host_skew(spark, tmp_path):
    """Zipfian corpus: hot.example.org carries ≥20% of rows.  The
    routed-write repartition key (sink_id, crc32(url)%spread) must keep
    the max partition near the mean — no single-reducer hot spot."""
    from scones.route import with_sink_id

    write_corpus(str(tmp_path / "in"), n_docs=2000, n_files=4, seed=55)
    df = spark.read.parquet(str(tmp_path / "in") + "/*.parquet")
    from scones.route import spread_expr

    n_sinks, spread = 4, 4
    routed = with_sink_id(df.select("url"), n_sinks).repartition(
        n_sinks * spread,
        F.col("sink_id"),
        spread_expr("url", spread),
    )
    # Key-level balance: no (sink, spread) shuffle KEY is hot — the hot
    # host's rows scatter across spread keys by url hash.  (Bucket-level
    # counts additionally vary by generic hash collisions of 16 keys
    # into 16 buckets — that's a property of hash partitioning, not of
    # the data; at scale spread is sized so keys >> collisions matter.)
    combo = routed.groupBy("sink_id", spread_expr("url", spread).alias("sp"))
    sizes = [r.n for r in combo.agg(F.count("*").alias("n")).collect()]
    mean = sum(sizes) / len(sizes)
    assert len(sizes) == n_sinks * spread, "missing shuffle keys"
    assert max(sizes) <= 1.5 * mean, f"hot key: {max(sizes)} vs mean {mean}"
    part_sizes = [
        r.n
        for r in routed.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(part_sizes) >= n_sinks * spread * 0.6, "partitions underused"

    # contrast: repartition by host alone WOULD concentrate the hot host
    from scones.enrich import with_host

    byhost = with_host(df.select("url")).repartition(n_sinks * spread, "host")
    hsizes = [
        r.n
        for r in byhost.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert max(hsizes) > 2.5 * (sum(hsizes) / max(len(hsizes), 1)), (
        "corpus not skewed enough to make the test meaningful"
    )
