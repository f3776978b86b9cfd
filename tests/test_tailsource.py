"""Raw log tail source: byte-offset incremental framing of growing files.

Ports the reference's end-to-end semantics (supervisor_test.go:12-52,
file_reader_test.go golden numbers) to the Spark tail source.
"""

import pytest

from scones import tailsource
from scones.lineage import LineageStore
from scones.tailsource import plan_tail_work, run_tail_snapshot

N_SINKS = 2


def _snap(spark, tmp_path, **kw):
    return run_tail_snapshot(
        spark,
        str(tmp_path / "logs" / "*.log"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_sinks=N_SINKS,
        **kw,
    )


def _lines(spark, tmp_path):
    df = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out") + "/snapshot_id=*"
    )
    return sorted(
        (r.src_file.rsplit("/", 1)[-1], bytes(r.line), r.hwm)
        for r in df.select("src_file", "line", "hwm")
        .where("line IS NOT NULL")  # drop offset-advance sentinels
        .collect()
    )


def test_basic_log_golden(spark, tmp_path):
    (tmp_path / "logs").mkdir()
    (tmp_path / "logs" / "basic.log").write_bytes(b"line1\nline2\n")
    s = _snap(spark, tmp_path)
    assert s["lines"] == 2
    assert _lines(spark, tmp_path) == [
        ("basic.log", b"line1", 6),
        ("basic.log", b"line2", 12),
    ]
    # fully consumed → skipped (size <= hwm, supervisor.go:308-313)
    assert _snap(spark, tmp_path)["snapshot_id"] is None


def test_growing_file_resumes_mid_file(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "app.log"
    f.write_bytes(b"line1\nline2\npartial")
    s1 = _snap(spark, tmp_path)
    assert s1["lines"] == 2

    # file GROWS: the partial line completes + a CRLF line + new partial
    with open(f, "ab") as fh:
        fh.write(b" done\nwindows\r\nnew partial")
    s2 = _snap(spark, tmp_path)
    assert s2["lines"] == 2
    assert _lines(spark, tmp_path) == [
        ("app.log", b"line1", 6),
        ("app.log", b"line2", 12),
        ("app.log", b"partial done", 25),
        ("app.log", b"windows", 34),
    ]
    # the trailing partial is still unconsumed → file stays planned
    store = LineageStore(str(tmp_path / "ckpt"))
    assert plan_tail_work(store, str(logs / "*.log")) == [(str(f), 34)]


def test_max_length_skip_but_advance(spark, tmp_path):
    (tmp_path / "logs").mkdir()
    (tmp_path / "logs" / "long.log").write_bytes(b"long line\nline2\n")
    s = _snap(spark, tmp_path, max_length=8)
    assert s["lines"] == 1
    # golden: position 16 after skipping the 10-byte long line
    assert _lines(spark, tmp_path) == [("long.log", b"line2", 16)]


def test_crash_between_write_and_commit_resumes_exactly(
    spark, tmp_path, monkeypatch
):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_bytes(b"a1\na2\n")
    (logs / "b.log").write_bytes(b"b1\n")

    def crash(self, snapshot_id, rows):
        raise RuntimeError("injected crash between write and commit")

    with monkeypatch.context() as m, pytest.raises(
        RuntimeError, match="injected crash"
    ):
        m.setattr(LineageStore, "commit", crash)
        _snap(spark, tmp_path)
    # nothing committed → full replan, same snapshot id, no dupes
    s = _snap(spark, tmp_path)
    assert s["snapshot_id"] == 1 and s["lines"] == 3
    got = _lines(spark, tmp_path)
    assert got == [
        ("a.log", b"a1", 3),
        ("a.log", b"a2", 6),
        ("b.log", b"b1", 3),
    ]


def test_ranged_read_scales_with_appended_bytes(spark, tmp_path):
    """The Seek contract (supervisor.go:315): a snapshot over a grown file
    reads only the appended bytes, never the whole file."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "big.log"
    big = b"x" * 99 + b"\n"
    f.write_bytes(big * 10_000)  # ~1 MB
    s1 = _snap(spark, tmp_path)
    assert s1["lines"] == 10_000
    assert s1["bytes_read"][str(f)] == 1_000_000

    with open(f, "ab") as fh:
        fh.write(b"tail line one\ntail line two\n")
    s2 = _snap(spark, tmp_path)
    assert s2["lines"] == 2
    # ranged read: 28 appended bytes cost 28 bytes of I/O, not 1 MB
    assert s2["bytes_read"][str(f)] == 28


def test_skipped_trailing_lines_advance_committed_offset(spark, tmp_path):
    """Over-long lines at the END of the new bytes must still advance the
    committed offset (the reference advances its BoltDB HWM past skipped
    lines) — otherwise the file is re-read and re-skipped forever."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "skip.log"
    f.write_bytes(b"ok\n" + b"very long skipped line\n")
    s1 = _snap(spark, tmp_path, max_length=8)
    assert s1["lines"] == 1
    store = LineageStore(str(tmp_path / "ckpt"))
    # committed offset covers the skipped line: file is fully consumed
    assert plan_tail_work(store, str(logs / "*.log")) == []
    assert _snap(spark, tmp_path, max_length=8)["snapshot_id"] is None


def test_all_skipped_snapshot_still_commits_offset(spark, tmp_path):
    """A snapshot whose new bytes are ALL over-long lines emits zero data
    rows but must still commit the advance (sentinel row)."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "allskip.log"
    f.write_bytes(b"both lines are way too long\nand this one also is\n")
    s1 = _snap(spark, tmp_path, max_length=8)
    assert s1["lines"] == 0 and s1["snapshot_id"] == 1
    assert _lines(spark, tmp_path) == []  # sentinels filtered from data
    assert plan_tail_work(
        LineageStore(str(tmp_path / "ckpt")), str(logs / "*.log")
    ) == []
    # new real line after the skipped region frames from the right offset
    with open(f, "ab") as fh:
        fh.write(b"short\n")
    s2 = _snap(spark, tmp_path, max_length=8)
    assert s2["lines"] == 1
    assert _lines(spark, tmp_path) == [("allskip.log", b"short", 55)]


def test_multiple_files_and_new_file_discovery(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "one.log").write_bytes(b"x\n" * 50)
    s1 = _snap(spark, tmp_path)
    assert s1["lines"] == 50
    (logs / "two.log").write_bytes(b"y\n" * 30)  # glob discovers it
    s2 = _snap(spark, tmp_path)
    assert s2["lines"] == 30 and s2["files"] == [str(logs / "two.log")]
    # routing is deterministic and covers both sinks
    df = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out") + "/snapshot_id=*"
    )
    per_sink = {r.sink_id: r.n for r in df.groupBy("sink_id").count().withColumnRenamed("count", "n").collect()}
    assert sum(per_sink.values()) == 80 and len(per_sink) == N_SINKS


def test_range_split_framing_equals_single_unit(spark, tmp_path, monkeypatch):
    """Giant-file range splitting must be byte-exact vs one-unit framing:
    same lines, same hwms, same committed offset — across CRLF lines,
    skipped over-long lines, boundary-straddling lines, partial tail."""
    import random

    rng = random.Random(13)
    parts = []
    for i in range(400):
        kind = rng.randrange(4)
        if kind == 0:
            parts.append(f"line {i}\n".encode())
        elif kind == 1:
            parts.append(f"crlf line {i}\r\n".encode())
        elif kind == 2:
            parts.append(b"x" * rng.randrange(20, 60) + b"\n")  # skippable
        else:
            parts.append(f"{i}:".encode() + b"y" * rng.randrange(0, 15) + b"\n")
    blob = b"".join(parts) + b"partial tail without newline"

    def run_variant(tag, max_unit_bytes):
        monkeypatch.setattr(tailsource, "MAX_UNIT_BYTES", max_unit_bytes)
        d = tmp_path / tag
        (d / "logs").mkdir(parents=True)
        (d / "logs" / "big.log").write_bytes(blob)
        s = run_tail_snapshot(
            spark,
            str(d / "logs" / "*.log"),
            str(d / "out"),
            str(d / "ckpt"),
            n_sinks=N_SINKS,
            max_length=16,
        )
        df = spark.read.parquet(str(d / "out") + "/snapshot_id=*")
        lines = sorted(
            (bytes(r.line), r.hwm)
            for r in df.select("line", "hwm").where("line IS NOT NULL").collect()
        )
        store = LineageStore(str(d / "ckpt"))
        committed = max(
            r["offset_end"] for r in store.read_all().to_pylist()
        )
        return s["lines"], lines, committed

    base = run_variant("single", len(blob))
    for mrb in (64, 257, 1024):
        got = run_variant(f"ranged{mrb}", mrb)
        assert got == base, f"range split {mrb} diverged"


def test_range_split_parallelizes_one_file(spark, tmp_path):
    """A single file splits into multiple work units."""
    from scones.tailsource import split_work_units

    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "wide.log"
    f.write_bytes(b"z" * 9 + b"\n")
    units = split_work_units([(str(f), 0)], max_range_bytes=3)
    assert len(units) == 4
    assert units[0] == (str(f), 0, 3, True)
    assert units[-1] == (str(f), 9, 10, False)


def test_range_split_bytes_read_sums_all_units(spark, tmp_path, monkeypatch):
    """With range splitting, summary bytes_read must be the TOTAL I/O
    across a file's units (max-per-unit → sum-per-file), not one unit's
    max — two equal-sized middle units read identical byte counts and a
    bare per-file max silently under-reported (round-2 advice)."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "wide.log"
    line = b"q" * 9 + b"\n"
    f.write_bytes(line * 100)  # 1000 bytes
    monkeypatch.setattr(tailsource, "MAX_UNIT_BYTES", 250)  # 4 units of 250 bytes
    s = run_tail_snapshot(
        spark,
        str(logs / "*.log"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_sinks=N_SINKS,
    )
    assert s["lines"] == 100
    # every unit reads its 250-byte range; only boundary sync/straddle
    # overshoot may add a few bytes — never less than the file size and
    # never a single unit's 250
    assert s["bytes_read"][str(f)] >= 1000
    assert s["bytes_read"][str(f)] < 1100


def test_cli_tail_mode_splits_a_file_larger_than_a_unit(spark, tmp_path, monkeypatch):
    """The CLI's tail snapshot (``snapshot_fn_for_mode("tail")``) bounds
    every work unit by MAX_UNIT_BYTES: a 1000-byte file with the bound at
    250 is framed as several units, the lines equal the oracle framing,
    and the committed offset is the oracle's frame position."""
    from scones.config import PipelineConfig
    from scones.oracle import frame_bytes
    from scones.pipeline import snapshot_fn_for_mode

    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "wide.log"
    lines = (f"l{j:03d} ".encode() + b"v" * (j % 7) + b"\n" for j in range(200))
    blob = b"".join(lines)[:1000]  # ends in a partial line
    f.write_bytes(blob)
    monkeypatch.setattr(tailsource, "MAX_UNIT_BYTES", 250)
    cfg = PipelineConfig(
        str(logs / "*.log"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_sinks=N_SINKS,
        mode="tail",
    )
    s = snapshot_fn_for_mode("tail")(spark, cfg)
    want = frame_bytes(blob)
    assert s["lines"] == len(want.lines)

    df = spark.read.parquet(str(tmp_path / "out") + "/snapshot_id=*")
    assert df.select("unit_start").distinct().count() > 1
    got = sorted(
        (r.hwm, bytes(r.line))
        for r in df.select("hwm", "line").where("line IS NOT NULL").collect()
    )
    assert got == list(zip(want.hwms, want.lines))
    committed = LineageStore(str(tmp_path / "ckpt")).read_all().to_pylist()
    assert [r["offset_end"] for r in committed] == [want.position]


def test_assign_work_units_balanced_and_deterministic():
    """Greedy largest-first dealing: min(units, n_parts) groups, every unit
    in exactly one, no group heavier than the lightest by more than its
    own largest unit, and the same plan for any input order."""
    import random

    from scones.tailsource import assign_work_units

    rng = random.Random(7)
    units = [
        (f"/logs/f{i:02d}.log", 0, rng.randrange(1, 5000), True) for i in range(23)
    ]
    for n_parts in (1, 4, 8, 23, 64):
        groups = assign_work_units(units, n_parts)
        assert len(groups) == min(len(units), n_parts)
        assert sorted(u for g in groups for u in g) == sorted(units)
        loads = [sum(e - s for _, s, e, _ in g) for g in groups]
        for g, load in zip(groups, loads):
            assert load - min(loads) <= max(e - s for _, s, e, _ in g)
        assert assign_work_units(list(reversed(units)), n_parts) == groups
    assert assign_work_units([], 4) == []


def test_units_share_tasks_balanced_by_planned_bytes(spark, tmp_path, monkeypatch):
    """More units than cores: read_tail frames them in exactly
    min(units, defaultParallelism) partitions, each unit in one partition
    (the one assign_work_units picked), partitions balanced by planned
    bytes, and the lines equal the oracle framing of each file."""
    import random

    from pyspark.sql import functions as F

    from scones.oracle import frame_bytes
    from scones.tailsource import assign_work_units, read_tail, split_work_units

    rng = random.Random(29)
    logs = tmp_path / "logs"
    logs.mkdir()
    n_cores = spark.sparkContext.defaultParallelism
    work = []
    for i in range(n_cores + 1):
        f = logs / f"f{i:02d}.log"
        body = b"".join(
            f"{i}.{j} ".encode() + b"w" * rng.randrange(0, 40) + (b"\r\n" if j % 3 == 0 else b"\n")
            for j in range(rng.randrange(5, 120))
        )
        f.write_bytes(body + b"partial")
        work.append((str(f), 0))
    big = logs / "big.log"  # short lines: every 600-byte range owns a line
    big.write_bytes(b"".join(f"big {j}\n".encode() for j in range(500)))
    work.append((str(big), 0))
    max_unit_bytes = 600
    monkeypatch.setattr(tailsource, "MAX_UNIT_BYTES", max_unit_bytes)

    units = split_work_units(work, max_unit_bytes)
    assert sum(1 for u in units if u[0] == str(big)) > 1
    assert len(units) > n_cores

    df = read_tail(spark, work)
    assert df.rdd.getNumPartitions() == min(len(units), n_cores)

    rows = df.select(
        "src_file", "line", "hwm", "unit_start", F.spark_partition_id().alias("pid")
    ).collect()
    pids: dict[tuple[str, int], set[int]] = {}
    for r in rows:
        pids.setdefault((r.src_file, r.unit_start), set()).add(r.pid)
    planned = {(p, s): e - s for p, s, e, _ in units}
    assert set(pids) == set(planned)
    assert all(len(p) == 1 for p in pids.values())
    where = {k: next(iter(p)) for k, p in pids.items()}
    groups = assign_work_units(units, n_cores)
    assert where == {(p, s): g for g, grp in enumerate(groups) for p, s, _, _ in grp}

    loads: dict[int, list[int]] = {}
    for k, pid in where.items():
        loads.setdefault(pid, []).append(planned[k])
    lightest = min(sum(v) for v in loads.values())
    for sizes in loads.values():
        assert sum(sizes) - lightest <= max(sizes)

    for path, _ in work:
        with open(path, "rb") as fh:
            want = frame_bytes(fh.read())
        got = sorted(
            (r.hwm, bytes(r.line)) for r in rows if r.src_file == path and r.line is not None
        )
        assert got == list(zip(want.hwms, want.lines)), path


def test_tail_snapshot_reports_phase_walls(spark, tmp_path):
    """run_tail_snapshot reports the same plan/write/audit+commit phase
    walls as the documents snapshot."""
    (tmp_path / "logs").mkdir()
    (tmp_path / "logs" / "a.log").write_bytes(b"one\ntwo\n")
    s = _snap(spark, tmp_path)
    assert s["lines"] == 2
    walls = ("plan_sec", "write_sec", "audit_commit_sec")
    assert all(isinstance(s[k], float) and s[k] >= 0 for k in walls)


def test_partial_line_only_snapshot_is_a_noop(spark, tmp_path):
    """New bytes that hold no complete line commit nothing: a no-op
    summary, no lineage, no leftover snapshot directory.  The bytes are
    planned again, and once the newline lands snapshot 1 frames the
    whole line."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "a.log"
    f.write_bytes(b"partial line with no newline")
    s = _snap(spark, tmp_path)
    assert s["snapshot_id"] is None and s["lines"] == 0
    store = LineageStore(str(tmp_path / "ckpt"))
    assert store.committed_snapshots() == []
    assert not (tmp_path / "out" / "snapshot_id=1").exists()
    assert plan_tail_work(store, str(logs / "*.log")) == [(str(f), 0)]

    with open(f, "ab") as fh:
        fh.write(b"\n")
    s = _snap(spark, tmp_path)
    assert s["snapshot_id"] == 1 and s["lines"] == 1
    assert _lines(spark, tmp_path) == [("a.log", b"partial line with no newline", 29)]


def test_backlog_counts_a_growing_file_once(spark, tmp_path):
    """A file committed over two snapshots (0→12, then 12→30) reports the
    bytes it framed once: bytes_committed is the file's size, not the sum
    of its high-water marks, in the lineage report and in the served
    stats payload."""
    from scones.lineage import backlog_report
    from scones.statsserver import stats_payload

    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "a.log"
    f.write_bytes(b"line1\nline2\n")
    assert _snap(spark, tmp_path)["snapshot_id"] == 1
    with open(f, "ab") as fh:
        fh.write(b"line3\nline4\nline5\n")
    assert _snap(spark, tmp_path)["snapshot_id"] == 2

    glob = str(logs / "*.log")
    rep = backlog_report(LineageStore(str(tmp_path / "ckpt")), glob)
    assert rep["bytes_committed"] == 30
    assert rep["rows_committed"] == 5 and rep["snapshots"] == [1, 2]
    assert stats_payload(str(tmp_path / "ckpt"), glob)["backlog"] == rep
