"""Raw log-file tail source: byte-offset incremental reads of GROWING files.

This is the closest structural parity with the reference's actual loop:
``filepath.Glob`` discovery (supervisor.go:253-282), skip files whose
``size <= high-water mark`` (supervisor.go:308-313), ``Seek(hwm)`` and
frame forward (file_reader.go:57-93), record = {line, host, file, offset}
(file_reader.go:105-120), commit new offsets only after the sinks accept
the batch (supervisor.go:210-249).

The snapshot loop itself (plan → write → audit → commit) is the one core
in scones.pipeline; this module supplies its tail source,
:class:`TailSource`.  Spark-side: the driver plans (file, start, end)
work units from the lineage store and the file sizes observed at plan
time; the mapInArrow kernel OPENS AND SEEKS each file and reads only
``end - start`` bytes — the reference's ``Seek(hwm)`` contract
(supervisor.go:315).  A 10 GB log that grew by 2 MB costs 2 MB of I/O
per snapshot, not 10 GB (the round-1 ``binaryFile`` implementation
re-read the whole file; the bytes-read invariant is pinned in
tests/test_tailsource.py).  Framing keeps the exact reference
semantics: CRLF trim, skip-but-advance, partial-line rule.

Offset semantics (matches the reference's BoltDB HWM): the committed
``offset_end`` is the framed-byte position after the last COMPLETE line,
including lines skipped by max_length — a file whose new bytes are all
over-long lines still advances, so it is not re-read every snapshot.
Every emitted row carries ``frame_end`` (that position) and
``bytes_read`` (actual ranged-read cost); a file that framed zero
emittable lines but still advanced produces one sentinel row
(line IS NULL) so the advance can be committed.  Data readers filter
``line IS NOT NULL``.

Scale note: one snapshot's work units go to at most
``defaultParallelism`` tasks, balanced by planned bytes (``end - start``)
with a deterministic greedy assignment (:func:`assign_work_units`); each
unit is still framed by one sequential reader, as in the reference.
One task per unit would be simpler but is slow: every Python task pays a
fixed setup cost before it reads a byte, including
``importlib.invalidate_caches()`` in pyspark's worker setup, which on
CPython 3.11 re-reads the ``pyspark.zip`` directory for each of its
zipimporters (~0.14 s of CPU per task, measured on a 4-core host).  A
16-file tail on 4 cores ran 16 tasks; capping at 4 roughly halved the
snapshot's CPU time.  A file that grew by more than
:data:`MAX_UNIT_BYTES` is split into several (file, start, end) ranges
(see :func:`split_work_units`).
"""

from __future__ import annotations

import glob as globmod
import heapq
import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .lineage import LineageStore
from .pipeline import _run_snapshot

# Largest byte range one work unit frames.  A unit's lines become one Arrow
# batch, whose binary offsets are int32, so a unit must stay far under
# 2 GiB; 256 MiB also bounds one Python worker's read buffer.  A log that
# grew by more than this between snapshots is framed as several units.
MAX_UNIT_BYTES = 256 << 20

LINE_SCHEMA = (
    "src_file string, line binary, hwm bigint, line_no bigint, "
    "frame_end bigint, bytes_read bigint, unit_start bigint"
)


def plan_tail_work(store: LineageStore, input_glob: str) -> list[tuple[str, int]]:
    """(file, start_offset) units: new files start at 0; grown files at
    their committed high-water mark; fully-consumed files are skipped
    (size <= hwm — supervisor.go:308-313)."""
    lineage = store.read_all().to_pylist()
    hwm: dict[str, int] = {}
    for r in lineage:
        hwm[r["src_file"]] = max(hwm.get(r["src_file"], 0), r["offset_end"])
    work = []
    for path in sorted(globmod.glob(input_glob)):
        start = hwm.get(path, 0)
        if os.path.getsize(path) > start:
            work.append((path, start))
    return work


def split_work_units(
    work: list[tuple[str, int]], max_range_bytes: int
) -> list[tuple[str, int, int, bool]]:
    """(file, start, end, aligned) units, none longer than
    ``max_range_bytes``.

    A single multi-GB file parallelizes across tasks (the reference is
    strictly one reader per file).  Line
    ownership at boundaries follows the TextInputFormat rule: a line
    belongs to the unit containing its FIRST byte; a non-aligned unit
    scans forward past its first newline, and every unit reads past its
    end to finish its last straddling line — byte-exact equivalence with
    single-unit framing is pinned by tests/test_tailsource.py.

    ``aligned`` = start is a known line boundary (the committed hwm /
    file start); non-aligned units must newline-sync first.
    """
    units: list[tuple[str, int, int, bool]] = []
    for path, start in work:
        end = os.path.getsize(path)
        if end - start <= max_range_bytes:
            units.append((path, start, end, True))
            continue
        pos = start
        first = True
        while pos < end:
            units.append((path, pos, min(pos + max_range_bytes, end), first))
            pos += max_range_bytes
            first = False
    return units


def assign_work_units(
    units: list[tuple[str, int, int, bool]], n_parts: int
) -> list[list[tuple[str, int, int, bool]]]:
    """Deal work units into ``min(len(units), n_parts)`` groups balanced by
    planned bytes (``end - start``).

    Greedy largest-first: each unit goes to the group with the fewest
    planned bytes so far (lowest index on ties), so the plan is a pure
    function of the units.  When a group's last unit arrived that group
    was the lightest, so no group exceeds any other by more than its own
    largest unit.  Each group lists its units in (file, start) order.
    """
    n = min(len(units), n_parts)
    groups: list[list[tuple[str, int, int, bool]]] = [[] for _ in range(n)]
    lightest = [(0, g) for g in range(n)]  # heap of (planned bytes, group)
    for unit in sorted(units, key=lambda u: (u[1] - u[2], u[0], u[1])):
        load, g = heapq.heappop(lightest)
        groups[g].append(unit)
        heapq.heappush(lightest, (load + unit[2] - unit[1], g))
    return [sorted(g) for g in groups]


def read_tail(
    spark: SparkSession,
    work: list[tuple[str, int]],
    max_length: int = 0,
) -> DataFrame:
    """One row per newly-framed line across all work units, plus one
    sentinel row (line IS NULL) per unit whose frame advanced without
    emitting lines.

    The end offset is pinned at plan time (current size), so a file
    growing mid-job still yields a consistent snapshot; bytes past
    ``end`` are next snapshot's work.  A range longer than
    :data:`MAX_UNIT_BYTES` is split into several units (see
    :func:`split_work_units` for the boundary-ownership rule).

    The units are dealt into ``min(units, defaultParallelism)``
    partitions by :func:`assign_work_units`: partition ``i`` frames
    group ``i``, one unit after another, so a task's fixed Python setup
    cost is paid once per core rather than once per file.  The kernel
    yields one Arrow batch per unit, so a batch never holds more than
    one unit's lines (Arrow binary offsets are int32: ``MAX_UNIT_BYTES``
    bounds a unit's size).
    """
    units = split_work_units(work, MAX_UNIT_BYTES)
    groups = assign_work_units(units, spark.sparkContext.defaultParallelism)

    def frame_unit(
        path: str, start: int, end: int, aligned: bool
    ) -> pa.RecordBatch | None:
        """Frame one (file, start, end) unit into a LINE_SCHEMA batch, or
        None when no owned line completed inside it."""
        # the Seek contract: read ONLY the planned byte range (+1 sync byte
        # for non-aligned units, + overshoot to finish the straddling last
        # owned line)
        read_from = start if aligned else start - 1
        with open(path, "rb") as fh:
            fh.seek(read_from)
            buf = fh.read(end - read_from)
            # extend until the newline that terminates the line containing
            # byte end-1 (the straddler) is in view
            while buf.find(b"\n", max(end - read_from - 1, 0)) < 0:
                more = fh.read(1 << 20)
                if not more:
                    break
                buf += more
        cursor = 0
        if not aligned:
            # first owned line starts after the first newline at abs pos
            # >= start-1 (TextInputFormat ownership rule)
            nl0 = buf.find(b"\n")
            if nl0 < 0 or read_from + nl0 + 1 >= end:
                return None  # no line starts inside this unit
            cursor = nl0 + 1
        pos = read_from + cursor  # absolute framed position
        unit_start = pos
        lines: list[bytes | None] = []
        hwms: list[int] = []
        while read_from + cursor < end:
            nl = buf.find(b"\n", cursor)
            if nl < 0:
                break  # partial tail at EOF: not emitted
            raw_len = nl + 1 - cursor
            pos += raw_len
            if not (max_length > 0 and raw_len > max_length):
                lines.append(buf[cursor:nl].rstrip(b"\r\n"))
                hwms.append(pos)
            cursor = nl + 1
        frame_end = pos  # after last complete owned line
        line_nos = list(range(1, len(lines) + 1))
        if not lines:
            if frame_end == unit_start:
                return None  # nothing owned/complete in this unit
            # all-owned-lines-skipped: sentinel row carries the advance so
            # the offset still commits
            lines, hwms, line_nos = [None], [unit_start], [0]
        n = len(lines)
        return pa.RecordBatch.from_arrays(
            [
                pa.array([path] * n, pa.string()),
                pa.array(lines, pa.binary()),
                pa.array(hwms, pa.int64()),
                pa.array(line_nos, pa.int64()),
                pa.array([frame_end] * n, pa.int64()),
                pa.array([len(buf)] * n, pa.int64()),
                # planned unit start: the per-unit key for exact I/O
                # accounting when range splitting is on (two units of one
                # file can read identical byte counts, so bytes_read alone
                # can't identify a unit)
                pa.array([start] * n, pa.int64()),
            ],
            [
                "src_file",
                "line",
                "hwm",
                "line_no",
                "frame_end",
                "bytes_read",
                "unit_start",
            ],
        )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for gid in batch.column("id").to_pylist():
                for unit in groups[gid]:
                    out = frame_unit(*unit)
                    if out is not None:
                        yield out

    # one id per partition: range slicing puts id i in partition i
    ids = spark.range(0, len(groups), 1, numPartitions=max(len(groups), 1))
    return ids.mapInArrow(run, LINE_SCHEMA)


class TailSource:
    """Growing log files as a source of the snapshot core
    (:func:`scones.pipeline._run_snapshot`): work units from the committed
    high-water marks, lines framed by :func:`read_tail` and decorated
    with (host, line_str), routed by crc32(file@hwm), audited per unit.

    Honors ``n_sinks``, ``max_length`` and ``static_fields`` (the
    reference's per-record fields, file_reader.go:112-117).  A line has
    no url to join host metadata on, spread, dedup or score by, so
    ``host_meta_path``, ``spread_partitions``, ``dedup_index`` and
    ``lm_model_path`` are rejected.  :func:`plan_tail_work` is looked up
    at call time, so a wrapper installed on ``scones.tailsource`` sees
    every call.
    """

    mode = "tail"
    honors = frozenset({"n_sinks", "max_length", "static_fields"})
    audit_columns = frozenset(
        {"src_file", "line", "hwm", "frame_end", "bytes_read", "unit_start", "sink_id"}
    )

    def idle(self) -> dict:
        return {"lines": 0}

    def plan(self, store: LineageStore, input_glob: str) -> list[tuple[str, int]]:
        return plan_tail_work(store, input_glob)

    def read(
        self, spark: SparkSession, cfg: PipelineConfig, work: list[tuple[str, int]]
    ) -> DataFrame:
        lines = read_tail(spark, work, cfg.max_length)
        return lines.select(
            "src_file",
            "line",
            F.col("line").cast("string").alias("line_str"),
            "hwm",
            "line_no",
            "frame_end",
            "bytes_read",
            "unit_start",
            F.lit(os.uname().nodename).alias("host"),
        )

    def route(self, df: DataFrame, n_sinks: int):
        """The route key (src_file, hwm) is unique per line and a pure
        function of content+provenance — deterministic under retries,
        unlike the reference's competing-consumer chunk pickup."""
        key = F.concat("src_file", F.lit("@"), F.col("hwm").cast("string"))
        sink = F.pmod(F.crc32(F.encode(key, "utf-8")), F.lit(n_sinks))
        return df.withColumn("sink_id", sink.cast("int")), None

    def audit(self, written: DataFrame | None, snapshot_id: int, work):
        # exact I/O accounting with range splitting: bytes_read is constant
        # within a unit, so max-per-unit → sum-per-file is the total bytes
        # the snapshot actually read from that file (round-2 advice: a bare
        # per-file max reported one unit's cost when a file was split)
        agg = (
            []
            if written is None
            else written.groupBy("src_file", "unit_start")
            .agg(
                F.count(F.col("line")).alias("n"),  # sentinels don't count
                F.max("frame_end").alias("frame_end"),
                F.max("bytes_read").alias("bytes_read"),
            )
            .groupBy("src_file")
            .agg(
                F.sum("n").alias("n"),
                F.max("frame_end").alias("frame_end"),
                F.sum("bytes_read").alias("bytes_read"),
            )
            .collect()
        )
        starts = dict(work)
        # files whose new bytes framed nothing complete (only a partial
        # tail) emit no rows at all — no lineage row, replanned next
        # snapshot (the ranged read makes that re-plan cost just the
        # partial bytes)
        rows = [
            {
                "snapshot_id": snapshot_id,
                "src_file": r["src_file"],
                "offset_start": starts.get(r["src_file"], 0),
                "offset_end": int(r["frame_end"]),
                "row_count": int(r["n"]),
            }
            for r in agg
        ]
        return rows, {
            "lines": sum(r["row_count"] for r in rows),
            "files": [f for f, _ in work],
            "bytes_read": {r["src_file"]: int(r["bytes_read"]) for r in agg},
        }


def run_tail_snapshot(
    spark: SparkSession,
    input_glob: str,
    output_dir: str,
    checkpoint_dir: str,
    n_sinks: int = 2,
    max_length: int = 0,
) -> dict:
    """One incremental tail snapshot: frame new bytes → decorate
    (host, line_str) → route by crc32(file@hwm) → write → commit offsets.

    Returns the snapshot core's summary with ``lines``, ``files``,
    ``bytes_read`` (per file) and ``output``; ``{"snapshot_id": None,
    "lines": 0}`` when no complete new line landed."""
    cfg = PipelineConfig(
        input_glob,
        output_dir,
        checkpoint_dir,
        n_sinks=n_sinks,
        max_length=max_length,
        mode="tail",
    )
    return _run_snapshot(spark, cfg, TailSource())
