"""Output maintenance: compact a committed snapshot's small files.

At production scale a snapshot written by many tasks leaves many small
parquet parts per sink (especially with ``spread_partitions`` defusing
skew); readers then pay per-file open/footer costs.  Compaction
rewrites one snapshot directory into ~``target_bytes`` files per sink
and swaps it in place.  The snapshot ID stays the commit unit — lineage
rows reference the snapshot, not its part files, so the audit trail is
untouched (the same contract that lets Iceberg's rewrite-data-files
action run under readers; on an object store the swap would be a
metadata commit instead of two renames).

Safety: the rewrite lands in a sibling ``.compacting`` directory, its
row count is verified against the source, and only then is the swap
performed.  A crash before the swap leaves the original untouched; the
stale ``.compacting``/``.old`` dirs are cleaned on the next call.
"""

from __future__ import annotations

import glob as globmod
import math
import os
import shutil

from pyspark.sql import SparkSession

from .lineage import LineageStore


def _dir_stats(snap_dir: str) -> tuple[int, int]:
    """(total parquet bytes, parquet file count) under a snapshot dir."""
    total = count = 0
    for root, _, fnames in os.walk(snap_dir):
        for f in fnames:
            if f.endswith(".parquet"):
                count += 1
                total += os.path.getsize(os.path.join(root, f))
    return total, count


def _dir_rows(snap_dir: str) -> int:
    """Exact row count from parquet footers — metadata only, no Spark job."""
    import pyarrow.parquet as pq

    n = 0
    for root, _, fnames in os.walk(snap_dir):
        for f in fnames:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


def compact_snapshot(
    spark: SparkSession,
    output_dir: str,
    snapshot_id: int,
    target_bytes: int = 128 << 20,
) -> dict:
    """Rewrite ``snapshot_id=N`` into ≈``target_bytes`` files per sink.

    Each sink is rewritten by its OWN job with ``repartition(k)`` where
    ``k = ceil(sink_bytes / target_bytes)`` — keyless round-robin, so the
    k output files are evenly sized and ``target_bytes`` actually bounds
    file size within every sink.  (Round-3 advice: a single
    ``repartition(n, 'sink_id')`` hash-partitions on the sink key alone,
    which lands ALL of a sink's rows in one partition — n never splits a
    sink, and a large sink becomes one unbounded single-task file.)
    Per-sink jobs also need no knowledge of the payload schema, so the
    same code compacts documents/WARC/JSONL and tail-mode snapshots.

    Returns {"files_before", "files_after", "rows", "bytes"}.
    """
    snap = os.path.join(output_dir, f"snapshot_id={snapshot_id}")
    tmp = snap + ".compacting"
    old = snap + ".old"
    # Crash recovery BEFORE debris cleanup: a death between the two swap
    # renames leaves old/ (the original) but no snap/ — old and tmp are
    # then the only copies of committed data, and blind cleanup would
    # delete both (round-4 review finding).  Restore the original first;
    # the interrupted rewrite is discarded and simply redone.
    if os.path.isdir(old) and not os.path.isdir(snap):
        os.rename(old, snap)
    for stale in (tmp, old):  # crash debris from a prior attempt
        shutil.rmtree(stale, ignore_errors=True)

    total, files_before = _dir_stats(snap)
    rows_before = _dir_rows(snap)

    os.makedirs(tmp, exist_ok=True)  # an all-empty snapshot still swaps
    sink_dirs = sorted(globmod.glob(os.path.join(snap, "sink_id=*")))

    def rewrite_sink(sink_dir: str) -> None:
        sink_name = os.path.basename(sink_dir)
        sink_bytes, _ = _dir_stats(sink_dir)
        k = max(1, math.ceil(sink_bytes / max(target_bytes, 1)))
        spark.read.parquet(sink_dir).repartition(k).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, sink_name))

    # Per-sink jobs submitted CONCURRENTLY (Spark's scheduler interleaves
    # them) so many-sink snapshots are not serialized into n_sinks
    # sequential job waves; the row-count audit reads parquet footers —
    # no Spark job at all (round-4 review finding).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, max(1, len(sink_dirs)))) as ex:
        list(ex.map(rewrite_sink, sink_dirs))
    rows_after = _dir_rows(tmp)
    if rows_after != rows_before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row mismatch: {rows_before} -> {rows_after}"
        )
    os.rename(snap, old)
    os.rename(tmp, snap)
    shutil.rmtree(old, ignore_errors=True)
    _, files_after = _dir_stats(snap)
    return {
        "snapshot_id": snapshot_id,
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows_after,
        "bytes": total,
    }


def main() -> None:  # pragma: no cover — CLI entry point
    import argparse

    from .session import get_spark

    p = argparse.ArgumentParser(
        description="compact a committed snapshot / consolidate dedup indexes"
    )
    p.add_argument("--output-dir")
    p.add_argument("--snapshot-id", type=int)
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument(
        "--consolidate-indexes",
        metavar="CHECKPOINT_DIR",
        help="fold per-snapshot band/fp/bloom index dirs into one",
    )
    a = p.parse_args()
    spark = get_spark(app_name="scones-maintenance")
    if a.consolidate_indexes:
        print(consolidate_indexes(spark, a.consolidate_indexes))
        return
    if not a.output_dir or a.snapshot_id is None:
        p.error("--output-dir and --snapshot-id required for compaction")
    print(
        compact_snapshot(
            spark, a.output_dir, a.snapshot_id, a.target_mb << 20
        )
    )


def consolidate_indexes(
    spark: SparkSession, checkpoint_dir: str, lock_timeout_sec: float = 600.0
) -> dict:
    """Fold the per-snapshot dedup-index side tables (band_index /
    fp_index / bloom_index, one ``snapshot_id=N`` dir per snapshot) of
    the committed snapshots into ONE dir under the HIGHEST of them —
    the same fold trick as the lineage manifest: probes list dirs by
    committed id and skip missing ones, so a consolidated dir under
    max(N) containing the union of 1..N rows answers every probe
    identically while day-N read cost drops from N directory opens to
    one.  Bloom words merge by bit_or
    (filters compose by OR).

    Safety mirrors :func:`compact_snapshot`: the union lands in a
    sibling ``.consolidating`` dir, row counts (band/fp) or the full
    word map (bloom — ≤ m/63 rows, metadata-scale) are verified against
    the sources, and only then are the source dirs removed and the
    consolidated dir renamed in.  A crash before the swap leaves every
    original untouched.
    """
    from .incremental import (
        BAND_INDEX_SUBDIR,
        BLOOM_INDEX_SUBDIR,
        FP_INDEX_SUBDIR,
        index_lock,
        merge_blooms,
    )

    # EXCLUSIVE index lock (round-5 ADVICE): the swap below momentarily
    # removes the snapshot_id=max dir and later rmtree's source dirs; a
    # concurrent update_index_and_probe (which holds the lock SHARED)
    # would otherwise silently skip the committed index mid-swap or plan
    # a read under a directory being deleted.
    with index_lock(checkpoint_dir, exclusive=True, timeout_sec=lock_timeout_sec):
        return _consolidate_indexes_locked(spark, checkpoint_dir)


def _consolidate_indexes_locked(
    spark: SparkSession, checkpoint_dir: str
) -> dict:
    from .incremental import (
        BAND_INDEX_SUBDIR,
        BLOOM_INDEX_SUBDIR,
        FP_INDEX_SUBDIR,
        merge_blooms,
    )

    committed = LineageStore(checkpoint_dir).committed_snapshots()
    out: dict = {}
    for sub, kind in (
        (BAND_INDEX_SUBDIR, "band"),
        (FP_INDEX_SUBDIR, "fp"),
        (BLOOM_INDEX_SUBDIR, "bloom"),
    ):
        root = os.path.join(checkpoint_dir, sub)
        if not os.path.isdir(root):
            continue
        # crash recovery FIRST (compact_snapshot recipe): a death
        # between the two swap renames leaves old/ but no target/ —
        # restore before any cleanup, else the max-id index is lost.
        for old in globmod.glob(os.path.join(root, "snapshot_id=*.old")):
            if not os.path.isdir(old[: -len(".old")]):
                os.rename(old, old[: -len(".old")])
        # only committed snapshots' indexes fold: an uncommitted dir (a
        # crashed attempt's) is rewritten by its rerun and stays put
        paths = [
            p
            for i in committed
            if os.path.isdir(p := os.path.join(root, f"snapshot_id={i}"))
        ]
        if len(paths) < 2:
            out[kind] = 0
            continue
        target = paths[-1]
        tmp = os.path.join(root, ".consolidating")
        old = target + ".old"
        for stale in (tmp, old):
            shutil.rmtree(stale, ignore_errors=True)

        # Unions DEDUPLICATE: a crash between the target swap and the
        # source prune (below) leaves sources whose rows are already in
        # the consolidated target — the next run must not double them.
        # (bloom's bit_or is idempotent by nature.)
        if kind == "bloom":
            merged = merge_blooms(spark, *paths)
            expected = {
                (r["widx"], r["bits"]) for r in merged.collect()
            }  # ≤ m/63 rows — metadata-scale
            merged.write.mode("overwrite").parquet(tmp)
            got = {
                (r["widx"], r["bits"])
                for r in spark.read.parquet(tmp).collect()
            }
            if got != expected:
                raise RuntimeError("bloom consolidation verify failed")
        else:
            union = spark.read.parquet(paths[0])
            for p in paths[1:]:
                union = union.unionByName(spark.read.parquet(p))
            union = union.dropDuplicates()
            expected_rows = union.count()
            if kind == "band":
                (
                    union.repartition("band")
                    .write.mode("overwrite")
                    .partitionBy("band")
                    .parquet(tmp)
                )
            else:
                union.write.mode("overwrite").parquet(tmp)
            if _dir_rows(tmp) != expected_rows:
                raise RuntimeError(f"{kind} consolidation verify failed")

        # PROMOTE the consolidated dir into the target name first
        # (swap with .old recovery), and only THEN prune the other
        # sources — no source is deleted before a dir containing its
        # rows is durably in place, so a crash at ANY point leaves a
        # probe-correct state (worst case: duplicated rows that the
        # next run's dropDuplicates folds away).
        os.rename(target, old)
        os.rename(tmp, target)
        shutil.rmtree(old, ignore_errors=True)
        for p in paths:
            if p != target:
                shutil.rmtree(p)
        out[kind] = len(paths)
    return out
if __name__ == "__main__":  # pragma: no cover
    main()
