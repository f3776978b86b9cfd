"""Storage-interface contract: the Iceberg swap seam.

The sandbox has no iceberg-spark-runtime jar, so the snapshot store is
the self-managed parquet manifest in scones/lineage.py.  That module's
docstring promises the interface is "deliberately thin so
format('iceberg') drops in" — this test PINS that surface (round-3
verdict item 7): an Iceberg-backed implementation must be able to
replace LineageStore + the module functions without touching callers.

Contract surface (what a swap must provide):
  * plan(ning):   plan_new_files(store, input_glob) -> list[str]
  * commit:       store.commit(snapshot_id, rows, run) — atomic publish of
                  the lineage rows and the snapshot's run row
  * read:         read_committed(spark, store, output_dir, as_of_snapshot)
  * vacuum:       vacuum_orphans(store, output_dir) -> removed paths
  * maintenance:  store.compact_manifest() — fold metadata, O(1) planning
  * metadata:     committed_snapshots / processed_files / next_snapshot_id
                  / runs
"""

import inspect
import os

from scones import lineage
from scones.lineage import LineageStore, plan_new_files, read_committed, vacuum_orphans


def _params(fn) -> list[str]:
    return list(inspect.signature(fn).parameters)


def test_module_surface_pinned():
    """The exact names + parameter orders callers depend on.  If this
    test needs editing, the Iceberg swap is no longer drop-in — change
    the callers in the same commit."""
    assert _params(plan_new_files) == ["store", "input_glob"]
    assert _params(read_committed) == [
        "spark",
        "store",
        "output_dir",
        "as_of_snapshot",
    ]
    assert _params(vacuum_orphans) == ["store", "output_dir"]
    assert _params(lineage.lineage_rows_for) == [
        "landed",
        "snapshot_id",
        "planned_files",
    ]
    assert _params(lineage.backlog_report) == ["store", "input_glob"]

    store_methods = {
        "commit": ["self", "snapshot_id", "rows", "run"],
        "committed_snapshots": ["self"],
        "runs": ["self"],
        "processed_files": ["self"],
        "next_snapshot_id": ["self"],
        "read_all": ["self", "columns"],
        "compact_manifest": ["self"],
    }
    for name, params in store_methods.items():
        assert _params(getattr(LineageStore, name)) == params, name


def test_lineage_row_shape_pinned():
    """The per-file lineage row is the checkpoint contract from
    BASELINE.json / SURVEY.md §1: (snapshot_id, src_file, offset_start,
    offset_end, row_count).  Iceberg's swap maps these onto snapshot
    summary + data-file entries; the column set must not drift."""
    assert lineage.LINEAGE_SCHEMA.names == [
        "snapshot_id",
        "src_file",
        "offset_start",
        "offset_end",
        "row_count",
    ]


def test_commit_publish_is_atomic_and_crash_clean(tmp_path, monkeypatch):
    """commit() must leave either the published manifest or nothing —
    never a partial file a reader could see (the ACK semantics,
    lumberjack/client.go:124-136)."""
    monkeypatch.setattr(LineageStore, "COMPACT_THRESHOLD", 0)
    store = LineageStore(str(tmp_path / "ckpt"))
    store.commit(
        1,
        [
            {
                "snapshot_id": 1,
                "src_file": "/in/a.parquet",
                "offset_start": 0,
                "offset_end": 10,
                "row_count": 1,
            }
        ],
    )
    names = sorted(os.listdir(store.dir))
    assert names == ["snapshot_000000000001.parquet"]  # no tmp debris
    assert store.committed_snapshots() == [1]


def test_reader_sees_only_committed_state(spark, tmp_path):
    """read_committed must return None before any commit and ignore
    snapshot directories with no manifest entry (the crashed-writer
    window) — the effectively-once guarantee downstream readers buy."""
    store = LineageStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    assert read_committed(spark, store, out) is None

    # a complete-looking but UNCOMMITTED snapshot dir must stay invisible
    uncommitted = os.path.join(out, "snapshot_id=7", "sink_id=0")
    os.makedirs(uncommitted)
    spark.range(5).write.mode("overwrite").parquet(uncommitted)
    assert read_committed(spark, store, out) is None

    # vacuum reclaims exactly that orphan
    removed = vacuum_orphans(store, out)
    assert removed == [os.path.join(out, "snapshot_id=7")]
    assert not os.path.exists(os.path.join(out, "snapshot_id=7"))
