"""The on-disk layout, and the one place the driver lists a configured path.

Routed output and side tables are ``<root>/snapshot_id=N/`` dirs holding
``key=value/*.parquet`` parts (``sink_id=K``, ``band=B``) or flat ones.
Every listing resolves its path with :func:`_local_path`, so a path on
another filesystem raises instead of listing as empty.  Like the
reference, the input is globbed once per cycle and each file statted
once (supervisor.go:253-282, 308-313).  ``LineageStore`` lists its own
``lineage/`` dir, whose format it owns.
"""

from __future__ import annotations

import glob
import os
import re
from typing import NamedTuple

import pyarrow.parquet as pq

_URI_SCHEME = re.compile(r"([A-Za-z][A-Za-z0-9+.-]*):/")


def _local_path(knob: str, value: str) -> str:
    """``value`` as a local path: a ``file:`` URI loses its scheme, and
    any other scheme raises (the driver's file calls would see nothing
    there, and a snapshot would commit zero-row lineage for rows that
    landed)."""
    m = _URI_SCHEME.match(value)
    if m is None:
        return value
    if m.group(1).lower() == "file":
        rest = value[m.end() - 1 :]
        if rest.startswith("//"):  # file://host/path: only this host
            host, _, path = rest[2:].partition("/")
            if host in ("", "localhost"):
                return "/" + path
        else:
            return rest
    raise ValueError(
        f"{knob}={value!r}: only local paths and file:// URIs on this "
        "host are supported; the driver lists, links and audits this "
        "path with local file calls, which find nothing elsewhere"
    )


def snapshot_dir(root: str, snapshot_id: int) -> str:
    """The dir of snapshot ``snapshot_id`` under ``root``."""
    return os.path.join(root, f"snapshot_id={snapshot_id}")


def snapshot_dirs(root: str, ids=None, suffix: str = "") -> dict[int, str]:
    """The ``snapshot_id=N<suffix>`` dirs under ``root`` from one scan of
    it, as N → path: every one in id order, or those of ``ids`` in their
    order.  Empty when ``root`` does not exist."""
    dirs = {}
    try:
        with os.scandir(_local_path("dir", root)) as it:
            for e in it:
                m = re.fullmatch(rf"snapshot_id=(\d+){re.escape(suffix)}", e.name)
                if m and e.is_dir():
                    dirs[int(m.group(1))] = e.path
    except FileNotFoundError:
        pass
    return {i: dirs[i] for i in (sorted(dirs) if ids is None else ids) if i in dirs}


def list_inputs(input_glob: str) -> dict[str, int]:
    """The input files: one glob of ``input_glob`` and one stat per file
    found, as path → size in path order.  A file deleted between the
    glob and its stat is left out."""
    sizes = {}
    for path in sorted(glob.glob(_local_path("input_glob", input_glob))):
        try:
            sizes[path] = os.stat(path).st_size
        except OSError:
            continue
    return sizes


class Part(NamedTuple):
    """A parquet part; ``value`` is its partition value, None when flat."""

    value: str | None
    path: str
    size: int
    mtime: float


def list_parts(path: str) -> list[Part]:
    """The parquet parts of a snapshot or side-table dir in path order,
    from one scan of it and of each ``key=value`` subdir (so not
    ``_temporary``); non-parquet files (``_SUCCESS``, ``.crc``) are skipped."""
    parts = []

    def scan(d: str, value: str | None) -> None:
        with os.scandir(d) as it:
            for e in it:
                if e.is_dir():
                    if value is None and "=" in e.name:
                        scan(e.path, e.name.split("=", 1)[1])
                elif e.name.endswith(".parquet"):
                    st = e.stat()
                    parts.append(Part(value, e.path, st.st_size, st.st_mtime))

    scan(_local_path("dir", path), None)
    return sorted(parts, key=lambda p: p.path)


def part_batches(paths: list[str], columns: list[str]):
    """Record batches of ``columns`` from each part of ``paths``, one at
    a time: an audit reads what the snapshot core listed, never a dir."""
    for path in paths:
        with pq.ParquetFile(path) as f:
            yield from f.iter_batches(columns=columns)


def count_landed(snap_dir: str, n_sinks: int) -> tuple[list[str], dict]:
    """What landed in a written snapshot, from one listing of its
    ``sink_id=K`` dirs: the part paths (empty when no part landed) and
    the counters ``sink_rows`` from each part's footer, ``sink_bytes``
    and ``written_at`` (the newest mtime) from its listing, lists
    indexed by sink id.

    An all-empty snapshot (every planned input had zero rows) writes
    only _SUCCESS; telling that apart from a failed or unreadable write
    must be this explicit listing, not an exception guess.  A row with
    a null url routes to a null sink, which Spark writes under
    ``sink_id=__HIVE_DEFAULT_PARTITION__``: its parts count as landed,
    so the audit commits them, but in no sink's counters.
    """
    rows, nbytes, written_at = [0] * n_sinks, [0] * n_sinks, [0.0] * n_sinks
    parts = list_parts(snap_dir)
    for p in parts:
        if not (p.value or "").isdigit():
            continue  # the null sink
        k = int(p.value)
        rows[k] += pq.read_metadata(p.path).num_rows
        nbytes[k] += p.size
        written_at[k] = max(written_at[k], p.mtime)
    counters = {"sink_rows": rows, "sink_bytes": nbytes, "written_at": written_at}
    return [p.path for p in parts], counters
