"""Run-metrics persistence + live statistics endpoint.

Parity with the reference's statistics surface: a global stats object
served as JSON over HTTP (statistics_server.go:16-39) reporting
per-client counters and per-file position vs snapshot_position
(statistics.go:34-75, 140-187).  The Spark-native equivalents:

  * per-run counters are PERSISTED as the run row each snapshot's
    lineage manifest carries (the reference's counters die with the
    process; ours commit with the snapshot they count).  Besides the
    ``observe()`` metrics and phase walls, a run row holds what landed in
    each sink: rows (part footers), bytes and newest mtime (part stats),
    counted once at commit;
  * the endpoint reads only the checkpoint store and the input: per sink
    it folds the run rows (the reference counts at send time and serves
    its counters as they stand); per file it lists the input on each GET
    (one glob, one stat per file found, as the reference ``os.Stat``s
    every file per request, statistics.go:140-159) against the committed
    offset — the gap is the unacked backlog.  It never lists the routed
    output and serves the newest :data:`RUNS_SERVED` run rows.  So
    ``bytes_sent`` is what a snapshot wrote: a later
    ``maintenance.compact_snapshot`` rewrite does not change it;
  * served by a stdlib ThreadingHTTPServer — no framework, runs next to
    the driver exactly like the reference's goroutine.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .lineage import LineageStore, file_report

# A run row's per-sink lists: folded into ``sinks``, not served per run.
SINK_FIELDS = ("sink_rows", "sink_bytes", "written_at")

#: how many of the newest run rows a poll serves (``sinks`` folds them all)
RUNS_SERVED = 64


def persist_run_metrics(summary: dict) -> dict:
    """Build the run row of one committed snapshot, the row
    :meth:`LineageStore.commit` publishes in the snapshot's manifest
    (read back with :meth:`LineageStore.runs`).

    ``summary`` is the snapshot core's return dict in any mode:
    documents / WARC / JSONL count ``rows`` and carry the observed
    ``payload_bytes`` / ``approx_urls``; tail counts ``lines`` (stored as
    ``rows``) and observes nothing (0).  Every mode carries what landed
    per sink: ``sink_rows``, ``sink_bytes`` and ``written_at`` (newest
    part mtime), lists indexed by sink id.
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
        **{f: list(summary.get(f, ())) for f in SINK_FIELDS},
    }


def _sink_counters(runs: list[dict]) -> dict[str, dict]:
    """Per-sink counters (statistics.go:34-45 ClientStatistics parity:
    status / rows sent / last send time / last chunk size), folded from
    the run rows in snapshot order.  A snapshot counts for sink K when a
    part landed there; a run row without sink fields adds nothing."""
    sinks: dict[int, dict] = {}
    for run in runs:
        counts = zip(*(run.get(f, ()) for f in SINK_FIELDS))
        for k, (n, nbytes, at) in enumerate(counts):
            if not nbytes:
                continue
            s = sinks.setdefault(
                k,
                {
                    "status": "idle",
                    "rows_sent": 0,
                    "bytes_sent": 0,
                    "last_send_time": 0.0,
                    "last_snapshot_id": 0,
                    "last_chunk_size": 0,
                },
            )
            s["rows_sent"] += n
            s["bytes_sent"] += nbytes
            s["last_send_time"] = max(s["last_send_time"], at)
            s["last_snapshot_id"] = run["snapshot_id"]
            s["last_chunk_size"] = n
    return {str(k): sinks[k] for k in sorted(sinks)}


def stats_payload(checkpoint_dir: str, input_glob: str) -> dict:
    """The JSON the endpoint serves (and tests assert against):
    {runs, files, sinks, backlog} — the reference's {clients, files}
    shape with Spark-native meanings.  ``files`` and ``backlog`` are
    :func:`scones.lineage.file_report`; ``sinks`` folds every run row;
    ``runs`` serves the newest :data:`RUNS_SERVED` of them without their
    per-sink lists (those would grow the JSON by snapshots × sinks)."""
    store = LineageStore(checkpoint_dir)
    runs = store.runs()
    files, backlog = file_report(store, input_glob)
    return {
        "runs": [
            {k: v for k, v in r.items() if k not in SINK_FIELDS}
            for r in runs[-RUNS_SERVED:]
        ],
        "files": files,
        "sinks": _sink_counters(runs),
        "backlog": backlog,
    }


class StatisticsServer:
    """Stdlib HTTP server: GET / → stats_payload JSON (statistics_server.go
    parity).  Runs on a daemon thread next to the driver; ``port=0``
    binds an ephemeral port (read it from ``.port``)."""

    def __init__(self, checkpoint_dir: str, input_glob: str, port: int = 0):
        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                body = json.dumps(stats_payload(checkpoint_dir, input_glob)).encode()
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
