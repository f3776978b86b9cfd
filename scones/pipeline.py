"""End-to-end pipeline wiring (≈ cmd/butteredscones/butteredscones.go:18-96).

Every ingest mode runs the one snapshot loop :func:`_run_snapshot` —
the reference's supervisor loop as one declarative DataFrame plan plus
driver-side bookkeeping:

    reject knobs the mode cannot honor and paths off this host
    → plan work from the lineage store             ≈ glob + HWM skip (O1/O2)
    → read + frame (mapInArrow)                    ≈ open + seek + frame (O3/O4/O5)
    → static fields                                ≈ decoration (O6)
    → sink_id route (+ observed metrics)           ≈ routing (O9), statistics (O14)
    → [spread repartition] + partitionBy(sink_id)  ≈ ship (O7/O8/O10)
    → list what landed (scones.layout), count per sink, audit → lineage rows
    → dedup index / LM scores (optional side tables)
    → publish lineage + the run row (one link)     ≈ ack + Bolt txn (O11/O14)

A mode plugs in a *source* with only what differs: ``plan``, ``read``,
``route``, ``audit`` (lineage rows + summary fields from the snapshot's
landed parts, read with pyarrow on the driver), the knobs it
``honors`` and the ``audit_columns`` no static field may overwrite —
:class:`_DocsSource` for documents / WARC / JSONL (honors every knob),
:class:`scones.tailsource.TailSource` for tail.

A snapshot runs only the Spark jobs its output needs: the write, plus
the host-meta broadcast when ``host_meta_path`` is set (and the side
tables' own when ``dedup_index`` or ``lm_model_path`` is).  Parquet
inputs are read with the schema of one footer, read on the driver (no
inference job), and the audit reads what landed on the driver.

Catalyst handles what the reference hand-built: the scan stage fuses
extract+enrich+route in one pass over the data (no materialization
between "operators"), AQE sizes the one shuffle, task retries replace the
retry channel (O12), the scheduler replaces the reader pool (O13).
"""

from __future__ import annotations

import argparse
import dataclasses
import functools
import os
import shutil
import signal
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import layout
from .config import PipelineConfig
from .enrich import enrich_broadcast, with_host
from .extract import extract_documents
from .footer import read_parquet
from .jsonl import read_jsonl
from .lineage import LineageStore, lineage_rows_for, plan_new_files
from .metrics import observed
from .route import spread_within_sinks, with_sink_id
from .session import get_spark
from .warc import read_warc

#: the data knobs of PipelineConfig: a source honors each one or rejects
#: a non-default value (the others drive the loop and apply to all modes)
KNOBS = (
    "host_meta_path",
    "n_sinks",
    "max_length",
    "spread_partitions",
    "static_fields",
    "dedup_index",
    "lm_model_path",
)
_DEFAULTS = PipelineConfig(input_glob="", output_dir="", checkpoint_dir="")


def _tune_input_splits(spark: SparkSession, files: list[str]) -> None:
    """Size parquet input splits to the cluster, not the file layout.

    Spark packs small files into splits of ``maxPartitionBytes`` (128 MB
    default): a snapshot whose input is small relative to the cluster
    would plan fewer splits than cores and leave most of them idle (the
    no-shuffle pipeline's write parallelism == scan parallelism).  Clamp
    the split size so the scan yields ≈1 split per core, never above
    the 128 MB default (at 100 TB the clamp is a no-op) and never below
    16 MB (tiny splits = per-task overhead).
    """
    total = sum(os.path.getsize(f) for f in files)
    open_cost = 256 << 10
    splits = max(spark.sparkContext.defaultParallelism, 1)
    # 16 MB floor: tasks smaller than that are dominated by fixed
    # per-task cost (python worker handshake, 1 parquet writer per sink,
    # zstd context) — measured 1.4x slower at bench scale.  128 MB
    # ceiling = the stock default, so at production scale this whole
    # function is a no-op.
    target = min(
        128 << 20,
        max(16 << 20, int((total + len(files) * open_cost) / splits)),
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    # openCostInBytes (4 MB default) would inflate small files past the
    # split budget and defeat the sizing
    spark.conf.set("spark.sql.files.openCostInBytes", str(open_cost))


def extract_and_enrich(
    spark: SparkSession, cfg: PipelineConfig, docs: DataFrame
) -> DataFrame:
    """(url, html, src_file, ...) documents → framed text + host fields."""
    df = extract_documents(docs, max_length=cfg.max_length)
    if cfg.host_meta_path:
        return enrich_broadcast(df, read_parquet(spark, [cfg.host_meta_path]))
    return with_host(df)


def build_snapshot_plan(
    spark: SparkSession, cfg: PipelineConfig, files: list[str]
) -> DataFrame:
    """The documents-mode rows for one snapshot over parquet ``files``:
    scan → extract → enrich, not yet decorated or routed (no job run)."""
    _tune_input_splits(spark, files)
    docs = (
        read_parquet(spark, files)
        .withColumn("src_file", F.col("_metadata.file_path"))
        .drop("text")  # generator-provided expectation; we produce our own
    )
    return extract_and_enrich(spark, cfg, docs)


class _DocsSource:
    """documents / WARC / JSONL: immutable files admitted whole, framed
    by the mapInArrow extract, routed by crc32(url).  ``read_docs(spark,
    files)`` yields raw (url, html, src_file, ...) rows; None = the
    parquet scan.  Module functions are looked up at call time, so a
    wrapper installed on ``scones.pipeline`` sees every call."""

    honors = frozenset(KNOBS)
    audit_columns = frozenset({"src_file", "bytes_read", "sink_id"})

    def __init__(self, mode: str, read_docs=None):
        self.mode = mode
        self.read_docs = read_docs

    def idle(self) -> dict:
        return {"files": [], "rows": 0}

    def plan(self, store: LineageStore, input_glob: str) -> list[str]:
        return plan_new_files(store, input_glob)

    def read(self, spark: SparkSession, cfg: PipelineConfig, files: list[str]):
        if self.read_docs is None:
            return build_snapshot_plan(spark, cfg, files)
        return extract_and_enrich(spark, cfg, self.read_docs(spark, files))

    def route(self, df: DataFrame, n_sinks: int):
        return observed(with_sink_id(df, n_sinks))

    def audit(self, landed: list[str], snapshot_id: int, files: list[str]):
        # zero-row planned files still get a consumed marker
        rows = lineage_rows_for(landed, snapshot_id, planned_files=files)
        shown = files if len(files) <= 8 else files[:3] + ["..."] + files[-1:]
        return rows, {"n_files": len(files), "files": shown}


#: the knobs that name a path the driver itself lists, reads, links or
#: writes (scones.layout's listings, os.link, pyarrow's local filesystem)
PATH_KNOBS = (
    "input_glob",
    "output_dir",
    "checkpoint_dir",
    "host_meta_path",
    "lm_model_path",
)


def _check_knobs(cfg: PipelineConfig, source) -> PipelineConfig:
    """Reject, before anything is planned or written, an out-of-range
    knob, a knob the source cannot honor, a static field that would
    overwrite a column the offset audit reads and a path knob on a
    filesystem other than the local one.  Returns ``cfg`` with its
    ``file://`` path knobs as plain paths."""
    cfg = dataclasses.replace(
        cfg,
        **{
            knob: layout._local_path(knob, value)
            for knob in PATH_KNOBS
            if (value := getattr(cfg, knob))
        },
    )
    # n_sinks < 1 would fail mid-write (pmod by zero) or route to sinks
    # the crc32 % n_sinks contract never names; a negative max_length or
    # spread_partitions would silently mean "off"
    for knob, low in (("n_sinks", 1), ("max_length", 0), ("spread_partitions", 0)):
        value = getattr(cfg, knob)
        if value < low:
            raise ValueError(f"{knob}={value!r} is out of range (must be >= {low})")
    for knob in KNOBS:
        value = getattr(cfg, knob)
        if knob not in source.honors and value != getattr(_DEFAULTS, knob):
            raise ValueError(f"{source.mode} mode does not honor {knob}={value!r}")
    clash = sorted(set(cfg.static_fields) & source.audit_columns)
    if clash:
        raise ValueError(
            f"{source.mode} mode: static_fields {clash} would overwrite "
            "columns the offset audit reads"
        )
    return cfg


def _side_tables(
    spark: SparkSession,
    cfg: PipelineConfig,
    store: LineageStore,
    snapshot_id: int,
    landed: list[str],
    schema,
) -> dict:
    """Dedup-index and LM-score hooks, run before the lineage commit so
    their output is durable once the snapshot counts as committed
    (deterministic overwrite ⇒ a crash-retry rewrites identical files).
    Both read the ``landed`` parts with the written frame's ``schema``."""
    info: dict = {}
    snap_dir = layout.snapshot_dir(cfg.output_dir, snapshot_id)
    written = spark.read.schema(schema).option("basePath", snap_dir).parquet(*landed)
    if cfg.dedup_index:
        # Cross-snapshot dedup: persist this snapshot's band index and
        # probe the committed indexes (scones/incremental.py).
        from .incremental import update_index_and_probe

        info.update(
            update_index_and_probe(
                spark,
                cfg.checkpoint_dir,
                cfg.output_dir,
                snapshot_id,
                written,
                committed_ids=store.committed_snapshots(),
                threshold=cfg.dedup_threshold,
            )
        )
    if cfg.lm_model_path:
        # External-LM quality scoring (CCNet shape): score this
        # snapshot's extracted text against the persisted model
        # (scones.textops.save_lm layout) into a per-doc perplexity side
        # table.  The model tables are vocab-sized (never corpus-sized);
        # unseen text scores via add-one smoothing.
        from .incremental import pipeline_doc_view
        from .textops import lm_perplexity, load_lm

        model = load_lm(spark, cfg.lm_model_path)
        scores = lm_perplexity(
            pipeline_doc_view(written, snapshot_id), model=model
        )
        scores_dir = layout.snapshot_dir(
            os.path.join(cfg.checkpoint_dir, "lm_scores"), snapshot_id
        )
        scores.write.mode("overwrite").parquet(scores_dir)
        info["lm_scores"] = scores_dir
        info["n_scored"] = int(spark.read.parquet(scores_dir).count())
    return info


def _run_snapshot(spark: SparkSession, cfg: PipelineConfig, source) -> dict:
    """The one snapshot loop every ingest mode runs (module docstring).

    Returns a summary dict: ``snapshot_id``, the source's audit fields,
    the observed metrics (documents modes), ``output`` and the phase
    walls; ``{"snapshot_id": None, ...}`` when there was nothing new to
    commit.  The run row is published inside the lineage manifest, so a
    process that dies anywhere leaves either an uncommitted snapshot
    (no manifest, no row; rerun under the same id) or a committed one
    with its row — the reference's crash-between-send-and-ack window,
    supervisor.go:191-219.
    """
    cfg = _check_knobs(cfg, source)
    t_start = time.perf_counter()
    store = LineageStore(cfg.checkpoint_dir)
    store.fence_attempt()  # fence out any abandoned watchdog attempt
    work = source.plan(store, cfg.input_glob)
    if not work:
        return {"snapshot_id": None, **source.idle()}
    snapshot_id = store.next_snapshot_id()

    df = source.read(spark, cfg, work)
    for k, v in cfg.static_fields.items():
        df = df.withColumn(k, F.lit(v))  # overwrites like the reference
    routed, obs = source.route(df, cfg.n_sinks)
    routed = spread_within_sinks(routed, cfg.n_sinks, cfg.spread_partitions)
    t_planned = time.perf_counter()

    snap_dir = layout.snapshot_dir(cfg.output_dir, snapshot_id)
    # extracted_str is derivable (cast(extracted as string)) — writing it
    # would double the payload bytes on every sink.
    out = routed.drop("html", "extracted_str")
    out.write.mode("overwrite").partitionBy("sink_id").parquet(snap_dir)
    t_written = time.perf_counter()

    # Lineage from the parts this one listing found (audit of what
    # actually landed).  The empty case is detected EXPLICITLY (an empty
    # write leaves only _SUCCESS): any read failure on a data-bearing
    # snapshot (transient FS error, corrupt footer) must propagate,
    # never silently commit empty lineage.
    landed, sinks = layout.count_landed(snap_dir, cfg.n_sinks)
    rows, fields = source.audit(landed, snapshot_id, work)
    if not rows:
        # nothing to commit (a tail whose new bytes hold no complete
        # line): no snapshot; the same bytes are planned again next time
        shutil.rmtree(snap_dir, ignore_errors=True)
        return {"snapshot_id": None, **source.idle()}
    side = {}
    if landed and (cfg.dedup_index or cfg.lm_model_path):
        side = _side_tables(spark, cfg, store, snapshot_id, landed, out.schema)

    summary = {"snapshot_id": snapshot_id, **fields, **sinks}
    if obs is not None:
        # an empty snapshot ran zero output tasks → no observed row
        m = obs.get if landed else {}
        summary["rows"] = int(m.get("rows", 0))
        summary["payload_bytes"] = int(m.get("payload_bytes") or 0)
        summary["approx_urls"] = int(m.get("approx_urls", 0))
    summary.update(
        output=snap_dir,
        # phase walls: plan (serial driver), write (the parallel job),
        # audit+commit (serial driver, up to the run row) — for the
        # Amdahl analysis in BENCH/BASELINE.md; at 10^12 rows the serial
        # phases are noise.
        plan_sec=t_planned - t_start,
        write_sec=t_written - t_planned,
        audit_commit_sec=time.perf_counter() - t_written,
        **side,
    )
    # durable counters (statistics.go parity) commit with the lineage
    # rows, in one publish; looked up at call time so a wrapper on
    # scones.statsserver sees it
    from .statsserver import persist_run_metrics

    store.commit(snapshot_id, rows, run=persist_run_metrics(summary))
    return summary


def run_snapshot(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """Process all not-yet-committed parquet input files as one snapshot.

    Returns a summary dict; ``{"snapshot_id": None}`` when nothing new.
    """
    return _run_snapshot(spark, cfg, source_for_mode("documents"))


# Every ingest mode :func:`snapshot_fn_for_mode` runs; the CLI's
# ``--mode`` choices come from here.
MODES = ("documents", "tail", "warc", "jsonl")


def source_for_mode(mode: str):
    """The source :func:`_run_snapshot` takes, one per name in :data:`MODES`."""
    if mode == "documents":
        return _DocsSource("documents")
    if mode == "warc":
        return _DocsSource("warc", read_warc)
    if mode == "jsonl":
        return _DocsSource("jsonl", read_jsonl)
    if mode == "tail":
        from .tailsource import TailSource

        return TailSource()
    raise ValueError(f"unknown pipeline mode: {mode!r}")


def snapshot_fn_for_mode(mode: str):
    """The per-mode snapshot runner, one per name in :data:`MODES`."""
    if mode == "documents":
        return run_snapshot
    return functools.partial(_run_snapshot, source=source_for_mode(mode))


def run_from_config(
    spark: SparkSession,
    cfg: PipelineConfig,
    stop_event=None,
    on_event=None,
    max_snapshots: int | None = None,
    max_iterations: int | None = None,
    sleep_fn=None,
):
    """Drive the pipeline entirely from a declarative config — mode,
    daemon-vs-one-shot, backoff/watchdog timings and the stats endpoint
    all come from ``cfg`` (config.go:13-42 parity: one JSON file is the
    whole deployment surface; CLI flags in :func:`main` merely override).

    Returns ``(summaries, stats_server_or_None)``; the caller owns
    stopping the server (it serves live state while the pipeline runs).
    A config the mode rejects raises ``ValueError`` here, before the
    server starts — the daemon would otherwise retry it forever.
    """
    cfg = _check_knobs(cfg, source_for_mode(cfg.mode))
    srv = None
    if cfg.stats_port is not None:
        from .statsserver import StatisticsServer

        srv = StatisticsServer(
            cfg.checkpoint_dir, cfg.input_glob, port=cfg.stats_port
        ).start()
        if on_event is not None:
            on_event(
                {
                    "event": "stats_endpoint",
                    "url": f"http://127.0.0.1:{srv.port}/",
                }
            )
    try:
        run_fn = snapshot_fn_for_mode(cfg.mode)
        if cfg.daemon:
            from .backoff import run_daemon

            kwargs = {} if sleep_fn is None else {"sleep_fn": sleep_fn}
            summaries = run_daemon(
                spark,
                cfg,
                run_fn=run_fn,
                retry_min_sec=cfg.retry_min_sec,
                retry_max_sec=cfg.retry_max_sec,
                poll_min_sec=cfg.poll_min_sec,
                poll_max_sec=cfg.poll_max_sec,
                snapshot_timeout_sec=cfg.snapshot_timeout_sec,
                jitter_frac=cfg.retry_jitter_frac,
                stop_event=stop_event,
                on_event=on_event,
                max_snapshots=max_snapshots,
                max_iterations=max_iterations,
                **kwargs,
            )
        else:
            summaries = [run_fn(spark, cfg)]
    except BaseException:
        # don't leak the listener thread + bound port to callers that
        # never receive the handle (library/test invocations)
        if srv is not None:
            srv.stop()
        raise
    return summaries, srv


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """The flags of both CLI entries: ``python -m scones.pipeline`` and
    the spark-submit entry (tools/submit_pipeline.py)."""
    p = argparse.ArgumentParser(description="scones pipeline (spark-submit)")
    p.add_argument("--config", required=True)
    p.add_argument(
        "--mode",
        choices=MODES,
        default=None,
        help="override the config's mode.  documents: parquet corpus "
        "snapshots; tail: raw log files with byte-offset resume (the "
        "reference's native mode); warc: Common-Crawl-style WARC shards "
        "(.warc/.warc.gz); jsonl: newline-delimited JSON shards "
        "(.jsonl/.jsonl.gz)",
    )
    p.add_argument(
        "--daemon",
        action=argparse.BooleanOptionalAction,
        default=None,
        help="run forever: retry failed snapshots with exponential "
        "backoff, back off idle polls, drain cleanly on SIGTERM/SIGINT "
        "(the reference's supervisor loop, supervisor.go:94-231); "
        "--no-daemon overrides a config that sets daemon: true — the "
        "override is symmetric like --mode/--stats-port",
    )
    p.add_argument(
        "--stats-port",
        type=int,
        default=None,
        help="serve the live statistics JSON endpoint on this port "
        "alongside the run (the reference starts its StatisticsServer "
        "next to the supervisor, cmd/butteredscones/butteredscones.go:65-75)",
    )
    p.add_argument(
        "--snapshot-timeout",
        type=float,
        default=None,
        help="hung-JVM watchdog: abandon a snapshot attempt after this "
        "many seconds, relaunch the SparkSession and retry under backoff",
    )
    return p.parse_args(argv)


def main(build_session=None) -> None:
    """The CLI body of both entries: flags over the config, then
    :func:`run_from_config`.  ``build_session()`` makes the session: by
    default :func:`scones.session.get_spark` (a local master sized from
    the host); the spark-submit entry passes one that leaves master and
    memory to the launcher."""
    a = parse_args()
    cfg = PipelineConfig.from_json(a.config)
    # CLI overrides on top of the declarative config
    if a.mode is not None:
        cfg.mode = a.mode
    if a.daemon is not None:
        cfg.daemon = a.daemon
    if a.stats_port is not None:
        cfg.stats_port = a.stats_port
    if a.snapshot_timeout is not None:
        cfg.snapshot_timeout_sec = a.snapshot_timeout
    stop = None
    if cfg.daemon:
        # install BEFORE the (slow) JVM launch: a TERM during startup
        # must also drain, not die mid-initialization
        stop = threading.Event()
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *_: stop.set())
    spark = build_session() if build_session else get_spark(app_name="scones-pipeline")
    summaries, srv = run_from_config(
        spark,
        cfg,
        stop_event=stop,
        on_event=lambda ev: print(ev, flush=True),
    )
    if not cfg.daemon:
        print(summaries[0])
    if srv is not None:
        srv.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
