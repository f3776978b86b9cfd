"""Structured Streaming flavor of the pipeline (SURVEY.md §2 O1, §7 step 5).

The reference's continuous tail loop — re-glob every 10-15 s, pick up new
files/bytes, ship, checkpoint (/root/reference/supervisor.go:56,253-282) —
maps onto Spark's file streaming source: each micro-batch discovers new
files, the engine's checkpoint (offset log + file-source seen-files log)
replaces the BoltDB high-water-mark store, and ``availableNow`` gives the
"drain everything then stop" batch-incremental mode the tests use (the
batch lineage table in lineage.py is the other, self-managed flavor).

The transformation plan is the SAME code the batch path uses
(extract → enrich → route) — one definition, two execution modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .enrich import with_host
from .incremental import bloom_mask, bloom_position, bloom_word
from .jsonl import JSONL_SCHEMA, project_jsonl
from .pipeline import _check_knobs, extract_and_enrich
from .route import with_sink_id

CORPUS_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_source(spark: SparkSession, input_dir: str, max_files: int = 16) -> DataFrame:
    """File-source stream over the corpus directory (≈ glob refresh).

    ``maxFilesPerTrigger`` bounds micro-batch size the way SpoolSize
    bounds the reference's chunks (supervisor.go:46).
    """
    return (
        spark.readStream.schema(CORPUS_DDL)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def stream_source_jsonl(
    spark: SparkSession, input_dir: str, max_files: int = 16
) -> DataFrame:
    """JSONL flavor of :func:`stream_source` (.jsonl/.jsonl.gz shards
    landing in a directory): same record contract and projection as the
    batch path (:func:`scones.jsonl.project_jsonl`), same downstream
    plan — the engine's seen-files log provides the admission state the
    batch path keeps in lineage."""
    raw = (
        spark.readStream.schema(JSONL_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .json(input_dir)
    )
    return project_jsonl(raw)


class _StreamSource:
    """The snapshot knobs the streaming runners honor: framing, the host
    join and routing.  Static fields, spread, the dedup index and LM
    scoring belong to the batch core's write and commit steps, which the
    engine's file sink replaces here, so they are rejected."""

    mode = "stream"
    honors = frozenset({"host_meta_path", "n_sinks", "max_length"})
    audit_columns = frozenset()


def build_stream_plan(
    spark: SparkSession, cfg: PipelineConfig, stream: DataFrame
) -> DataFrame:
    """extract → enrich → route over a stream; raises ``ValueError`` for a
    non-default knob the streaming runners do not honor."""
    _check_knobs(cfg, _StreamSource)
    df = extract_and_enrich(spark, cfg, stream.drop("text"))
    return with_sink_id(df, cfg.n_sinks)


def run_stream_available_now(
    spark: SparkSession,
    cfg: PipelineConfig,
    input_dir: str,
    source: DataFrame | None = None,
) -> None:
    """Drain all currently-available files into the routed sinks, then stop.

    Exactly-once delivery to the parquet sinks comes from the streaming
    checkpoint + the file sink's transaction log (_spark_metadata) — the
    engine-managed analogue of our batch write-audit-publish protocol.
    ``source`` overrides the default parquet file stream (e.g.
    :func:`stream_source_jsonl`).
    """
    if source is None:
        source = stream_source(spark, input_dir)
    routed = build_stream_plan(spark, cfg, source)
    q = (
        routed.drop("html", "extracted_str")
        .writeStream.format("parquet")
        .option("path", cfg.output_dir)
        .option("checkpointLocation", os.path.join(cfg.checkpoint_dir, "stream"))
        .partitionBy("sink_id")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_continuous(
    spark: SparkSession,
    cfg: PipelineConfig,
    input_dir: str,
    trigger_sec: float = 1.0,
    max_files: int = 16,
):
    """Long-running daemon mode: re-discover and ship new files every
    ``trigger_sec`` — the reference's run-forever loop (GlobRefresh tick,
    cmd/butteredscones/butteredscones.go:85-95).  Returns the running
    StreamingQuery; stop it with :func:`graceful_stop`.
    """
    routed = build_stream_plan(spark, cfg, stream_source(spark, input_dir, max_files))
    return (
        routed.drop("html", "extracted_str")
        .writeStream.format("parquet")
        .option("path", cfg.output_dir)
        .option("checkpointLocation", os.path.join(cfg.checkpoint_dir, "stream"))
        .partitionBy("sink_id")
        .trigger(processingTime=f"{trigger_sec} seconds")
        .start()
    )


def graceful_stop(query, timeout_sec: float = 60.0) -> None:
    """SIGTERM-drain semantics (supervisor.go:91-94 Stop(): close the
    request channel, WAIT for in-flight chunks to be acked): process
    everything already discovered, then stop the trigger loop cleanly.
    A plain ``stop()`` could abandon a discovered-but-unshipped batch to
    the next restart; this drains first."""
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout_sec)


SESSION_OUTPUT_DDL = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int"
)
SESSION_STATE_DDL = "session_start double, last_ts double, n_events int"


def stateful_sessionize(events, gap_sec: int = 1800, watermark: str = "1 second"):
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (the arbitrary-state API — what the
    reference's per-file in-memory reader state would need if it were an
    operator; SURVEY.md §2's custom-stateful row).

    Sessions close when a gap > ``gap_sec`` separates consecutive events;
    closed sessions are emitted as they are discovered, the open tail
    session rides in the group state across micro-batches (so a user's
    session spanning two batches is stitched, not split) and is flushed
    by an EVENT-TIME timeout once the watermark passes last_ts + gap.
    Event-time (not processing-time) timeouts keep the operator
    deterministic and let ``availableNow`` terminate — a
    processing-time timeout would re-trigger empty micro-batches forever.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        (user_id,) = key
        ts = []
        for pdf in pdfs:
            ts.extend((pdf["ts"].astype("int64") // 1000).tolist())  # epoch µs
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_start": [pd.Timestamp(int(start), unit="us")],
                        "session_end": [pd.Timestamp(int(last), unit="us")],
                        "n_events": [int(n)],
                    }
                )
            return
        ts.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = float(ts[0]), float(ts[0]), 0
        closed = []
        for t in ts:
            if t - last > gap_sec * 1_000_000:
                closed.append((start, last, n))
                start, n = float(t), 0
            last = float(t)
            n += 1
        state.update((float(start), float(last), int(n)))
        state.setTimeoutTimestamp(int(last // 1000 + gap_sec * 1000))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(int(s), unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(int(e), unit="us") for _, e, _ in closed],
                    "n_events": [int(c) for _, _, c in closed],
                }
            )

    prepared = events.select("user_id", "ts").withWatermark("ts", watermark)
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUTPUT_DDL,
        SESSION_STATE_DDL,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def windowed_host_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time windowed per-host counts with late-data handling.

    Watermark on ``warc_ts`` bounds state (late web-page records beyond
    the watermark are dropped) — the streaming analogue of the
    statistics endpoint's per-file live counters (statistics.go:34-75).
    """
    return (
        with_host(stream)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.octet_length("html")).alias("n_bytes"),
        )
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("url",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on the ingest key(s) — the incremental
    flavor of textops.dedup_exact / the lineage anti-join: a re-crawled
    page arriving twice within the watermark horizon is emitted once.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+): dedup state is
    EVICTED once an event-time key ages past the watermark, so state
    size is O(keys per watermark window), not O(all keys ever) — the
    property that makes streaming dedup survivable on an unbounded
    crawl (plain ``dropDuplicates`` on a stream grows state forever).
    Cross-horizon dedup stays the batch layer's job (the persisted
    minhash band index / lineage anti-join, scones/incremental.py) —
    the standard lambda split for 100 TB ingest.

    Falls back to plain ``dropDuplicates`` on a BATCH DataFrame so the
    same plan definition runs in both modes (the module's contract).
    """
    if not stream.isStreaming:
        return stream.dropDuplicates(list(key_cols))
    return stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_bloom_probe(
    stream: DataFrame,
    bloom: DataFrame,
    key_col: str = "url",
    m_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> DataFrame:
    """Stream-vs-committed exact-dedup prefilter: flag every arriving
    record whose key MAY already exist in the committed corpus, by
    probing the persisted Bloom bitmap (scones/incremental.py) with
    STATELESS stream-static broadcast joins — one per hash position
    (n_hashes is small), so no streaming aggregation state exists at
    all.  (The batch probe's explode -> groupBy rollup would be a
    STATEFUL aggregation on a stream — unbounded state on an unbounded
    key stream; per-position joins + a row-local conjunction express
    the same predicate statelessly.)

    Division of labor (the lambda split): streaming_dedup handles
    within-horizon repeats with watermark-evicted state; THIS op covers
    the unbounded past with O(m/63) static rows — no false negatives,
    and flagged rows route to the batch layer's exact fingerprint join
    rather than being dropped in-flight (a false positive must never
    lose a record).  The same plan runs unchanged on a batch frame.
    """
    out = stream
    hits = []
    for h in range(n_hashes):
        p = f"_p{h}"
        out = (
            out.withColumn(p, bloom_position(F.col(key_col), h, m_bits))
            .withColumn(f"_w{h}", bloom_word(p))
            .withColumn(f"_m{h}", bloom_mask(p))
        )
        side = F.broadcast(
            bloom.select(
                F.col("widx").alias(f"_w{h}"), F.col("bits").alias(f"_b{h}")
            )
        )
        out = out.join(side, f"_w{h}", "left")
        hits.append(
            F.col(f"_b{h}").isNotNull()
            & (F.col(f"_b{h}").bitwiseAND(F.col(f"_m{h}")) != 0)
        )
    seen = hits[0]
    for hcond in hits[1:]:
        seen = seen & hcond
    out = out.withColumn("maybe_seen", seen)
    drop = [c for h in range(n_hashes) for c in (f"_p{h}", f"_w{h}", f"_m{h}", f"_b{h}")]
    return out.drop(*drop)
