"""Streaming operators (SURVEY.md §2 O1): a file-source stream over the
corpus directory, a stateful sessionizer, event-time windowed counts, a
watermark-bounded dedup and a stateless stream-static Bloom probe.  Each
operator also runs on a batch frame (or has a batch twin), which is how
the tests check it.

Durable ingest is not here.  Every snapshot goes through the one snapshot
core (``pipeline._run_snapshot``: plan → write → audit → lineage commit →
metrics row); the reference's run-forever re-glob loop
(supervisor.go:56,253-282) is ``backoff.run_daemon``
(``--daemon``) over that core, with SIGTERM draining the in-flight
snapshot before the loop exits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .enrich import with_host
from .incremental import bloom_mask, bloom_position, bloom_word

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
