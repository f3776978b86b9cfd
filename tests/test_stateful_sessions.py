"""Custom stateful streaming operator: applyInPandasWithState
sessionization with state carried ACROSS micro-batches."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from scones.streaming import stateful_sessionize

GAP = 1800


def _closed_sessions_oracle(src: str) -> set:
    """Batch oracle (DuckDB): per-user gap sessions, excluding each
    user's final (still-open) session."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH g AS (
          SELECT user_id, ts,
                 CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > {GAP}
                       OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS ns
          FROM parquet_scan('{src}')
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT user_id, ts,
                 SUM(ns) OVER (PARTITION BY user_id ORDER BY ts) AS sid
          FROM g
        ), agg AS (
          SELECT user_id, sid, MIN(ts) a, MAX(ts) b, COUNT(*) n,
                 MAX(sid) OVER (PARTITION BY user_id) AS max_sid
          FROM s GROUP BY user_id, sid
        )
        SELECT user_id, a, b, n, sid < max_sid AS gap_closed FROM agg
        """
    ).fetchall()
    closed = {
        (u, a.isoformat(), b.isoformat(), n)
        for u, a, b, n, gc in rows
        if gc
    }
    allsess = {(u, a.isoformat(), b.isoformat(), n) for u, a, b, n, _ in rows}
    return closed, allsess


def test_stateful_sessionize_across_batches(spark, tmp_path):
    # Split the events table into 2 time-ordered files → 2 micro-batches;
    # sessions spanning the file boundary must be stitched by the state.
    src = "/root/testdata/sf0.001/events.parquet"
    events = duckdb.sql(
        f"select event_id, ts, user_id from parquet_scan('{src}') order by ts"
    ).arrow()
    half = events.num_rows // 2
    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    pq.write_table(events.slice(0, half), str(in_dir / "t0.parquet"))
    pq.write_table(events.slice(half), str(in_dir / "t1.parquet"))

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    sessions = stateful_sessionize(stream, gap_sec=GAP)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events)
        for r in spark.sql("select * from sessions_out").collect()
    }
    want_closed, all_sessions = _closed_sessions_oracle(src)
    # Gap-closed sessions are emitted deterministically; tail sessions
    # may additionally flush via event-time timeout depending on how far
    # the final watermark advanced — but every emitted session must be a
    # REAL session of the batch oracle (in particular: a session spanning
    # the two micro-batches must be stitched, never split).
    assert want_closed <= got, "missing gap-closed sessions"
    assert got <= all_sessions, "emitted a session not in the batch oracle"
    assert len(want_closed) > 50, "corpus must actually produce closed sessions"

