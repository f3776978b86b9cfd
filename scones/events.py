"""Batch event-stream operators over the ``events`` table.

Sessionization, windowed rates and the like run as batch queries over
the stored events: the backfill/replay path over the historical store.
Continuous ingest is the snapshot core under ``--daemon``; there is no
separate streaming engine.

Reference parity: the reference has no event semantics (it ships log
lines); sessionization is part of the "operations a large-scale
training-data/telemetry pipeline needs" surface, like the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize_events(
    df: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based batch sessionization: a session breaks when the pause
    since the user's previous event exceeds ``gap_minutes``.  Output is
    one row per (user, session): event count, first/last timestamps and
    the session duration in microseconds (integer — engine-exact).

    Scale shape: ONE exchange+sort on the user key serves both window
    passes (lag, then the running session counter — same partitioning
    and order, Spark reuses the sort), then a map-side-combinable
    rollup.  The window key is the USER (10^6-10^9 cardinality at
    production scale, AQE-balanced) — never a global order.  Ties on
    ``ts`` break by ``id_col``, so sessions are deterministic and
    retry-stable.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    # timestampdiff, not unix_micros: the column is TIMESTAMP_NTZ and
    # the difference is timezone-free in both engines.
    flagged = df.withColumn("prev_ts", F.lag(ts_col).over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.expr(f"timestampdiff(MICROSECOND, prev_ts, {ts_col})")
                > gap_minutes * 60 * 1_000_000
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    counted = flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        counted.groupBy(user_col, "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
        )
        .select(
            user_col,
            "session_idx",
            "n_events",
            "start_ts",
            "end_ts",
            F.expr("timestampdiff(MICROSECOND, start_ts, end_ts)").alias(
                "duration_us"
            ),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    payload_cols: list[str] | None = None,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of join — for every left row, the single right row with the
    greatest ``ts_col`` <= the left row's (per ``on`` key; equality
    included).  Spark has no native ASOF operator (DuckDB/kdb/Pandas
    do); the distributed recipe here is the UNION trick: tag both
    sides, sort each key's timeline once, and carry the latest right
    payload forward with ``last(ignorenulls)`` — ONE exchange + ONE
    sort total, instead of the range-join explosion (a naive
    ``l.ts >= r.ts`` join is O(|L|·|R|) per key before picking the
    max).

    Payload columns come back prefixed ``asof_`` (NULL when the key has
    no prior right row).  Right rows sharing (key, ts) are ordered by
    ``right_tiebreak`` (latest wins) — pass it, or pre-dedup the right
    side, for fully deterministic payloads.

    Scale shape: the window key is ``on`` (user/entity cardinality);
    both sides shuffle ONCE on it; no join node at all in the plan.
    """
    payload_cols = payload_cols or []
    pay = F.struct(
        F.col(ts_col).alias("_ts"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    r = right.select(
        F.col(on),
        F.col(ts_col),
        *(F.col(c) for c in payload_cols),
        F.lit(1).alias("_r"),
        pay.alias("_pay"),
        (
            F.col(right_tiebreak)
            if right_tiebreak is not None
            else F.lit(0)
        ).alias("_tb"),
    ).drop(*payload_cols)
    l = left.withColumn("_r", F.lit(0)).withColumn(
        "_pay", F.lit(None).cast(r.schema["_pay"].dataType)
    ).withColumn("_tb", F.lit(0))
    u = l.unionByName(r, allowMissingColumns=True)

    from pyspark.sql import Window

    w = (
        Window.partitionBy(on)
        .orderBy(
            F.col(ts_col).asc(),
            F.col("_r").desc(),  # right rows first at equal ts (>= asof)
            F.col("_tb").asc(),  # latest tiebreak wins via last()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn(
        "_asof", F.last("_pay", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("_r") == 0).drop("_r", "_pay", "_tb")
    out = out.withColumn(f"asof_{ts_col}", F.col("_asof._ts"))
    for c in payload_cols:
        out = out.withColumn(f"asof_{c}", F.col(f"_asof.{c}"))
    return out.drop("_asof")


def range_join_bands(
    fact: DataFrame,
    bands: list[tuple[str, float, float]],
    value_col: str = "value",
    bucket_width: float = 5.0,
    id_col: str = "event_id",
) -> DataFrame:
    """Range join — pair each fact row with every band whose
    ``[lo, hi)`` interval contains its value (bands may OVERLAP, so
    this is a true interval join, not a CASE ladder).  Spark's native
    plan for a non-equi predicate is BroadcastNestedLoopJoin —
    O(|fact|·|bands|) compares per row; the distributed recipe here is
    BUCKETED binning: each band pre-explodes (driver-side — the band
    list is a literal dim) into the fixed-width buckets it covers,
    facts compute ``floor(value / width)`` row-locally, the join is a
    broadcast EQUI-join on the bucket, and the exact ``lo <= v < hi``
    residual filters the bucket-edge spill.

    Pick ``bucket_width`` near the median band width: the dim carries
    ~(hi-lo)/width rows per band, and each fact meets only the bands
    overlapping its bucket.  Same recipe scales to time-interval joins
    (ts BETWEEN start AND end) with time buckets.
    """
    import math

    rows = []
    for name, lo, hi in bands:
        b0 = math.floor(lo / bucket_width)
        b1 = max(math.ceil(hi / bucket_width), b0 + 1)
        for b in range(b0, b1):
            rows.append((name, float(lo), float(hi), b))
    dim = fact.sparkSession.createDataFrame(
        rows, "band string, lo double, hi double, bucket bigint"
    )
    fact2 = fact.withColumn(
        "bucket", F.floor(F.col(value_col) / bucket_width).cast("bigint")
    )
    return (
        fact2.join(F.broadcast(dim), "bucket")
        .filter(
            (F.col(value_col) >= F.col("lo"))
            & (F.col(value_col) < F.col("hi"))
        )
        .select(id_col, value_col, "band", "lo", "hi")
    )


def value_percentiles(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-group EXACT p50/p95/p99 of a numeric column — the
    latency/size percentile table every log pipeline publishes.  Both
    engines use the same linear-interpolation definition (Spark
    ``percentile`` == DuckDB ``quantile_cont``), so values match to the
    rounding digit.

    Scale shape: exact percentile sorts each group's values — fine for
    grouped telemetry (groups ~10²-10⁴, AQE-balanced), and the whole
    aggregate is one exchange.  At extreme per-group cardinality the
    production swap is ``approx_percentile`` (t-digest, map-side
    combinable, bounded memory) at the cost of exactness — same plan
    shape, documented here rather than silently substituted, because
    the oracle gate requires the exact form.
    """
    pcts = df.groupBy(group_col).agg(
        F.count("*").alias("n_events"),
        F.expr(f"percentile({value_col}, array(0.5, 0.95, 0.99))").alias(
            "_p"
        ),
    )
    return pcts.select(
        group_col,
        "n_events",
        F.round(F.col("_p")[0], 4).alias("p50"),
        F.round(F.col("_p")[1], 4).alias("p95"),
        F.round(F.col("_p")[2], 4).alias("p99"),
    )


def event_rate_windows(
    df: DataFrame,
    window_duration: str = "15 minutes",
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window event rates: per (group, window) count + value
    sum, built on Spark's native ``F.window`` (epoch-aligned tumbling
    buckets, the same alignment as DuckDB's ``time_bucket``).  One
    map-side-combinable groupBy; the window struct is a row-local
    projection, not a window FUNCTION — no sort, no per-group state.
    """
    return (
        df.groupBy(group_col, F.window(ts_col, window_duration).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            # decimal fold: double summation is partition-order-
            # sensitive; casting to DECIMAL(18,2) (the values' native
            # precision) makes the sum commutative and engine-exact
            # (the lm_perplexity recipe)
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            group_col,
            F.col("w.start").alias("bucket_start"),
            "n_events",
            "sum_value",
        )
    )


def props_field_stats(
    df: DataFrame,
    field: str = "k",
    group_col: str = "event_type",
    props_col: str = "props",
) -> DataFrame:
    """Typed extraction over the semi-structured ``props`` JSON column
    (the structured-payload sibling of grok parsing: logs carry JSON
    blobs; the engine must project typed fields out of them without a
    Python hop) + a per-group rollup.  ``from_json`` with an explicit
    schema is the Spark-first path — typed at parse, codegen-friendly,
    malformed JSON degrades to NULL (counted, never crashing the
    pipeline).

    One row-local parse + one map-side-combinable groupBy; integer
    sums, engine-exact.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField(field, LongType())])
    parsed = df.select(
        group_col,
        F.from_json(F.col(props_col), schema)[field].alias("_v"),
    )
    return parsed.groupBy(group_col).agg(
        F.count("*").alias("n_events"),
        F.count("_v").alias("n_with_field"),
        F.sum("_v").alias("sum_field"),
        F.min("_v").alias("min_field"),
        F.max("_v").alias("max_field"),
    )
