"""Deterministic hash routing + partitioned fan-out to parquet sinks.

Replaces the reference's competing-consumer shipping — one goroutine per
lumberjack client pulling chunks off a shared channel
(/root/reference/supervisor.go:65,80-86,170-223), which assigns each chunk
to an arbitrary sink — with a pure function of row content:

    sink_id = crc32(utf8(url)) mod n_sinks

so routed-row set equality per sink is well-defined and testable (the
north rule), and retried tasks route identically (idempotence).  crc32 is
a JVM built-in (whole-stage codegen, no Python) and bit-compatible with
``zlib.crc32`` in the oracle (tests/test_routing.py).

Scale notes: the fan-out is ONE job / ONE shuffle — ``repartition`` by
(sink_id, spread) then ``partitionBy("sink_id")`` write, not one filter+
write job per sink (which would rescan the input k times).  ``spread``
splits each sink's rows across multiple reducers so a hot sink or hot
host never serializes into a single task at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_expr(url_col: str, spread: int):
    """Intra-sink spread key, independent of the routing hash.

    Derived from crc32 of a salted url ("|s" suffix) — using the same
    crc32(url) as sink_id would make the spread a function of the sink
    (zero extra fan-out whenever spread == n_sinks).
    """
    return F.pmod(
        F.crc32(F.encode(F.concat(F.col(url_col), F.lit("|s")), "utf-8")),
        F.lit(spread),
    )


def route_expr(url_col: str, n_sinks: int):
    """sink id column expression: pmod(crc32(utf8(url)), n_sinks)."""
    return F.pmod(F.crc32(F.encode(F.col(url_col), "utf-8")), F.lit(n_sinks)).cast(
        "int"
    )


def with_sink_id(df: DataFrame, n_sinks: int, url_col: str = "url") -> DataFrame:
    return df.withColumn("sink_id", route_expr(url_col, n_sinks))


def spread_within_sinks(
    routed: DataFrame, n_sinks: int, spread_partitions: int, url_col: str = "url"
) -> DataFrame:
    """One shuffle by (sink_id, spread): co-locates each sink's rows while
    keeping ``spread_partitions``-way parallelism per sink, so a hot sink
    or host never lands on a single reducer.  0 = no repartition."""
    if spread_partitions <= 0:
        return routed
    return routed.repartition(
        n_sinks * spread_partitions,
        F.col("sink_id"),
        spread_expr(url_col, spread_partitions),
    )


def sink_aggregates(df: DataFrame, n_sinks: int, url_col: str = "url") -> DataFrame:
    """The correctness-contract aggregate: per (sink, lang, host) bucket →
    rows, payload bytes, exact distinct urls.

    Partial aggregation is map-side (Catalyst HashAggregate) so the shuffle
    carries pre-combined buckets, not rows — the 100 TB-safe shape.
    """
    return (
        with_sink_id(df, n_sinks, url_col)
        .groupBy("sink_id", "lang", "host")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.length("extracted")).alias("bytes"),
            F.countDistinct(url_col).alias("distinct_urls"),
        )
    )
