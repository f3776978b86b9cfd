"""scones — a brand-new PySpark-native parse→enrich→route→aggregate pipeline.

A Spark-first reimagining of the capabilities of phillbaker/butteredscones
(a Go log shipper: tail → frame → decorate → batch → ship → checkpoint,
see /root/reference/supervisor.go, file_reader.go): the line-framing loop
becomes a vectorized Arrow extraction over ``html: binary`` columns, the
BoltDB offset store becomes a per-partition lineage/checkpoint table, and
the multi-destination lumberjack shipping becomes deterministic hash-routed
fan-out to parquet sinks — all declared with the DataFrame API so Catalyst
plans the physical execution.

Modules:
    session   SparkSession builder tuned for the sandbox (local[N], Arrow on)
    config    pipeline configuration dataclasses (≈ reference config.go)
    oracle    single-threaded pure-Python reference extractor + router
    corpus    deterministic synthetic Common-Crawl-style corpus generator
    extract   vectorized framing/extraction (mapInArrow; zero per-row Python UDFs)
    footer    parquet reads with one footer's schema (no inference job)
    enrich    broadcast lookup join keyed on url host, hot-key salting
    route     deterministic hash routing + partitioned fan-out writes
    lineage   snapshot/offset lineage table, exact resume (≈ bolt_snapshotter.go)
    metrics   observe()-based run metrics (≈ statistics.go)
    pipeline  end-to-end wiring (≈ cmd/butteredscones/butteredscones.go)
    textops   training-data text ops: dedup, fingerprints, lang-id, quality
    similarity embedding similarity search: brute-force + LSH-bucketed ANN
"""

__version__ = "0.1.0"
