"""JSONL corpus ingestion (.jsonl / .jsonl.gz) → documents DataFrame.

Web-text corpora are commonly distributed as newline-delimited JSON
shards.  Unlike the WARC container path (scones/warc.py, which needs a
custom byte parser in an Arrow UDF), JSONL ingestion is fully JVM-side:
``spark.read.json`` parses (gzip transparently by extension, splittable
when uncompressed), ``unbase64`` decodes the payload, ``_metadata``
provides provenance — zero Python in the plan, whole-stage codegen
end-to-end before the shared extract kernel.

Record contract (one JSON object per line):

  {"url": str (required),
   "ts": ISO-8601 str (optional)    → warc_ts timestamp,
   "lang": str (optional),
   "html_b64": base64 str (optional)  — binary payload, preferred, OR
   "html": str (optional)             — plain-text payload fallback}

Malformed lines land as all-null rows under Spark's PERMISSIVE JSON
parsing and are dropped by the ``url IS NOT NULL`` gate — the same
skip-but-continue semantics as WARC corruption resync (a bad record
never aborts the shard; the reference's framing loop likewise skips
over-long lines and keeps going, file_reader.go:74-77).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# explicit schema: no inference pass over the data (an extra full read
# at 100 TB), and unknown keys are simply ignored
JSONL_SCHEMA = "url string, ts string, lang string, html_b64 string, html string"


def read_jsonl(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """JSONL shards → documents DataFrame (url, warc_ts, html:binary,
    lang, src_file) — the same shape :func:`scones.warc.read_warc`
    yields, so the snapshot core is format-agnostic.  Drops url-less
    rows, parses ``ts`` and takes the base64 payload over the plain-text
    one."""
    raw = (
        spark.read.schema(JSONL_SCHEMA)
        .json(paths)
        .withColumn("src_file", F.col("_metadata.file_path"))
    )
    return raw.where(F.col("url").isNotNull()).select(
        "url",
        F.to_timestamp("ts").alias("warc_ts"),
        F.coalesce(
            F.unbase64("html_b64"), F.col("html").cast("binary")
        ).alias("html"),
        "lang",
        "src_file",
    )


def write_jsonl(path: str, records: list[dict], gzip_file: bool = False) -> None:
    """Test-fixture writer: one JSON object per line; optional .gz."""
    import gzip as _gzip
    import json as _json
    import os as _os

    _os.makedirs(_os.path.dirname(path), exist_ok=True)
    data = "".join(_json.dumps(r) + "\n" for r in records).encode()
    if gzip_file:
        with _gzip.open(path, "wb") as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)
