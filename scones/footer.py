"""Parquet reads with the schema of one footer, read on the driver.

``spark.read.parquet`` with no schema runs an inference job that opens a
footer on an executor.  :func:`read_parquet` reads that footer on the
driver instead and hands Spark the schema, so building a plan over a
local parquet input runs no Spark job.  The snapshot pipeline and the
``__spark_entry__`` queries both read through it.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

#: the parquet footer key under which a Spark writer stores its schema
#: (ParquetReadSupport.SPARK_METADATA_KEY); Spark's inference prefers it
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(path: str) -> StructType | None:
    """The schema Spark's non-merging parquet inference gives ``path`` (a
    local file, or a directory of parts), read from one footer on the
    driver: Spark's own when a Spark writer stored it, else the Arrow
    schema converted.  None where the footer cannot say; Spark then
    infers it (one job)."""
    if not os.path.exists(path):
        return None  # not a local path: Spark lists and reads it
    parts = pads.dataset(path, format="parquet").files
    if not parts:
        return None
    arrow = pq.read_schema(parts[0])
    stored = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        return StructType.fromJson(json.loads(stored))
    if any(pa.types.is_timestamp(f.type) and f.type.tz is None for f in arrow):
        # Spark reads an INT96 timestamp as timestamp and an INT64 one
        # without UTC adjustment as timestamp_ntz; Arrow shows neither
        return None
    try:
        return from_arrow_schema(arrow)
    except TypeError:  # an Arrow type with no Spark twin
        return None


def read_parquet(spark: SparkSession, paths: list[str]) -> DataFrame:
    """``spark.read.parquet(*paths)`` without its schema-inference job:
    the schema comes from the first path's footer (:func:`footer_schema`),
    as Spark's own inference takes it from one file.  Spark reads every
    column nullable either way."""
    schema = footer_schema(paths[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)
