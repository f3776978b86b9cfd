"""spark-submit entry script (north rule: "ships as spark-submit
--py-files on a multi-executor cluster").

Usage:
    zip -r /tmp/scones.zip scones
    spark-submit --master <cluster> --py-files /tmp/scones.zip \
        tools/submit_pipeline.py --config pipeline.json [--mode tail]

Inside spark-submit the session already exists (built by the launcher
with the cluster's master/conf); we only attach our SQL-level settings.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--config", required=True)
    p.add_argument("--mode", choices=["documents", "tail"], default="documents")
    a = p.parse_args()

    from scones.config import PipelineConfig
    from scones.pipeline import snapshot_fn_for_mode

    spark = (
        SparkSession.builder.appName("scones-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .getOrCreate()
    )
    cfg = PipelineConfig.from_json(a.config)
    summary = snapshot_fn_for_mode(a.mode)(spark, cfg)
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
