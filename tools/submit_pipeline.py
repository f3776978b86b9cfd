"""spark-submit entry script (north rule: "ships as spark-submit
--py-files on a multi-executor cluster").

Usage:
    zip -r /tmp/scones.zip scones
    spark-submit --master <cluster> --py-files /tmp/scones.zip \
        tools/submit_pipeline.py --config pipeline.json [--mode tail]

Here the launcher owns master, memory and JVM options (the cluster's
conf); the session gets the same SQL-level settings as ``get_spark``
(``scones.session.SQL_CONF``).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from scones.config import PipelineConfig
from scones.pipeline import MODES, snapshot_fn_for_mode
from scones.session import apply_sql_conf


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--config", required=True)
    p.add_argument(
        "--mode", choices=MODES, default=None, help="override the config's mode"
    )
    return p.parse_args(argv)


def build_session(builder=None) -> SparkSession:
    if builder is None:
        builder = SparkSession.builder
    return apply_sql_conf(builder.appName("scones-pipeline")).getOrCreate()


def main() -> None:
    a = parse_args()
    cfg = PipelineConfig.from_json(a.config)
    if a.mode is not None:
        cfg.mode = a.mode
    spark = build_session()
    summary = snapshot_fn_for_mode(cfg.mode)(spark, cfg)
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
