"""spark-submit entry script (north rule: "ships as spark-submit
--py-files on a multi-executor cluster").

Usage:
    zip -r /tmp/scones.zip scones
    spark-submit --master <cluster> --py-files /tmp/scones.zip \
        tools/submit_pipeline.py --config pipeline.json [--mode tail] [--daemon]

The flags and the run are those of ``python -m scones.pipeline``
(``scones.pipeline.main``); only the session differs.  Here the launcher
owns master, memory and JVM options (the cluster's conf); the session
gets the same SQL-level settings as ``get_spark``
(``scones.session.SQL_CONF``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from scones import pipeline
from scones.session import apply_sql_conf


def build_session(builder=None) -> SparkSession:
    if builder is None:
        builder = SparkSession.builder
    return apply_sql_conf(builder.appName("scones-pipeline")).getOrCreate()


def main() -> None:
    pipeline.main(build_session)


if __name__ == "__main__":
    main()
