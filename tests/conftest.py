import os
import sys
import uuid

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers import scones too (the worker daemon is scones.pydaemon),
# so the checkout goes on PYTHONPATH before the JVM that forks them starts.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

from scones.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", app_name="scones-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    """Deterministic synthetic corpus: 400 docs across 4 parquet files."""
    from scones.corpus import write_corpus

    d = tmp_path_factory.mktemp("corpus")
    write_corpus(str(d), n_docs=400, n_files=4, seed=42)
    return str(d)


@pytest.fixture(scope="session")
def corpus_rows():
    from scones.corpus import generate_rows

    return generate_rows(400, seed=42)


@pytest.fixture(scope="session")
def host_meta_path(tmp_path_factory):
    from scones.corpus import write_host_meta

    d = tmp_path_factory.mktemp("dims")
    return write_host_meta(str(d / "host_meta.parquet"), seed=42)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a job group of its own and
    returns (its result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        # job events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
