"""Session defaults are sized from the host, not hard-coded, and every
entry point builds its session with the same SQL settings."""

import os
from types import SimpleNamespace

from scones import session
from scones.session import default_driver_mem, default_master, host_mem_bytes


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def _mb(mem: str) -> int:
    assert mem.endswith("m")
    return int(mem[:-1])


def test_default_heap_fits_two_jvms_in_host_memory():
    """The suite's JVM and a subprocess test's JVM are alive at once, and
    each pre-touches its whole heap: the default must be <= MemTotal / 2."""
    assert _mb(default_driver_mem()) * (1 << 20) <= host_mem_bytes() / 2


def test_default_heap_scales_with_memtotal(tmp_path):
    gib = 1 << 20  # in kB
    assert default_driver_mem(_meminfo(tmp_path, 16 * gib)) == "4096m"
    assert default_driver_mem(_meminfo(tmp_path, 15 * gib)) == "3840m"
    assert default_driver_mem(_meminfo(tmp_path, 256 * gib)) == "12288m"  # cap
    assert default_driver_mem(_meminfo(tmp_path, gib)) == "512m"  # floor


def test_default_master_from_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_master() == f"local[{os.cpu_count()}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"


def test_session_heap_is_explicit_env_or_host_default(spark):
    want = os.environ.get("SCONES_DRIVER_MEM") or default_driver_mem()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_repeated_pass_compiles_almost_nothing(spark, tmp_path):
    """A session compiles each generated class once: a third pass of the
    curation queries finds its classes in Spark's codegen cache.  With
    Spark's 100-entry default the cache thrashes and every pass compiles
    about 110 classes again."""
    import __spark_entry__ as entry
    from scones.corpus import write_zipf_documents

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    write_zipf_documents(str(tmp_path), n_docs=200, seed=3)
    queries = entry.queries()
    names = (
        "clean_corpus",
        "dedup_near_keep_min",
        "substring_dedup_clean",
        "lm_perplexity",
    )
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    for _ in range(2):
        for q in names:
            queries[q](spark, str(tmp_path)).collect()
    before = compiles.getCount()
    for q in names:
        queries[q](spark, str(tmp_path)).collect()
    assert compiles.getCount() - before < 20


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every setting."""

    def __init__(self):
        self.conf = {}

    def config(self, key, value):
        self.conf[key] = value
        return self

    def master(self, master):
        return self.config("spark.master", master)

    def appName(self, name):
        return self.config("spark.app.name", name)

    def getOrCreate(self):
        return self


def test_submit_entry_builds_the_same_sql_settings(monkeypatch):
    """tools/submit_pipeline.py and get_spark apply one set of SQL
    settings, and the shared CLI parser accepts every mode the pipeline
    runs."""
    from scones.pipeline import MODES, parse_args, snapshot_fn_for_mode
    from tools import submit_pipeline as submit

    submitted = submit.build_session(_RecordingBuilder()).conf
    local = _RecordingBuilder()
    local.sparkContext = SimpleNamespace(setLogLevel=lambda level: None)
    monkeypatch.setattr(session.SparkSession, "builder", local)
    session.get_spark(master="local[2]")
    for key, value in session.SQL_CONF.items():
        assert submitted[key] == local.conf[key] == value, key

    for mode in MODES:
        snapshot_fn_for_mode(mode)
        assert parse_args(["--config", "c.json", "--mode", mode]).mode == mode
    assert parse_args(["--config", "c.json"]).mode is None


def test_only_a_local_session_starts_workers_from_the_scones_daemon(monkeypatch):
    """A local session's workers run on the driver's host and import
    ``scones`` from its path, so they start from scones.pydaemon.  A
    cluster executor's daemon starts before any task fetched
    ``--py-files``, so neither the spark-submit entry nor a non-local
    ``get_spark`` session sets the daemon module."""
    from tools import submit_pipeline as submit

    key = "spark.python.daemon.module"
    assert key not in submit.build_session(_RecordingBuilder()).conf
    for master, daemon in (("local[2]", "scones.pydaemon"), ("spark://h:7077", None)):
        builder = _RecordingBuilder()
        builder.sparkContext = SimpleNamespace(setLogLevel=lambda level: None)
        monkeypatch.setattr(session.SparkSession, "builder", builder)
        session.get_spark(master=master)
        assert builder.conf.get(key) == daemon, master


def test_submit_entry_runs_the_config_it_is_given(tmp_path, monkeypatch):
    """The spark-submit entry hands its config to run_from_config whole:
    a daemon config reaches it as a daemon, with a drain event wired to
    SIGTERM, on the session the submit entry builds."""
    import signal
    import sys

    import scones.pipeline
    from scones.config import PipelineConfig
    from tools import submit_pipeline as submit

    cfg = PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.log"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mode="tail",
        daemon=True,
        stats_port=0,
        snapshot_timeout_sec=30.0,
        poll_max_sec=2.0,
    )
    cfg_path = str(tmp_path / "cfg.json")
    cfg.to_json(cfg_path)
    seen, handlers = {}, {}

    def run_from_config(spark, cfg, stop_event=None, on_event=None):
        seen.update(spark=spark, cfg=cfg, stop_event=stop_event)
        return [], None

    built = SimpleNamespace(stop=lambda: None)
    monkeypatch.setattr(scones.pipeline, "run_from_config", run_from_config)
    monkeypatch.setattr(submit, "build_session", lambda: built)
    monkeypatch.setattr(signal, "signal", handlers.__setitem__)
    monkeypatch.setattr(sys, "argv", ["submit_pipeline.py", "--config", cfg_path])
    submit.main()
    assert seen.get("cfg") == cfg, "run_from_config never saw the config"
    assert seen["spark"] is built
    assert seen["stop_event"] is not None and signal.SIGTERM in handlers
