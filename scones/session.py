"""SparkSession builder for the scones pipeline.

Tuned for the sandbox (single-JVM local[N]) but every setting is the one
you'd ship to a 1000-executor cluster: AQE on (runtime partition
coalescing + skew-join splitting), Arrow enabled for the vectorized
extraction path, shuffle partitions sized to the parallelism at hand
instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size for the Python crossing.  Round 3 re-measured this
# warm (persistent JVM, per-level affinity): 16k batches are 1.6× faster
# than 64k at 8 AND 32 concurrent workers and neutral at 2 — a 64k batch
# of ~1.9 KB docs materializes ~120 MB of FRESH buffers per batch on the
# python side (input copy + output arrays), and this host's serialized
# page-fault handler makes concurrent large allocations collide (per-core
# extract throughput halved from 1→8 workers at 64k).  Round 1's 64k
# pick was measured under cold-JVM startup noise.  At ~2 KB/doc, 16k
# rows ≈ 30 MB per batch — still far above per-row overhead territory.
ARROW_MAX_RECORDS = 16_384

# Spark's generated-class cache (a static conf: it is read when the
# session is built).  Spark's default of 100 entries is smaller than the
# code one repeated operation needs, and LRU eviction then recompiles
# most of it every time.  Measured distinct generated classes per
# operation: 123-131 for a pass of the four curation queries (local[4]
# and local[8]), 24 for a documents snapshot, 23 for a tail snapshot.
# At 100 entries every curation pass after the first compiled 88-113
# classes again with Janino, and the JVM then JIT-compiled each reloaded
# class from scratch; at 1024 a pass after the first compiles 0-4, and
# a pass costs about 30% less CPU.  The symptom of an undersized cache
# is a repeated pass that compiles again: compare
# ``org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
# .getCount()`` before and after it.
CODEGEN_CACHE_ENTRIES = 1024

# Python worker daemon (scones/pydaemon.py).  Spark puts pyspark.zip
# (1,328 entries), py4j's source zip and the spark-core jar at the front
# of a Python worker's import path, and pyspark's worker calls
# ``importlib.invalidate_caches()`` before every task.  On CPython 3.11
# and 3.12 that call re-reads the central directory of each of the 16 zip
# importers the worker has cached by then: 0.18-0.28 s of CPU per task,
# paid by every mapInArrow task of every mode (measured on a 4-core host).
# The daemon drops those archives when the rest of the path resolves the
# same pyspark, and the call then costs well under a millisecond.  CPython
# 3.13 re-reads a zip's directory lazily, so there the call is already
# cheap; the shorter path stays correct across an interpreter upgrade.
# Only local sessions (:func:`get_spark` on a ``local`` master) start
# workers from it: there they run on the driver's host with its import
# path.  A cluster executor's daemon starts before any task has fetched
# ``--py-files``, so ``scones`` may not import there yet.
PYTHON_DAEMON_MODULE = "scones.pydaemon"

# The SQL-level settings every scones session carries, whoever builds it:
# ``get_spark`` here, or the spark-submit entry (tools/submit_pipeline.py),
# whose launcher owns master, memory and JVM options.
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS),
    "spark.sql.parquet.compression.codec": "zstd",
    # zstd level 1: measured 14% faster sink writes for +7% size vs
    # level 3 (snappy was 18% faster but +57% size — wrong trade at
    # 100 TB storage scale)
    "spark.hadoop.parquet.compression.codec.zstd.level": "1",
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
}

# JVMs that may be alive at once on one host: the suite's shared session
# plus the one a subprocess test (or a watchdog rebuild) launches.  With
# Xms=Xmx and AlwaysPreTouch every heap is resident from the start, so
# each JVM gets half of its 1/LIVE_JVMS share of RAM; the other half is
# left for Python workers, off-heap buffers and the OS.
LIVE_JVMS = 2
MAX_DEFAULT_HEAP_MB = 12 * 1024


def host_mem_bytes(meminfo: str = "/proc/meminfo") -> int:
    """MemTotal of this host, in bytes."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024  # reported in kB
    except OSError:
        pass
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap when ``SCONES_DRIVER_MEM`` is unset: MemTotal /
    (2 × LIVE_JVMS), at most 12g, at least 512m."""
    mb = host_mem_bytes(meminfo) // (2 * LIVE_JVMS) // (1 << 20)
    return f"{max(512, min(mb, MAX_DEFAULT_HEAP_MB))}m"


def default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, else one core per CPU of this host."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    return f"local[{cpus}]"


def apply_sql_conf(builder):
    """``builder`` with every :data:`SQL_CONF` setting applied."""
    for k, v in SQL_CONF.items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    master: str | None = None,
    app_name: str = "scones",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``master`` defaults to :func:`default_master`; the driver heap is
    ``$SCONES_DRIVER_MEM`` or else :func:`default_driver_mem`.
    ``shuffle_partitions`` defaults to N (at least 8) for ``local[N]``,
    and to 32 for ``local[*]`` or a non-local master — on a real cluster
    you'd size this to total executor cores (AQE coalesces down).  Every
    session carries :data:`SQL_CONF`, a local one also
    :data:`PYTHON_DAEMON_MODULE`; ``extra_conf`` is applied last.
    """
    if master is None:
        master = default_master()
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        n = n.split(",")[0]  # local[N,maxFailures] form
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    mem = os.environ.get("SCONES_DRIVER_MEM") or default_driver_mem()
    builder = apply_sql_conf(
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        # Xms=Xmx + AlwaysPreTouch: on this virtualized host, faulting in
        # fresh heap pages during GC-driven growth is catastrophically slow
        # (measured 30-66% of task time spent in "GC" that was really page
        # faults).  Pre-touching the whole heap at JVM start pays that cost
        # once, off the critical path — same practice as production
        # executors (spark.executor.extraJavaOptions below mirrors it).
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch "
            + os.environ.get("SCONES_JAVA_OPTS", ""),
        )
        .config("spark.executor.extraJavaOptions", "-XX:+AlwaysPreTouch")
    )
    if master.startswith("local"):
        builder = builder.config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def rebuild_session(old: SparkSession | None, **get_spark_kwargs) -> SparkSession:
    """Tear down a (possibly hung) SparkSession's JVM and launch a fresh one.

    The watchdog path for the daemon loop (scones/backoff.py): round 3
    observed a local Spark JVM hang with zero CPU where the py4j call
    never answered — ``spark.stop()`` on such a session can itself block
    forever, so every teardown step here is bounded or force-kills:

      1. ``old.stop()`` is attempted on a side thread with a short join
         (a healthy JVM stops cleanly; a hung one is abandoned);
      2. the py4j gateway is shut down and its JVM child process killed
         (hung or dead either way, reap the JVM);
      3. pyspark's process-global gateway/context singletons are cleared
         so :func:`get_spark` launches a NEW JVM instead of reattaching
         to the dead gateway.

    On a real cluster this is the cluster manager's supervise/restart;
    in local mode the driver has to be its own supervisor.  A gateway
    with no child process (``proc`` None) belongs to a launcher such as
    spark-submit: this process can neither kill nor relaunch that JVM
    (a new session would reconnect to the gateway it just shut down),
    so nothing is torn down and the driver exits non-zero instead, for
    the cluster manager to restart it.
    """
    import threading

    from pyspark import SparkContext
    from pyspark.sql import SparkSession as _SS

    gw = getattr(SparkContext, "_gateway", None)
    if gw is not None and getattr(gw, "proc", None) is None:
        raise SystemExit(
            "scones: the Spark session hung and its JVM belongs to the "
            "launcher; exiting so the cluster manager restarts the driver"
        )
    master = None
    if old is not None:
        try:
            master = old.sparkContext.master
        except Exception:
            master = None
        t = threading.Thread(target=old.stop, daemon=True)
        t.start()
        t.join(timeout=15)  # a hung JVM blocks stop(); don't wait on it
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            try:
                gw.proc.kill()
                # reap it: a killed child nobody waits for stays a
                # zombie, and its pid still answers signal 0
                gw.proc.wait(timeout=15)
            except Exception:
                pass
    # Clear the process-global singletons so the next builder relaunches.
    # Hold SparkContext._lock while resetting (round-4 ADVICE): the
    # abandoned attempt thread may still be mid-py4j-call against these
    # objects, and pyspark's own builder takes the same lock — an
    # unlocked reset could interleave with a concurrent getOrCreate.
    # Every attribute is internals (version-fragile), so degrade to a
    # clean failure on a renamed one rather than a half-reset state.
    import contextlib

    lock = getattr(SparkContext, "_lock", None)
    with lock if lock is not None else contextlib.nullcontext():
        for klass, attr in (
            (SparkContext, "_gateway"),
            (SparkContext, "_jvm"),
            (SparkContext, "_active_spark_context"),
            (_SS, "_instantiatedSession"),
        ):
            if not hasattr(klass, attr):
                raise RuntimeError(
                    f"pyspark internals changed: {klass.__name__}.{attr} "
                    "missing — rebuild_session needs updating for this "
                    "pyspark version"
                )
            setattr(klass, attr, None)
    get_spark_kwargs.setdefault("master", master)
    return get_spark(**get_spark_kwargs)
