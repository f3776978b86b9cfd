"""Job-level retry/backoff daemon (supervisor.go parity).

The doubling semantics are the reference's own golden test
(exponential_backoff_test.go:8-53) replayed verbatim; the daemon tests
assert that an injected sink failure is retried with the documented
backoff and commits EXACTLY once, that idle polls back off, and that a
stop request drains cleanly.
"""

import os

import pytest

from scones.backoff import ExponentialBackoff, run_daemon
from scones.config import PipelineConfig
from scones.pipeline import run_snapshot


def test_exponential_backoff_golden_sequence():
    """exponential_backoff_test.go:8-53, min=1s max=10s."""
    b = ExponentialBackoff(1.0, 10.0)
    assert [b.next() for _ in range(6)] == [1.0, 2.0, 4.0, 8.0, 10.0, 10.0]
    b.reset()
    assert b.next() == 1.0


def test_exponential_backoff_current():
    """Current() primes to the minimum without advancing
    (exponential_backoff.go:14-20)."""
    b = ExponentialBackoff(0.05, 5.0)
    assert b.current() == 0.05
    assert b.current() == 0.05
    assert b.next() == 0.1  # primed → first next doubles


def _cfg(tmp_path, corpus_dir, host_meta_path, n_sinks=3):
    return PipelineConfig(
        input_glob=os.path.join(corpus_dir, "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        host_meta_path=host_meta_path,
        n_sinks=n_sinks,
    )


def test_daemon_retries_failed_snapshot_exactly_once_committed(
    spark, tmp_path, corpus_dir, host_meta_path, monkeypatch
):
    """Injected failure between sink write and lineage commit → the
    daemon backs off (50 ms, the reference's retry minimum,
    supervisor.go:171) and reruns; the SAME snapshot id commits exactly
    once with the full row count — effectively-once at the job level."""
    from scones.lineage import LineageStore

    cfg = _cfg(tmp_path, corpus_dir, host_meta_path)
    attempts = []
    real_commit = LineageStore.commit

    def flaky_commit(self, snapshot_id, rows, run=None):
        if len(attempts) == 1:
            raise RuntimeError("injected crash between sink write and commit")
        return real_commit(self, snapshot_id, rows, run)

    monkeypatch.setattr(LineageStore, "commit", flaky_commit)

    def flaky_run(spark_, cfg_):
        attempts.append(1)
        return run_snapshot(spark_, cfg_)

    sleeps = []
    done = run_daemon(
        spark,
        cfg,
        run_fn=flaky_run,
        max_snapshots=1,
        sleep_fn=sleeps.append,
    )
    assert len(attempts) == 2  # fail, backoff, succeed
    assert sleeps == [0.05]  # the reference's retry minimum
    assert len(done) == 1 and done[0]["snapshot_id"] == 1
    assert done[0]["rows"] == 400

    out = spark.read.parquet(done[0]["output"])
    assert out.count() == 400
    # lineage committed exactly one snapshot
    store = LineageStore(cfg.checkpoint_dir)
    assert store.committed_snapshots() == [1]


def test_daemon_idle_poll_backs_off_then_resets(
    spark, tmp_path, corpus_dir, host_meta_path
):
    """Nothing new → poll backoff doubles from 1 s (supervisor.go:155-161);
    a successful snapshot resets it."""
    cfg = _cfg(tmp_path, corpus_dir, host_meta_path)
    sleeps = []
    done = run_daemon(
        spark, cfg, max_iterations=4, sleep_fn=sleeps.append
    )
    # iteration 1 commits the corpus; 2-4 are idle polls backing off
    assert len(done) == 1
    assert sleeps == [1.0, 2.0, 4.0]

    # new file lands → next snapshot picks it up and resets the poll
    from scones.corpus import write_corpus

    extra = tmp_path / "extra"
    write_corpus(str(extra), n_docs=10, n_files=1, seed=7)
    import shutil

    shutil.copy(
        next(extra.glob("*.parquet")), os.path.join(corpus_dir, "late_extra.parquet")
    )
    try:
        sleeps2 = []
        done2 = run_daemon(
            spark, cfg, max_iterations=2, sleep_fn=sleeps2.append
        )
        assert len(done2) == 1 and done2[0]["snapshot_id"] == 2
        assert done2[0]["rows"] == 10
        assert sleeps2 == [1.0]  # idle backoff restarted from the minimum
    finally:
        os.remove(os.path.join(corpus_dir, "late_extra.parquet"))


def test_daemon_stop_event_drains_before_next_attempt(
    spark, tmp_path, corpus_dir, host_meta_path
):
    """A stop request during a snapshot lets it finish (and commit), then
    exits without starting another — the SIGTERM drain contract."""
    import threading

    cfg = _cfg(tmp_path, corpus_dir, host_meta_path)
    stop = threading.Event()
    calls = []

    def run_and_stop(spark_, cfg_):
        calls.append(1)
        out = run_snapshot(spark_, cfg_)
        stop.set()  # SIGTERM arrives while this snapshot is in flight
        return out

    done = run_daemon(spark, cfg, run_fn=run_and_stop, stop_event=stop)
    assert len(calls) == 1  # no second attempt after the stop
    assert len(done) == 1 and done[0]["rows"] == 400


def test_watchdog_abandons_hung_attempt_restarts_session_commits_once(
    spark, tmp_path, corpus_dir, host_meta_path
):
    """Hung-JVM watchdog (round-3 incident): attempts 1-2 stall past the
    wall ceiling → each is abandoned, the session factory is invoked to
    relaunch, and the retry runs under the documented backoff (50 ms →
    100 ms, supervisor.go:171 doubling); attempt 3 commits the snapshot
    EXACTLY once.  The factory is faked here so the suite's shared JVM
    survives; the real teardown path is exercised end-to-end in
    test_watchdog_real_session_rebuild_subprocess."""
    import threading

    from scones.lineage import LineageStore

    cfg = _cfg(tmp_path, corpus_dir, host_meta_path)
    release = threading.Event()
    attempts = []
    factory_calls = []
    events = []

    def stalling_run(spark_, cfg_):
        attempts.append(spark_)
        if len(attempts) <= 2:
            release.wait()  # the py4j call that never answers
            return {"snapshot_id": None}
        # the successful attempt must finish WITHIN the (short) ceiling,
        # so commit directly instead of running a multi-second Spark job
        # under a 0.3 s watchdog; the real-snapshot-under-watchdog path
        # is covered by the subprocess test below with a generous ceiling
        store = LineageStore(cfg_.checkpoint_dir)
        sid = store.next_snapshot_id()
        store.commit(
            sid,
            [
                {
                    "snapshot_id": sid,
                    "src_file": "/in/a.parquet",
                    "offset_start": 0,
                    "offset_end": 400,
                    "row_count": 400,
                }
            ],
        )
        return {"snapshot_id": sid, "rows": 400}

    def fake_factory(old):
        factory_calls.append(old)
        return spark  # pretend-relaunch; keeps the suite's JVM alive

    try:
        sleeps = []
        done = run_daemon(
            spark,
            cfg,
            run_fn=stalling_run,
            max_snapshots=1,
            sleep_fn=sleeps.append,
            snapshot_timeout_sec=0.3,
            session_factory=fake_factory,
            on_event=events.append,
        )
    finally:
        release.set()  # unblock the abandoned worker threads
    assert len(attempts) == 3  # hang, hang, succeed
    assert sleeps == [0.05, 0.1]  # golden doubling under watchdog retries
    assert [e["event"] for e in events if e["event"] != "snapshot"] == [
        "watchdog_restart",
        "watchdog_restart",
    ]
    assert factory_calls == [spark, spark]  # old session handed to factory
    assert len(done) == 1 and done[0]["snapshot_id"] == 1
    assert done[0]["rows"] == 400
    # committed EXACTLY once despite two abandoned attempts
    assert LineageStore(cfg.checkpoint_dir).committed_snapshots() == [1]


def test_watchdog_exits_when_the_launcher_owns_the_jvm(tmp_path, monkeypatch):
    """Under spark-submit pyspark's gateway has no child process: the
    launcher owns the JVM.  A hung attempt then neither tears the session
    down nor relaunches it (a relaunch would reconnect to the gateway the
    teardown shut down); the daemon ends with a non-zero exit for the
    cluster manager to restart the driver, instead of retrying forever.
    Spark-free: a fake gateway and session."""
    import threading

    from pyspark import SparkContext

    import scones.session

    calls = []

    class Gateway:
        proc = None  # connected to a launcher's JVM, not a child

        def shutdown(self):
            calls.append("shutdown")

    class Session:
        def stop(self):
            calls.append("stop")

    monkeypatch.setattr(SparkContext, "_gateway", Gateway())
    monkeypatch.setattr(scones.session, "get_spark", lambda **_: calls.append("launch"))
    release = threading.Event()
    attempts = []

    def stalling_run(spark_, cfg_):
        attempts.append(spark_)
        release.wait()

    cfg = PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        with pytest.raises(SystemExit) as exited:
            run_daemon(
                Session(),
                cfg,
                run_fn=stalling_run,
                max_iterations=3,
                sleep_fn=lambda s: None,
                snapshot_timeout_sec=0.2,
            )
    finally:
        release.set()
    assert exited.value.code not in (None, 0)  # a str code exits with 1
    assert len(attempts) == 1
    assert calls == []


def test_watchdog_real_session_rebuild_subprocess(tmp_path):
    """The REAL teardown: rebuild_session stops the old session, shuts
    down the py4j gateway (killing the JVM) and launches a fresh one; the
    retried snapshot commits on the new session.  Runs in a subprocess
    because the gateway is process-global — killing it in-process would
    take the suite's shared SparkSession with it."""
    import json
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import json, sys, threading
        sys.path.insert(0, %(repo)r)
        from scones.backoff import run_daemon
        from scones.config import PipelineConfig
        from scones.corpus import write_corpus, write_host_meta
        from scones.pipeline import run_snapshot
        from scones.session import get_spark

        base = %(base)r
        write_corpus(base + "/in", n_docs=40, n_files=2, seed=11)
        write_host_meta(base + "/host_meta.parquet")
        cfg = PipelineConfig(
            input_glob=base + "/in/*.parquet",
            output_dir=base + "/out",
            checkpoint_dir=base + "/ckpt",
            host_meta_path=base + "/host_meta.parquet",
            n_sinks=2,
        )
        spark0 = get_spark(master="local[2]", app_name="watchdog-old")
        old_app_id = spark0.sparkContext.applicationId
        old_jvm_pid = spark0.sparkContext._gateway.proc.pid
        seen = []

        def stalling_run(spark_, cfg_):
            seen.append(spark_.sparkContext.applicationId)
            if len(seen) == 1:
                threading.Event().wait()  # stall forever
            return run_snapshot(spark_, cfg_)

        # ceiling must comfortably exceed a REAL snapshot's duration on a
        # fresh JVM (the watchdog applies to successful attempts too) while
        # still bounding the stalled first attempt
        done = run_daemon(
            spark0, cfg, run_fn=stalling_run, max_snapshots=1,
            sleep_fn=lambda s: None, snapshot_timeout_sec=60.0,
        )
        import os, signal
        try:
            os.kill(old_jvm_pid, 0)
            old_jvm_alive = True
        except OSError:
            old_jvm_alive = False
        from scones.lineage import LineageStore
        print(json.dumps({
            "apps": seen,
            "old_app_id": old_app_id,
            "old_jvm_alive": old_jvm_alive,
            "rows": done[0]["rows"],
            "committed": LineageStore(cfg.checkpoint_dir).committed_snapshots(),
        }))
        """
    ) % {
        "repo": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "base": str(tmp_path),
    }
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(res["apps"]) == 2
    assert res["apps"][0] == res["old_app_id"]
    assert res["apps"][1] != res["old_app_id"]  # genuinely new session
    assert not res["old_jvm_alive"]  # old JVM was reaped
    assert res["rows"] == 40
    assert res["committed"] == [1]


def test_run_snapshot_empty_inputs_commit_zero_row_markers(
    spark, tmp_path, host_meta_path
):
    """All-empty planned inputs → explicit no-part-files detection commits
    zero-row consumed markers (not an exception guess — round-2 advice:
    a real read failure must propagate, never mark inputs consumed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scones.corpus import CORPUS_SCHEMA, generate_rows

    src = tmp_path / "empty_in"
    src.mkdir()
    # schema-bearing but zero-row parquet
    tbl = pa.Table.from_pylist(generate_rows(1, seed=1), schema=CORPUS_SCHEMA)
    pq.write_table(tbl.slice(0, 0), str(src / "empty.parquet"))

    cfg = _cfg(tmp_path, str(src), host_meta_path)
    out = run_snapshot(spark, cfg)
    assert out["snapshot_id"] == 1
    assert out["rows"] == 0

    from scones.lineage import LineageStore

    committed = LineageStore(cfg.checkpoint_dir).read_all()
    assert committed.num_rows == 1
    assert committed.column("row_count").to_pylist() == [0]
    # rerun is a no-op (the empty file is consumed)
    assert run_snapshot(spark, cfg)["snapshot_id"] is None


def test_retry_jitter_spreads_but_defaults_off():
    """jitter_frac spreads each retry sleep over [d·(1-f), d·(1+f)]
    (fleet de-lockstep; DIVERGENCE from the reference, which retries on
    the exact doubling sequence — documented in run_daemon).  Default
    0.0 keeps the reference-exact golden sequence, and a seeded rng
    makes the dithered sequence deterministic.  Pure-Python: a failing
    run_fn drives the retry path, no Spark session involved."""
    import random

    def boom(spark, cfg):
        raise RuntimeError("injected")

    # default: no jitter -> exact doubling from the configured minimum
    sleeps = []
    run_daemon(
        None, None, run_fn=boom, retry_min_sec=1.0, retry_max_sec=10.0,
        max_iterations=5, sleep_fn=sleeps.append,
    )
    assert sleeps == [1.0, 2.0, 4.0, 8.0, 10.0]

    # jitter on: every sleep within ±25% of its undithered value, not
    # all exactly equal to it, and reproducible under the same seed
    def dithered():
        out = []
        run_daemon(
            None, None, run_fn=boom, retry_min_sec=1.0, retry_max_sec=10.0,
            max_iterations=5, sleep_fn=out.append,
            jitter_frac=0.25, jitter_rng=random.Random(42),
        )
        return out

    got = dithered()
    for d, base in zip(got, [1.0, 2.0, 4.0, 8.0, 10.0]):
        assert base * 0.75 <= d <= base * 1.25
    assert got != [1.0, 2.0, 4.0, 8.0, 10.0]
    assert got == dithered()


def test_retry_jitter_clamps_misconfigured_fraction():
    """jitter_frac > 1 could make a dithered delay negative and crash
    time.sleep with ValueError (round-5 ADVICE): delays clamp at 0."""
    import random

    def boom(spark, cfg):
        raise RuntimeError("injected")

    class AlwaysLow(random.Random):
        def random(self):  # worst case: 2r-1 = -1 -> factor 1 - f < 0
            return 0.0

    sleeps = []
    run_daemon(
        None, None, run_fn=boom, retry_min_sec=1.0, retry_max_sec=10.0,
        max_iterations=4, sleep_fn=sleeps.append,
        jitter_frac=2.0, jitter_rng=AlwaysLow(),
    )
    assert sleeps == [0.0, 0.0, 0.0, 0.0]
