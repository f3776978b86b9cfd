"""Exponential backoff + the batch supervisor (daemon) loop.

The reference runs as a daemon that retries failed work forever with a
doubling, capped backoff and keeps polling for new input when idle
(supervisor.go:94-162 reader loop, supervisor.go:166-231 send loop,
exponential_backoff.go:7-38).  Here the unit of retry is a whole
snapshot run: a snapshot that fails anywhere before the lineage commit
left no committed state (the write is an idempotent overwrite of the
same ``snapshot_id=N`` directory and admission replans the same input
files), so "retry forever with backoff" composes with the existing
effectively-once machinery instead of needing a chunk requeue channel.

Doubling semantics are pinned by the reference's own golden test
(exponential_backoff_test.go:8-53: min=1 max=10 → 1, 2, 4, 8, 10, 10;
reset → 1) in tests/test_backoff_daemon.py.
"""

from __future__ import annotations

import random
import threading
import time
from typing import Callable

# the reference's retry constants (supervisor.go:101, 171)
RETRY_MIN_SEC = 0.050
RETRY_MAX_SEC = 5.0


class ExponentialBackoff:
    """Doubling backoff with a cap (exponential_backoff.go:7-38).

    ``next()`` returns the minimum on first use, then doubles up to the
    maximum; ``reset()`` re-arms it.  Mirrors the reference's Current /
    Next / Reset surface so its golden test replays verbatim.
    """

    def __init__(self, minimum: float, maximum: float) -> None:
        self.minimum = float(minimum)
        self.maximum = float(maximum)
        self._current = 0.0

    def current(self) -> float:
        if self._current == 0.0:
            self._current = self.minimum
        return self._current

    def next(self) -> float:
        if self._current == 0.0:
            self._current = self.minimum
        else:
            self._current = min(self._current * 2.0, self.maximum)
        return self._current

    def reset(self) -> None:
        self._current = 0.0


class SnapshotTimeout(RuntimeError):
    """A snapshot attempt exceeded the daemon's wall-time ceiling."""


def _attempt_with_timeout(run_fn, spark, cfg, timeout_sec: float) -> dict:
    """Run one snapshot attempt on a worker thread, bounded by a wall
    ceiling.  On breach the worker is ABANDONED (a py4j call against a
    hung JVM never returns — round-3 incident — so joining it would
    re-create the hang in the supervisor) and :class:`SnapshotTimeout`
    is raised for the caller to tear the session down.

    If the abandoned attempt later wakes up it either dies on the
    stopped session or reaches its lineage commit — where it is FENCED
    OUT: the retry's run fenced a newer attempt epoch
    (LineageStore.fence_attempt), so the stale commit raises
    StaleAttemptError instead of overwriting the retry's manifest with
    its smaller planned-file set (which would have re-admitted the
    difference as duplicates).  Effectively-once holds either way.
    """
    result: list = []
    error: list = []

    def work() -> None:
        try:
            result.append(run_fn(spark, cfg))
        except BaseException as exc:  # ferried to the supervisor thread
            error.append(exc)

    t = threading.Thread(target=work, daemon=True, name="scones-snapshot")
    t.start()
    t.join(timeout_sec)
    if t.is_alive():
        raise SnapshotTimeout(
            f"snapshot attempt exceeded {timeout_sec}s wall ceiling"
        )
    if error:
        raise error[0]
    return result[0]


def run_daemon(
    spark,
    cfg,
    run_fn: Callable | None = None,
    poll_min_sec: float = 1.0,
    poll_max_sec: float = 10.0,
    retry_min_sec: float = RETRY_MIN_SEC,
    retry_max_sec: float = RETRY_MAX_SEC,
    max_snapshots: int | None = None,
    max_iterations: int | None = None,
    sleep_fn: Callable[[float], None] = time.sleep,
    stop_event: threading.Event | None = None,
    on_event: Callable[[dict], None] | None = None,
    snapshot_timeout_sec: float | None = None,
    session_factory: Callable | None = None,
    jitter_frac: float = 0.0,
    jitter_rng: random.Random | None = None,
) -> list[dict]:
    """Supervise snapshot runs until stopped (the reference's daemon loop).

    Per iteration:
      * run one snapshot (``run_fn(spark, cfg)``, default
        :func:`scones.pipeline.run_snapshot`);
      * failure → sleep ``retry`` backoff and try again, forever
        (supervisor.go:191-209 "failed to send chunk / retrying" —
        admission replans the exact same uncommitted inputs);
      * success → reset both backoffs (supervisor.go:211 backoff.Reset);
      * nothing new → sleep ``poll`` backoff (supervisor.go:155-161
        "no lines available to send / backing off").

    Drain is graceful: ``stop_event`` is only checked between snapshot
    attempts, so an in-flight snapshot always finishes (and commits or
    leaves no state) before exit — the reference's SIGTERM contract
    (supervisor.go:91-94 Stop(): wait for in-flight chunks to be acked);
    ``python -m scones.pipeline --daemon`` sets the event on SIGTERM/SIGINT.

    ``max_snapshots`` / ``max_iterations`` bound the loop for tests and
    one-shot-ish invocations; both default to unbounded like the
    reference.  Returns the summaries of committed snapshots.

    ``snapshot_timeout_sec`` arms the hung-JVM watchdog (round-3
    incident: a local Spark JVM hung with zero CPU and the py4j call
    never answered, which would stall this loop forever — precisely the
    failure the reference's retry loop exists to survive,
    supervisor.go:173-209).  An attempt that exceeds the ceiling is
    abandoned, the SparkSession is torn down and relaunched via
    ``session_factory(old_session)`` (default
    :func:`scones.session.rebuild_session` — bounded stop, gateway
    shutdown, JVM kill, fresh launch), and the snapshot retries under
    the normal failure backoff.  Effectively-once tolerates the re-run:
    the retry replans the same uncommitted inputs into the same
    snapshot id and overwrites idempotently.

    ``jitter_frac`` (DIVERGENCE from the reference: supervisor.go /
    exponential_backoff.go retry on the exact doubling sequence) spreads
    each sleep uniformly over ``[d·(1-f), d·(1+f)]`` so a fleet of
    daemons that failed together (shared sink outage) doesn't retry in
    lockstep against the recovering service.  Default 0.0 = off =
    bit-exact reference semantics; the golden backoff test pins the
    undithered sequence.  ``jitter_rng`` takes a seeded
    ``random.Random`` for deterministic tests.
    """
    if run_fn is None:
        from .pipeline import run_snapshot

        run_fn = run_snapshot
    if session_factory is None:
        from .session import rebuild_session as session_factory

    retry = ExponentialBackoff(retry_min_sec, retry_max_sec)
    poll = ExponentialBackoff(poll_min_sec, poll_max_sec)
    rng = jitter_rng if jitter_rng is not None else random.Random()

    def jittered(d: float) -> float:
        if jitter_frac <= 0.0:
            return d
        # clamp: a misconfigured jitter_frac > 1 could otherwise produce
        # a negative delay, and time.sleep(negative) raises ValueError —
        # crashing the supervisor loop the jitter exists to harden
        # (round-5 ADVICE)
        return max(0.0, d * (1.0 + jitter_frac * (2.0 * rng.random() - 1.0)))

    done: list[dict] = []
    iterations = 0
    while True:
        if stop_event is not None and stop_event.is_set():
            break
        if max_iterations is not None and iterations >= max_iterations:
            break
        iterations += 1
        try:
            if snapshot_timeout_sec is not None:
                summary = _attempt_with_timeout(
                    run_fn, spark, cfg, snapshot_timeout_sec
                )
            else:
                summary = run_fn(spark, cfg)
        except SnapshotTimeout as exc:
            # hung session: kill + relaunch (a hung JVM never answers,
            # so reap it rather than wait), then retry the snapshot under
            # the usual backoff.  A FAILED relaunch (transient OOM
            # pre-touching the host-sized heap, port exhaustion) must not
            # kill the supervisor — keep the old handle; the next attempt
            # will time out again and the relaunch retries under the same
            # backoff, forever, like everything else in this loop.
            relaunch_err = None
            try:
                spark = session_factory(spark)
            except Exception as factory_exc:
                relaunch_err = repr(factory_exc)
            delay = jittered(retry.next())
            if on_event is not None:
                on_event(
                    {
                        "event": "watchdog_restart",
                        "delay_sec": delay,
                        "error": repr(exc),
                        **(
                            {"relaunch_error": relaunch_err}
                            if relaunch_err
                            else {}
                        ),
                    }
                )
            sleep_fn(delay)
            continue
        except Exception as exc:  # retry forever, like the reference
            delay = jittered(retry.next())
            if on_event is not None:
                on_event({"event": "retry", "delay_sec": delay, "error": repr(exc)})
            sleep_fn(delay)
            continue
        if summary.get("snapshot_id") is None:
            delay = jittered(poll.next())
            if on_event is not None:
                on_event({"event": "idle", "delay_sec": delay})
            sleep_fn(delay)
            continue
        retry.reset()
        poll.reset()
        done.append(summary)
        if on_event is not None:
            on_event({"event": "snapshot", "summary": summary})
        if max_snapshots is not None and len(done) >= max_snapshots:
            break
    return done
