"""scones benchmark: one closed-loop workload per invocation.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload bulk_snapshot --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run; both are listed, with units, in BENCHMARK.json.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Inputs are made
from ``--seed`` before any timing; ``--seconds`` fixes how many
operations are measured.  Scratch state lives under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 1])."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(spec: dict, trace: bool, values: dict, attempted: int, failed: int) -> dict:
    """The final JSON object: every metric of the chosen list, with its unit."""
    wanted = spec["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
        },
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import hostenv
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    spec = load_spec()
    facts = hostenv.host_facts()
    work = os.path.join(ROOT, ".perfbench", "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    hostenv.scratch_dir(work)
    wl = WORKLOADS[workload](ROOT, work, seed, facts["nproc"])

    t = time.perf_counter()
    sizes = wl.prepare(seconds)
    gen_s = time.perf_counter() - t

    extra_conf = None
    tracer = Tracer() if trace else None
    event_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(event_dir)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        }
    wl.tracer = tracer

    t0 = time.perf_counter()
    spark = hostenv.start_session(facts, work, extra_conf)
    launch_s = time.perf_counter() - t0
    try:
        wl.spark = spark
        m = run_ops(wl, spark.sparkContext, tracer, wl.warm_ops, wl.n_ops(seconds), t0)
    finally:
        t = time.perf_counter()
        hostenv.stop_session(spark)
    print(f"[{workload}] input {gen_s:.1f}s, setup {m.setup_s:.1f}s, "
          f"operations+checks {t - t0 - m.setup_s:.1f}s, stop {time.perf_counter() - t:.1f}s",
          file=sys.stderr)

    body_times = list(m.op_s.values())
    info = {
        "workload": workload,
        "seed": seed,
        "host": facts,
        "inputs": sizes,
        "input_digest": wl.manifest["input_digest"],
        "input_gen_s": round(gen_s, 3),
        "ops": {"warm": wl.warm_ops, "timed": len(body_times)},
    }
    if not body_times:
        raise RuntimeError("no operation completed")
    if trace:
        values = traced_values(wl, tracer, event_dir, work, m, launch_s)
    else:
        values = {
            "setup_s": m.setup_s,
            "records_per_s": m.records / sum(body_times),
            "op_p50_s": statistics.median(body_times),
            "op_p75_s": percentile(body_times, 0.75),
            "cpu_s": m.cpu_s,
            "peak_rss_mb": statistics.median(m.op_rss_mb),
            "output_mb": m.out_bytes / 1e6,
        }
        info["op_samples"] = len(body_times)
        info["op_s"] = [round(x, 3) for x in body_times]
        info["records"] = {"count": m.records, "unit": wl.record_unit}
    print(json.dumps(info))
    result = result_line(spec, trace, values, m.attempted, m.failed)
    for name, m in result["metrics"].items():
        print(f"{workload:18s} {name:36s} {m['value']:>16.6g} {m['unit']}")
    return result


@dataclass
class Measured:
    """What the closed loop measured; per-operation dicts are keyed by
    operation index and hold timed (post-warm-up) operations only."""

    setup_s: float = 0.0
    op_s: dict[int, float] = field(default_factory=dict)
    op_rss_mb: list[float] = field(default_factory=list)
    records: int = 0
    cpu_s: float = 0.0
    out_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    traced_ops: list[int] = field(default_factory=list)


def run_ops(wl, sc, tracer, n_warm: int, n_body: int, t0: float) -> Measured:
    """The closed loop: warm-up, then the timed operations, each followed
    by its (untimed) check and, in traced rounds, its ladder."""
    from perfbench import hostenv

    m = Measured()
    with hostenv.PeakRss() as rss:
        for i in range(n_warm + n_body):
            if i == n_warm:
                m.setup_s = time.perf_counter() - t0
            body = i >= n_warm
            traced = tracer is not None and body and (i - n_warm) % 2 == 0
            op_id = f"op-{i}"
            m.attempted += 1
            try:
                wl.before(i)
                sc.setJobGroup(op_id, f"{wl.name} operation {i}")
                if traced:
                    tracer.install()
                c0 = hostenv.tree_usage()[0]
                rss.start()
                t = time.perf_counter()
                if traced:
                    with tracer.operation(op_id, wl.root_span):
                        n = wl.op(i)
                else:
                    n = wl.op(i)
                dt = time.perf_counter() - t
                peak = rss.stop()
                c1 = hostenv.tree_usage()[0]
                if traced:
                    tracer.uninstall()
                errors = wl.check(i)
                if body:
                    m.op_s[i] = dt
                    m.op_rss_mb.append(peak)
                    m.records += n
                    m.cpu_s += c1 - c0
                    m.out_bytes += wl.output_bytes(i)
                if traced:
                    sc.setJobGroup(f"{op_id}-ladder", f"{wl.name} ladder {i}")
                    wl.ladder(i)
                    m.traced_ops.append(i)
            except Exception:  # noqa: BLE001 - a failed operation is counted, the loop goes on
                rss.stop()
                if tracer is not None:
                    tracer.uninstall()
                errors = [traceback.format_exc()]
            if errors:
                m.failed += 1
                for e in errors:
                    print(f"[{wl.name}] FAILED: {e}", file=sys.stderr)
    return m

def traced_values(wl, tracer, event_dir, work, m: Measured, launch_s: float) -> dict:
    """Per-layer medians over the traced operations, plus self time and
    the tracing overhead (traced vs untraced operations of this run)."""
    from perfbench import eventlog

    rows = eventlog.metric_rows(event_dir, wl.name)
    with open(os.path.join(work, "trace_spans.json"), "w") as f:
        json.dump(tracer.spans, f)
    with open(os.path.join(work, "eventlog_rows.json"), "w") as f:
        json.dump(rows, f)
    per_op: dict[str, list[float]] = {}
    for i in m.traced_ops:
        for k, v in wl.layers(i, f"op-{i}", rows).items():
            per_op.setdefault(k, []).append(v)
    values = {k: statistics.median(v) for k, v in per_op.items()}
    values["session.launch_s"] = launch_s

    untraced = [t for i, t in m.op_s.items() if i not in m.traced_ops]
    traced = [t for i, t in m.op_s.items() if i in m.traced_ops]
    values["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(untraced) - 1 if traced and untraced else 0.0
    )
    for m in load_spec()["per_layer"]:
        values.setdefault(m["name"], 0.0)  # layers this workload never enters
    return values


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    missing = [
        n for n in ("scones", "__spark_entry__.py", "BENCHMARK.json")
        if not os.path.exists(os.path.join(ROOT, n))
    ]
    if missing:
        print(f"not a scones checkout (missing {missing}): nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
