"""The benchmark's own tests (no Spark session needed).

Run from the root of a checkout:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs  # noqa: E402
from perfbench.run import load_spec, result_line  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, BulkSnapshot  # noqa: E402


def test_benchmark_json_follows_the_contract():
    spec = load_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))


@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_is_printed_with_name_and_unit(trace):
    spec = load_spec()
    wanted = spec["per_layer" if trace else "end_to_end"]
    values = {m["name"]: 1.5 for m in wanted}
    line = json.loads(json.dumps(result_line(spec, trace, values, attempted=3, failed=0)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    for m in wanted:
        assert line["metrics"][m["name"]] == {"value": 1.5, "unit": m["unit"]}
    with pytest.raises(KeyError):
        result_line(spec, trace, {}, attempted=1, failed=0)


def _fake_snapshot(tmp_path, expected_dir: str) -> dict:
    """Write what a correct documents snapshot would land, using only the
    Python oracle and pyarrow, and return run_snapshot's summary shape."""
    from scones.lineage import LineageStore
    from scones.oracle import extract_text

    out = tmp_path / "out_0" / "snapshot_id=1"
    rows_by_sink: dict[int, list] = {}
    lineage = []
    for path in sorted((tmp_path / expected_dir / "in").glob("*.parquet")):
        t = pq.read_table(path, columns=["url", "html"]).to_pylist()
        framed = 0
        for r in t:
            text = extract_text(r["html"])
            framed += r["html"].rfind(b"\n") + 1
            rows_by_sink.setdefault(zlib.crc32(r["url"].encode()) % inputs.N_SINKS, []).append(
                {"url": r["url"], "extracted": text}
            )
        lineage.append(
            {"snapshot_id": 1, "src_file": str(path), "offset_start": 0,
             "offset_end": framed, "row_count": len(t)}
        )
    for sink, rows in rows_by_sink.items():
        d = out / f"sink_id={sink}"
        d.mkdir(parents=True)
        pq.write_table(pa.Table.from_pylist(rows), d / "part-0.parquet")
    LineageStore(str(tmp_path / "ckpt_0")).commit(1, lineage)
    n = sum(len(r) for r in rows_by_sink.values())
    return {"snapshot_id": 1, "rows": n, "n_files": len(lineage), "output": str(out)}


def test_planted_mismatch_fails_the_operation(tmp_path):
    wl = BulkSnapshot(str(tmp_path), str(tmp_path), seed=3, processes=2)
    wl.N_DOCS, wl.N_FILES = 60, 2
    wl.prepare(seconds=1)
    cache_rel = os.path.relpath(wl.cache, tmp_path)
    wl.summaries[0] = _fake_snapshot(tmp_path, cache_rel)
    assert wl.check(0) == []

    wl.expected[0]["sinks"][1][0] += 1  # one sink's expected count off by one
    errors = wl.check(0)
    assert errors and "sink 1" in errors[0]
    line = result_line(load_spec(), False, {m["name"]: 1.0 for m in load_spec()["end_to_end"]},
                       attempted=1, failed=int(bool(errors)))
    assert line["correct"] is False and line["failed"] / line["attempted"] > 0


def _tail_digest(root: str, seed: int) -> str:
    d, manifest = inputs.cached(
        root, f"tail-s{seed}", lambda d: inputs.build_tail(d, 3, 50, seed)
    )
    return manifest["input_digest"]


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = _tail_digest(str(tmp_path / "a"), seed=7)
    b = _tail_digest(str(tmp_path / "b"), seed=7)
    c = _tail_digest(str(tmp_path / "c"), seed=8)
    assert a == b
    assert a != c


def test_corpus_inputs_are_byte_identical_per_seed(tmp_path):
    def digest(root, seed):
        return inputs.cached(
            root, "c", lambda d: inputs.build_corpus(d, 40, 2, seed, processes=2)
        )[1]["input_digest"]

    assert digest(str(tmp_path / "a"), 5) == digest(str(tmp_path / "b"), 5)
    assert digest(str(tmp_path / "a"), 5) != digest(str(tmp_path / "c"), 6)


def test_tail_rounds_follow_the_partial_line_rule(tmp_path):
    from scones.oracle import frame_bytes

    meta = inputs.build_tail_file(str(tmp_path), 0, 6, 40, 11)
    data = b""
    prev = 0
    for r, want in enumerate(meta["rounds"]):
        data += inputs.tail_chunk(str(tmp_path), 0, r)
        assert len(data) == want["size"]
        framed = frame_bytes(data[prev:])
        assert prev + framed.position == want["offset_end"]
        assert len(framed.lines) == want["lines"]
        prev = want["offset_end"]
    assert any(r["size"] != r["offset_end"] for r in meta["rounds"])  # some partial lines


def _event_log(tmp_path):
    plan = {
        "nodeName": "MapInArrow",
        "metrics": [{"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"}],
        "children": [
            {"nodeName": "BroadcastExchange",
             "metrics": [{"name": "data size", "accumulatorId": 9, "metricType": "size"}],
             "children": []},
        ],
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan, "jobGroupId": "op-1"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "op-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {"Accumulables": [
            {"ID": 1, "Name": "internal.metrics.executorRunTime", "Update": 100}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {"Accumulables": [
            {"ID": 1, "Name": "internal.metrics.executorRunTime", "Update": 300}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[9, 4096]]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Number of Tasks": 2, "Accumulables": [
                {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": 400},
                {"ID": 7, "Name": "time to run Python workers", "Value": "250"}]}},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    with open(d / "events_1_app", "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")
    return str(tmp_path)


def test_event_log_rows_are_attributed_to_operations(tmp_path):
    rows = eventlog.metric_rows(_event_log(tmp_path), "bulk_snapshot")
    assert all(set(r) == {"workload", "op", "stage", "operator", "metric", "value"} for r in rows)
    assert eventlog.op_sum(rows, "op-1", "executorRunTime", "task") == 400
    assert eventlog.op_sum(rows, "op-1", "time to run Python workers", "MapInArrow") == 250
    assert eventlog.op_sum(rows, "op-1", "data size", "BroadcastExchange") == 4096
    assert eventlog.op_sum(rows, "op-1", "task_run_max_ms") == 300
    assert eventlog.op_stages(rows, "op-1", "MapInArrow") == {3}
    assert eventlog.op_sum(rows, "op-2", "executorRunTime") == 0


def test_self_time_subtracts_child_spans():
    tr = Tracer()
    with tr.span("lineage.outside"):  # no operation open: not recorded
        pass
    with tr.operation("op-0", "pipeline.run"):
        time.sleep(0.02)
        with tr.span("lineage.plan"):
            with tr.span("lineage.read"):
                time.sleep(0.03)
    assert [s["name"] for s in tr.spans] == ["pipeline.run", "lineage.plan", "lineage.read"]
    self_s = tr.self_times("op-0")
    root = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert self_s["lineage"] == pytest.approx(tr.total("op-0", "lineage.plan"), abs=1e-9)
    assert self_s["pipeline"] + self_s["lineage"] == pytest.approx(root, abs=1e-9)
    assert self_s["pipeline"] >= 0.015


def test_tracer_restores_what_it_wraps():
    import scones.pipeline
    from scones.lineage import LineageStore

    before = (scones.pipeline.plan_new_files, LineageStore.__dict__["read_all"])
    tr = Tracer()
    tr.install()
    assert scones.pipeline.plan_new_files is not before[0]
    tr.uninstall()
    assert (scones.pipeline.plan_new_files, LineageStore.__dict__["read_all"]) == before


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_snapshot",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
