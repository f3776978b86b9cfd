"""The closed-loop workloads (trickle_snapshots is runnable by hand but
not listed in BENCHMARK.json, whose run budget fits three).

Each workload drives the program only through its public functions and
splits every operation into three parts: ``before`` (untimed: land
files, append log lines), ``op`` (timed: one snapshot through its
commit, or one query pass to its sink) and ``check`` (untimed: compare
the output with the expected result).  A traced run adds ``ladder``
(untimed): the lazy DataFrame layers over the same input, each rung run
to the noop sink, so per-layer time can be read off the differences.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import zlib

from . import inputs
from .eventlog import op_stages, op_sum


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _parquet_bytes(d: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``d``."""
    files = glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


def _read_dataset(d: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(d, format="parquet", partitioning="hive").to_table(columns=columns)


class Workload:
    name = ""
    record_unit = "records"
    root_span = ""
    #: median operation time on the 4-core reference host; with
    #: ``--seconds`` it fixes how many operations one run measures, so
    #: both sides of a comparison do the same work
    nominal_op_s = 1.0
    warm_ops = 1
    min_ops = 4

    def __init__(self, root: str, work: str, seed: int, processes: int):
        self.root = root
        self.work = work
        self.seed = seed
        self.processes = processes
        self.spark = None
        self.tracer = None
        self.ladders: dict[int, dict[str, float]] = {}
        self.summaries: dict[int, dict] = {}
        self.sink_rows: dict[int, list[int]] = {}
        self.output_files: dict[int, int] = {}
        self.manifest_files: dict[int, int] = {}

    def n_ops(self, seconds: float) -> int:
        return max(self.min_ops, round(seconds / self.nominal_op_s))

    def total_ops(self, seconds: float) -> int:
        return self.warm_ops + self.n_ops(seconds)

    def prepare(self, seconds: float) -> dict:
        raise NotImplementedError

    def before(self, i: int) -> None:
        pass

    def op(self, i: int) -> int:
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        raise NotImplementedError

    def output_bytes(self, i: int) -> int:
        raise NotImplementedError

    def ladder(self, i: int) -> None:
        pass

    def _count_files(self, i: int, snap_dir: str, ckpt: str) -> None:
        """Files an operation left behind, counted before cleanup."""
        self.output_files[i] = _parquet_bytes(snap_dir)[1]
        self.manifest_files[i] = len(glob.glob(os.path.join(ckpt, "lineage", "*.parquet")))

    def layers(self, i: int, op_id: str, rows: list[dict]) -> dict[str, float]:
        """Per-layer values of traced operation ``i``."""
        out = _event_layers(rows, op_id)
        tr = self.tracer
        for module, t in tr.self_times(op_id).items():
            out[f"{module}.self_s"] = t
        return out


def _event_layers(rows: list[dict], op_id: str) -> dict[str, float]:
    """Stage and SQL metrics of one operation from the event log."""
    out: dict[str, float] = {
        "pipeline.gc_s": op_sum(rows, op_id, "jvmGCTime", "task") / 1e3,
        "pipeline.spill_bytes": op_sum(rows, op_id, "memoryBytesSpilled", "task")
        + op_sum(rows, op_id, "diskBytesSpilled", "task"),
    }
    py = op_stages(rows, op_id, "MapInArrow")
    if py:  # the stage that runs the Python framing kernel is the write stage
        stage = max(py, key=lambda s: op_sum(rows, op_id, "executorRunTime", "task", {s}))
        ws = {stage}
        med = op_sum(rows, op_id, "task_run_median_ms", "task", ws)
        out.update(
            {
                "pipeline.task_run_s": op_sum(rows, op_id, "executorRunTime", "task", ws) / 1e3,
                "pipeline.task_cpu_s": op_sum(rows, op_id, "executorCpuTime", "task", ws) / 1e9,
                "pipeline.tasks": op_sum(rows, op_id, "tasks", "task", ws),
                "pipeline.task_skew": (
                    op_sum(rows, op_id, "task_run_max_ms", "task", ws) / med if med else 1.0
                ),
                "extract.python_run_s": op_sum(rows, op_id, "time to run Python workers") / 1e3,
                "extract.python_init_s": op_sum(rows, op_id, "time to initialize Python workers")
                / 1e3,
                "extract.bytes_to_python": op_sum(rows, op_id, "data sent to Python workers"),
                "extract.bytes_from_python": op_sum(
                    rows, op_id, "data returned from Python workers"
                ),
            }
        )
    return out


class _DocsSnapshot(Workload):
    """Shared parts of the two documents-mode snapshot workloads."""

    record_unit = "docs"
    root_span = "pipeline.run_snapshot"

    def _corpus(self, n_docs: int, n_files: int) -> None:
        key = f"corpus-s{self.seed}-d{n_docs}-f{n_files}"
        self.cache, manifest = inputs.cached(
            self.root,
            key,
            lambda d: inputs.build_corpus(d, n_docs, n_files, self.seed, self.processes),
        )
        self.manifest = manifest
        self.expected = manifest["files"]
        self.host_meta = os.path.join(self.cache, "host_meta.parquet")

    def config(self, i: int):
        raise NotImplementedError

    def op_files(self, i: int) -> list[dict]:
        raise NotImplementedError

    def op(self, i: int) -> int:
        from scones.pipeline import run_snapshot

        summary = run_snapshot(self.spark, self.config(i))
        self.summaries[i] = summary
        return summary["rows"]

    def output_bytes(self, i: int) -> int:
        return _parquet_bytes(self.summaries[i]["output"])[0]

    def check(self, i: int) -> list[str]:
        from scones.lineage import LineageStore

        s = self.summaries.get(i)
        files = self.op_files(i)
        if s is None or s.get("snapshot_id") is None:
            return [f"op {i}: no snapshot committed"]
        errors = []
        want_rows = sum(f["rows"] for f in files)
        if s["rows"] != want_rows or s["n_files"] != len(files):
            errors.append(f"op {i}: summary rows/files {s['rows']}/{s['n_files']} != {want_rows}/{len(files)}")
        t = _read_dataset(s["output"], ["url", "extracted", "sink_id"])
        got = [[0, 0, 0] for _ in range(inputs.N_SINKS)]
        urls: list[set] = [set() for _ in range(inputs.N_SINKS)]
        for url, text, sink in zip(
            t.column("url").to_pylist(),
            t.column("extracted").to_pylist(),
            t.column("sink_id").to_pylist(),
        ):
            g = got[sink]
            g[0] += 1
            g[1] += len(text)
            g[2] += inputs.row_digest(url, text)
            urls[sink].add(url)
        want = [[0, 0, 0] for _ in range(inputs.N_SINKS)]
        for f in files:
            for k in range(inputs.N_SINKS):
                for j in range(3):
                    want[k][j] += f["sinks"][k][j]
        for k in range(inputs.N_SINKS):
            if got[k] != want[k] or len(urls[k]) != want[k][0]:
                errors.append(
                    f"op {i} sink {k}: rows/bytes/digest/distinct "
                    f"{got[k] + [len(urls[k])]} != {want[k] + [want[k][0]]}"
                )
        self.sink_rows[i] = [g[0] for g in got]
        cfg = self.config(i)
        lineage = [
            r
            for r in LineageStore(cfg.checkpoint_dir).read_all().to_pylist()
            if r["snapshot_id"] == s["snapshot_id"]
        ]
        by_file = {os.path.basename(r["src_file"]): r for r in lineage}
        for f in files:
            r = by_file.get(f["file"])
            if r is None or (r["row_count"], r["offset_end"]) != (f["rows"], f["framed_bytes"]):
                errors.append(f"op {i}: lineage of {f['file']} is {r}, want rows={f['rows']} offset_end={f['framed_bytes']}")
        if len(lineage) != len(files):
            errors.append(f"op {i}: {len(lineage)} lineage rows for {len(files)} files")
        self._count_files(i, s["output"], cfg.checkpoint_dir)
        return errors

    def ladder(self, i: int) -> None:
        from pyspark.sql import functions as F

        from scones.enrich import enrich_broadcast
        from scones.extract import extract_documents
        from scones.metrics import observed
        from scones.route import with_sink_id

        spark = self.spark
        files = [os.path.join(self.cache, "in", f["file"]) for f in self.op_files(i)]
        df = (
            spark.read.parquet(*files)
            .withColumn("src_file", F.col("_metadata.file_path"))
            .drop("text")
        )
        rungs = {"scan": _noop(df)}
        df = extract_documents(df)
        rungs["extract"] = _noop(df.drop("html", "extracted_str"))
        df = enrich_broadcast(df, spark.read.parquet(self.host_meta))
        rungs["enrich"] = _noop(df.drop("html", "extracted_str"))
        df, _ = observed(with_sink_id(df, inputs.N_SINKS))
        rungs["route"] = _noop(df.drop("html", "extracted_str"))
        self.ladders[i] = rungs

    def layers(self, i: int, op_id: str, rows: list[dict]) -> dict[str, float]:
        out = super().layers(i, op_id, rows)
        s, rung, tr = self.summaries[i], self.ladders[i], self.tracer
        sinks = self.sink_rows.get(i) or [0]
        out.update(
            {
                "pipeline.plan_s": s["plan_sec"],
                "pipeline.write_s": s["write_sec"],
                "pipeline.audit_commit_s": s["audit_commit_sec"],
                "pipeline.build_plan_s": tr.total(op_id, "pipeline.build_plan"),
                "pipeline.scan_s": rung["scan"],
                "pipeline.sink_write_s": s["write_sec"] - rung["route"],
                "pipeline.output_files": self.output_files[i],
                "extract.frame_s": rung["extract"] - rung["scan"],
                "enrich.join_s": rung["enrich"] - rung["extract"],
                "enrich.broadcast_bytes": op_sum(rows, op_id, "data size", "BroadcastExchange"),
                "route.route_s": rung["route"] - rung["enrich"],
                "route.sink_skew": max(sinks) / (sum(sinks) / len(sinks)) if sum(sinks) else 1.0,
                "lineage.plan_s": tr.total(op_id, "lineage.plan"),
                "lineage.manifest_read_s": tr.total(op_id, "lineage.manifest_read"),
                "lineage.manifest_files": self.manifest_files[i],
                "lineage.audit_s": tr.total(op_id, "lineage.audit"),
                "lineage.commit_s": tr.total(op_id, "lineage.commit"),
                "lineage.compactions": tr.count(op_id, "lineage.compact"),
                "statsserver.persist_s": tr.total(op_id, "statsserver.persist"),
            }
        )
        return out


class BulkSnapshot(_DocsSnapshot):
    """One snapshot admits a whole corpus into a fresh checkpoint."""

    name = "bulk_snapshot"
    N_DOCS = 24_000
    N_FILES = 16
    nominal_op_s = 2.2
    warm_ops = 2
    min_ops = 6

    def prepare(self, seconds: float) -> dict:
        self._corpus(self.N_DOCS, self.N_FILES)
        return {"docs": self.N_DOCS, "files": self.N_FILES}

    def config(self, i: int):
        from scones.config import PipelineConfig

        return PipelineConfig(
            input_glob=os.path.join(self.cache, "in", "*.parquet"),
            output_dir=os.path.join(self.work, f"out_{i}"),
            checkpoint_dir=os.path.join(self.work, f"ckpt_{i}"),
            host_meta_path=self.host_meta,
            n_sinks=inputs.N_SINKS,
        )

    def before(self, i: int) -> None:
        # keep disk use flat: the previous operation's output was checked
        for d in glob.glob(os.path.join(self.work, f"*_{i - 2}")):
            shutil.rmtree(d)

    def op_files(self, i: int) -> list[dict]:
        return self.expected


class TrickleSnapshots(_DocsSnapshot):
    """Many small snapshots into one long-lived checkpoint."""

    name = "trickle_snapshots"
    DOCS_PER_FILE = 2_000
    FILES_PER_OP = 2
    nominal_op_s = 2.5
    warm_ops = 2
    min_ops = 4

    def prepare(self, seconds: float) -> dict:
        n_files = self.FILES_PER_OP * self.total_ops(seconds)
        self._corpus(self.DOCS_PER_FILE * n_files, n_files)
        self.landing = os.path.join(self.work, "in")
        os.makedirs(self.landing)
        return {"docs_per_file": self.DOCS_PER_FILE, "files_per_op": self.FILES_PER_OP}

    def config(self, i: int):
        from scones.config import PipelineConfig

        return PipelineConfig(
            input_glob=os.path.join(self.landing, "*.parquet"),
            output_dir=os.path.join(self.work, "out"),
            checkpoint_dir=os.path.join(self.work, "ckpt"),
            host_meta_path=self.host_meta,
            n_sinks=inputs.N_SINKS,
        )

    def op_files(self, i: int) -> list[dict]:
        k = self.FILES_PER_OP
        return self.expected[i * k : (i + 1) * k]

    def before(self, i: int) -> None:
        for f in self.op_files(i):
            src = os.path.join(self.cache, "in", f["file"])
            os.link(src, os.path.join(self.landing, f["file"]))

class TailAppend(Workload):
    """Log lines appended to 16 growing files between tail snapshots."""

    name = "tail_append"
    record_unit = "lines"
    root_span = "tailsource.run_tail_snapshot"
    LINES_PER_ROUND = 1_500
    nominal_op_s = 2.4
    warm_ops = 3
    min_ops = 6

    def prepare(self, seconds: float) -> dict:
        rounds = self.total_ops(seconds)
        key = f"tail-s{self.seed}-l{self.LINES_PER_ROUND}-r{rounds}"
        self.cache, self.manifest = inputs.cached(
            self.root,
            key,
            lambda d: inputs.build_tail(d, rounds, self.LINES_PER_ROUND, self.seed),
        )
        self.logs = os.path.join(self.work, "logs")
        os.makedirs(self.logs)
        self.appended: dict[int, int] = {}
        return {"files": inputs.TAIL_FILES, "lines_per_round": self.LINES_PER_ROUND}

    def _path(self, f: int) -> str:
        return os.path.join(self.logs, self.manifest["files"][f]["file"])

    def before(self, i: int) -> None:
        appended = 0
        for f, meta in enumerate(self.manifest["files"]):
            chunk = inputs.tail_chunk(self.cache, f, i)
            with open(self._path(f), "ab") as fh:
                fh.write(chunk)
            prev = meta["rounds"][i - 1]["offset_end"] if i else 0
            appended += meta["rounds"][i]["size"] - prev
        self.appended[i] = appended  # bytes past the last committed offsets

    def op(self, i: int) -> int:
        from scones.tailsource import run_tail_snapshot

        summary = run_tail_snapshot(
            self.spark,
            os.path.join(self.logs, "*.log"),
            os.path.join(self.work, "out"),
            os.path.join(self.work, "ckpt"),
            n_sinks=inputs.N_SINKS,
        )
        self.summaries[i] = summary
        return summary["lines"]

    def output_bytes(self, i: int) -> int:
        return _parquet_bytes(self.summaries[i]["output"])[0]

    def check(self, i: int) -> list[str]:
        from scones.lineage import LineageStore
        from scones.oracle import frame_bytes

        s = self.summaries.get(i)
        if s is None or s.get("snapshot_id") != i + 1:
            return [f"op {i}: snapshot {s and s.get('snapshot_id')} != {i + 1}"]
        errors = []
        lineage = {
            r["src_file"]: r
            for r in LineageStore(os.path.join(self.work, "ckpt")).read_all().to_pylist()
            if r["snapshot_id"] == s["snapshot_id"]
        }
        want = [[0, 0] for _ in range(inputs.N_SINKS)]  # lines, digest
        want_lines = 0
        for f, meta in enumerate(self.manifest["files"]):
            path = self._path(f)
            start = meta["rounds"][i - 1]["offset_end"] if i else 0
            end, n = meta["rounds"][i]["offset_end"], meta["rounds"][i]["lines"]
            r = lineage.get(path)
            if r is None or (r["offset_start"], r["offset_end"], r["row_count"]) != (start, end, n):
                errors.append(f"op {i}: lineage of {meta['file']} is {r}, want {start}..{end} with {n} lines")
            with open(path, "rb") as fh:
                fh.seek(start)
                framed = frame_bytes(fh.read(end - start))
            if len(framed.lines) != n:
                errors.append(f"op {i}: {meta['file']} frames {len(framed.lines)} lines, generator wrote {n}")
            want_lines += n
            for line, hwm in zip(framed.lines, framed.hwms):
                w = want[zlib.crc32(f"{path}@{start + hwm}".encode()) % inputs.N_SINKS]
                w[0] += 1
                w[1] += zlib.crc32(line) + start + hwm
        if s["lines"] != want_lines:
            errors.append(f"op {i}: {s['lines']} lines committed, want {want_lines}")
        t = _read_dataset(s["output"], ["line", "hwm", "sink_id"])
        got = [[0, 0] for _ in range(inputs.N_SINKS)]
        for line, hwm, sink in zip(
            t.column("line").to_pylist(), t.column("hwm").to_pylist(), t.column("sink_id").to_pylist()
        ):
            if line is not None:
                got[sink][0] += 1
                got[sink][1] += zlib.crc32(line) + hwm
        if got != want:
            errors.append(f"op {i}: per-sink lines/digest {got} != {want}")
        self.sink_rows[i] = [g[0] for g in got]
        self._count_files(i, s["output"], os.path.join(self.work, "ckpt"))
        return errors

    def ladder(self, i: int) -> None:
        from scones.tailsource import read_tail

        work = self.tracer.returns.get("tailsource.plan") or []
        self.ladders[i] = {"read_tail": _noop(read_tail(self.spark, work))}

    def layers(self, i: int, op_id: str, rows: list[dict]) -> dict[str, float]:
        out = super().layers(i, op_id, rows)
        s, tr = self.summaries[i], self.tracer
        sinks = self.sink_rows.get(i) or [0]
        bytes_read = sum(s["bytes_read"].values())
        out.update(
            {
                "tailsource.plan_s": tr.total(op_id, "tailsource.plan"),
                "tailsource.frame_s": self.ladders[i]["read_tail"],
                "tailsource.python_run_s": out.pop("extract.python_run_s", 0.0),
                "tailsource.bytes_read": bytes_read,
                "tailsource.read_amplification": bytes_read / self.appended[i],
                "route.sink_skew": max(sinks) / (sum(sinks) / len(sinks)) if sum(sinks) else 1.0,
                "lineage.manifest_read_s": tr.total(op_id, "lineage.manifest_read"),
                "lineage.manifest_files": self.manifest_files[i],
                "lineage.commit_s": tr.total(op_id, "lineage.commit"),
                "lineage.compactions": tr.count(op_id, "lineage.compact"),
                "pipeline.output_files": self.output_files[i],
            }
        )
        for k in ("extract.python_init_s", "extract.bytes_to_python", "extract.bytes_from_python"):
            out.pop(k, None)  # the tail's Python node frames lines, not documents
        return out


class CurationZipf(Workload):
    """One pass of the curation operators over a Zipf-vocabulary table."""

    name = "curation_zipf"
    record_unit = "docs"
    root_span = "textops.pass"
    N_DOCS = 1_500
    nominal_op_s = 6.0
    warm_ops = 2
    min_ops = 3

    def prepare(self, seconds: float) -> dict:
        key = f"zipf-s{self.seed}-d{self.N_DOCS}"
        self.cache, self.manifest = inputs.cached(
            self.root, key, lambda d: inputs.build_curation(d, self.N_DOCS, self.seed)
        )
        self.query_s: dict[int, dict[str, float]] = {}
        return {"docs": self.N_DOCS, "queries": list(inputs.CURATION_QUERIES)}

    def _out(self, i: int, q: str) -> str:
        return os.path.join(self.work, f"out_{i}", q)

    def before(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"out_{i - 2}"), ignore_errors=True)

    def op(self, i: int) -> int:
        import __spark_entry__ as entry

        queries = entry.queries()
        times = self.query_s[i] = {}
        for q in inputs.CURATION_QUERIES:
            t = time.perf_counter()
            if self.tracer is not None:
                with self.tracer.span(f"textops.{q}"):
                    queries[q](self.spark, self.cache).write.parquet(self._out(i, q))
            else:
                queries[q](self.spark, self.cache).write.parquet(self._out(i, q))
            times[q] = time.perf_counter() - t
        return self.manifest["n_docs"] * len(inputs.CURATION_QUERIES)

    def output_bytes(self, i: int) -> int:
        return _parquet_bytes(os.path.join(self.work, f"out_{i}"))[0]

    def check(self, i: int) -> list[str]:
        import pyarrow.parquet as pq

        errors = []
        for q in inputs.CURATION_QUERIES:
            want = self.manifest["queries"][q]
            df = pq.read_table(self._out(i, q)).to_pandas()
            got = inputs.result_digest(df)
            if len(df) != want["rows"] or got != want["digest"]:
                errors.append(
                    f"op {i} {q}: {len(df)} rows digest {got[:12]} != "
                    f"oracle {want['rows']} rows {want['digest'][:12]}"
                )
        return errors

    def layers(self, i: int, op_id: str, rows: list[dict]) -> dict[str, float]:
        out = {
            k: v
            for k, v in super().layers(i, op_id, rows).items()
            if not k.startswith(("extract.", "pipeline.task"))
        }
        out.update({f"textops.{q}_s": t for q, t in self.query_s[i].items()})
        out.update(
            {
                "textops.shuffle_bytes": op_sum(rows, op_id, "shuffle.write.bytesWritten", "task"),
                "textops.shuffle_records": op_sum(rows, op_id, "shuffle.write.recordsWritten", "task"),
                "textops.spill_bytes": out.pop("pipeline.spill_bytes"),
                "textops.stages": len(op_stages(rows, op_id)),
            }
        )
        return out


WORKLOADS = {w.name: w for w in (BulkSnapshot, TrickleSnapshots, TailAppend, CurationZipf)}
