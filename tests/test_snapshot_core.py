"""The one snapshot core (scones.pipeline._run_snapshot) across ingest
modes: every data knob of PipelineConfig is either honored — with an
effect visible in the output — or rejected before anything is planned,
written or committed."""

import base64
import os

import pytest

from scones.config import PipelineConfig
from scones.corpus import generate_rows, write_corpus, write_host_meta
from scones.jsonl import write_jsonl
from scones.pipeline import KNOBS, snapshot_fn_for_mode
from scones.lineage import LineageStore
from scones.statsserver import persist_run_metrics
from scones.warc import write_warc

MODES = ("documents", "warc", "jsonl", "tail")
TAIL_REJECTS = ("host_meta_path", "spread_partitions", "dedup_index", "lm_model_path")
N_DOCS = 24


def _write_inputs(mode: str, d) -> str:
    """One input file per mode (so an unspread write has one part file
    per sink); returns the input glob."""
    src = d / "in"
    src.mkdir(parents=True)
    if mode == "documents":
        write_corpus(str(src), n_docs=N_DOCS, n_files=1, seed=5)
        return str(src / "*.parquet")
    rows = generate_rows(N_DOCS, seed=5)
    if mode == "warc":
        write_warc(str(src / "s0.warc.gz"), rows, gzip_members=True)
        return str(src / "*.warc.gz")
    if mode == "jsonl":
        recs = [
            {
                "url": r["url"],
                "ts": r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                "lang": r["lang"],
                "html_b64": base64.b64encode(r["html"]).decode(),
            }
            for r in rows
        ]
        write_jsonl(str(src / "s0.jsonl"), recs)
        return str(src / "*.jsonl")
    lines = b"".join(f"ev{i}\n".encode() for i in range(N_DOCS))  # <= 8 bytes
    (src / "app.log").write_bytes(lines + b"a line far longer than eight bytes\n")
    return str(src / "*.log")


def _knob_value(spark, knob: str, d, honored: bool):
    if knob == "host_meta_path":
        return write_host_meta(str(d / "dims" / "host_meta.parquet"))
    if knob == "lm_model_path":
        # a rejected path is never read, so it need not exist
        return _lm_model(spark, d) if honored else str(d / "no_model")
    return {
        "n_sinks": 3,
        "max_length": 8,
        "spread_partitions": 4,
        "static_fields": {"env": "prod"},
        "dedup_index": True,
    }[knob]


def _cfg(d, mode: str, input_glob: str, **knobs) -> PipelineConfig:
    return PipelineConfig(
        input_glob=input_glob,
        output_dir=str(d / "out"),
        checkpoint_dir=str(d / "ckpt"),
        n_sinks=knobs.pop("n_sinks", 2),
        mode=mode,
        **knobs,
    )


def _part_files(snap_dir: str) -> dict[str, int]:
    """sink dir → number of parquet part files in it."""
    sinks = [s for s in os.listdir(snap_dir) if s.startswith("sink_id=")]
    return {
        s: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(snap_dir, s)))
        for s in sinks
    }


def _lm_model(spark, d) -> str:
    from scones.textops import save_lm, train_lm

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        ["doc_id", "text"],
    )
    path = str(d / "model")
    save_lm(train_lm(ref), path)
    return path


GRID = [(m, k) for m in MODES for k in KNOBS]


@pytest.mark.parametrize("mode,knob", GRID, ids=[f"{m}-{k}" for m, k in GRID])
def test_knob_honored_or_rejected(spark, tmp_path, mode, knob):
    run = snapshot_fn_for_mode(mode)
    honored = not (mode == "tail" and knob in TAIL_REJECTS)
    value = _knob_value(spark, knob, tmp_path, honored)
    cfg = _cfg(tmp_path, mode, _write_inputs(mode, tmp_path), **{knob: value})
    if not honored:
        with pytest.raises(ValueError, match=f"tail mode does not honor {knob}"):
            run(spark, cfg)
        # rejected before planning: no snapshot dir, no lineage, no metrics
        assert not (tmp_path / "out").exists()
        assert not (tmp_path / "ckpt").exists()
        return

    s = run(spark, cfg)
    assert s["snapshot_id"] == 1
    out = spark.read.parquet(s["output"])
    rows = N_DOCS if mode != "tail" else N_DOCS + (knob != "max_length")
    assert s["rows" if mode != "tail" else "lines"] == rows
    # one input file is one scan task: one part file per sink unless spread
    parts = max(_part_files(s["output"]).values())
    assert (parts > 1) == (knob == "spread_partitions")
    if knob == "host_meta_path":
        assert {"host_rank", "host_category"} <= set(out.columns)
    elif knob == "n_sinks":
        sinks = {r.sink_id for r in out.select("sink_id").distinct().collect()}
        assert sinks == {0, 1, 2}
    elif knob == "max_length":
        if mode == "tail":  # the over-long line is skipped but advanced past
            assert out.where("length(line) > 8").count() == 0
        else:
            assert out.agg({"n_skipped": "sum"}).first()[0] > 0
    elif knob == "static_fields":
        assert {r.env for r in out.select("env").distinct().collect()} == {"prod"}
    elif knob == "dedup_index":
        assert "n_near_dup_pairs" in s
        assert (tmp_path / "ckpt" / "band_index" / "snapshot_id=1").is_dir()
    elif knob == "lm_model_path":
        assert s["n_scored"] == N_DOCS and os.path.isdir(s["lm_scores"])


@pytest.mark.parametrize("mode,column", [
    ("documents", "bytes_read"),
    ("warc", "src_file"),
    ("jsonl", "sink_id"),
    ("tail", "hwm"),
    ("tail", "unit_start"),
])
def test_static_field_may_not_overwrite_audit_column(spark, tmp_path, mode, column):
    cfg = _cfg(tmp_path, mode, _write_inputs(mode, tmp_path), static_fields={column: 0})
    with pytest.raises(ValueError, match=column):
        snapshot_fn_for_mode(mode)(spark, cfg)
    assert not (tmp_path / "out").exists() and not (tmp_path / "ckpt").exists()


@pytest.mark.parametrize("mode,knob,value", [
    ("documents", "n_sinks", 0),
    ("documents", "n_sinks", -3),
    ("documents", "max_length", -1),
    ("documents", "spread_partitions", -1),
    ("tail", "n_sinks", 0),
    ("tail", "max_length", -1),
])
def test_out_of_range_knob_rejected(spark, tmp_path, mode, knob, value):
    """Rejected before the snapshot id is taken: n_sinks=0 would fail in
    the write task, n_sinks=-3 would route to {0, 1, 2} where the
    oracle's crc32 % -3 names {0, -1, -2}, and a negative max_length or
    spread_partitions would silently mean "off"."""
    cfg = _cfg(tmp_path, mode, _write_inputs(mode, tmp_path), **{knob: value})
    with pytest.raises(ValueError, match=f"{knob}={value} is out of range"):
        snapshot_fn_for_mode(mode)(spark, cfg)
    # no snapshot_id= dir, no lineage row, no run row
    assert not (tmp_path / "out").exists() and not (tmp_path / "ckpt").exists()


def test_warc_static_fields_and_dedup_index(spark, tmp_path):
    cfg = _cfg(
        tmp_path,
        "warc",
        _write_inputs("warc", tmp_path),
        static_fields={"crawl": "CC-2024"},
        dedup_index=True,
    )
    s = snapshot_fn_for_mode("warc")(spark, cfg)
    out = spark.read.parquet(s["output"])
    assert {r.crawl for r in out.select("crawl").distinct().collect()} == {"CC-2024"}
    band_index = tmp_path / "ckpt" / "band_index" / "snapshot_id=1"
    assert band_index.is_dir() and spark.read.parquet(str(band_index)).count() > 0


def test_tail_static_fields_decorate_every_line(spark, tmp_path):
    cfg = _cfg(
        tmp_path,
        "tail",
        _write_inputs("tail", tmp_path),
        static_fields={"env": "prod", "host": "h"},  # host overwrites the generated one
    )
    s = snapshot_fn_for_mode("tail")(spark, cfg)
    got = spark.read.parquet(s["output"]).select("env", "host").distinct().collect()
    assert [(r.env, r.host) for r in got] == [("prod", "h")]


def test_tail_snapshot_persists_one_metrics_row(spark, tmp_path):
    from scones.tailsource import run_tail_snapshot

    glob = _write_inputs("tail", tmp_path)
    ckpt = str(tmp_path / "ckpt")
    s = run_tail_snapshot(spark, glob, str(tmp_path / "out"), ckpt)
    (row,) = LineageStore(ckpt).runs()
    assert row == persist_run_metrics(s)
    assert row["snapshot_id"] == s["snapshot_id"] == 1
    assert row["rows"] == s["lines"] == N_DOCS + 1
    assert row["n_files"] == 1
    assert not os.path.exists(os.path.join(ckpt, "metrics"))


def test_metrics_row_is_the_summary_and_fenced_out_attempts_write_none(
    spark, tmp_path, monkeypatch
):
    """The run row is published inside the lineage manifest, under its
    fence: an attempt a newer one has fenced out (the watchdog's
    abandoned thread) publishes no row, and the row the next attempt
    publishes carries the summary's values."""
    import scones.layout
    from scones.lineage import StaleAttemptError

    cfg = _cfg(tmp_path, "documents", _write_inputs("documents", tmp_path))
    real = scones.layout.count_landed

    def superseded(*a):
        LineageStore(cfg.checkpoint_dir).fence_attempt()  # a newer attempt
        return real(*a)

    with monkeypatch.context() as m, pytest.raises(StaleAttemptError):
        m.setattr(scones.layout, "count_landed", superseded)
        snapshot_fn_for_mode("documents")(spark, cfg)
    assert LineageStore(cfg.checkpoint_dir).runs() == []

    s = snapshot_fn_for_mode("documents")(spark, cfg)
    (row,) = LineageStore(cfg.checkpoint_dir).runs()
    assert row == persist_run_metrics(s)
    for k in ("snapshot_id", "rows", "payload_bytes", "approx_urls"):
        assert row[k] == s[k]
    for k in ("plan_sec", "write_sec", "audit_commit_sec"):
        assert row[k] == s[k]
    assert not os.path.exists(os.path.join(cfg.checkpoint_dir, "metrics"))


JOBS = [("documents", False, 1), ("documents", True, 2), ("warc", False, 1), ("jsonl", False, 1)]


@pytest.mark.parametrize(
    "mode,host_meta,want",
    JOBS,
    ids=[f"{m}{'-host_meta' if h else ''}" for m, h, _ in JOBS],
)
def test_snapshot_runs_only_its_write_jobs(spark, tmp_path, count_jobs, mode, host_meta, want):
    """A documents, WARC or JSONL snapshot runs the write job, plus the
    host-meta broadcast when ``host_meta_path`` is set.  Parquet inputs
    are read with their footer's schema (no inference job) and the audit
    reads the landed parts on the driver (no aggregate jobs)."""
    knobs = {}
    if host_meta:
        knobs["host_meta_path"] = write_host_meta(str(tmp_path / "dims" / "host_meta.parquet"))
    cfg = _cfg(tmp_path, mode, _write_inputs(mode, tmp_path), **knobs)
    s, jobs = count_jobs(lambda: snapshot_fn_for_mode(mode)(spark, cfg))
    assert jobs == want
    committed = LineageStore(cfg.checkpoint_dir).read_all().to_pylist()
    assert [r["row_count"] for r in committed] == [N_DOCS] == [s["rows"]]


def _parquet_fixtures(spark, d) -> list[str]:
    """The parquet files the documents tests write: a corpus file, host
    metadata, zero-row CORPUS_SCHEMA files, and a Spark-written dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from scones.corpus import CORPUS_SCHEMA

    paths = write_corpus(str(d / "in"), n_docs=10, n_files=1, seed=3)
    paths.append(write_host_meta(str(d / "dims" / "host_meta.parquet")))
    empty = str(d / "in" / "empty.parquet")
    pq.write_table(pa.Table.from_pylist([], schema=CORPUS_SCHEMA), empty)
    sliced = str(d / "in" / "sliced.parquet")
    pq.write_table(pa.Table.from_pylist(generate_rows(1, seed=1), schema=CORPUS_SCHEMA).slice(0, 0), sliced)
    spark_dir = str(d / "spark_written")
    spark.read.parquet(paths[0]).write.parquet(spark_dir)
    return paths + [empty, sliced, spark_dir]


def test_footer_schema_is_the_inferred_schema(spark, tmp_path):
    from scones.footer import footer_schema

    for path in _parquet_fixtures(spark, tmp_path):
        derived = footer_schema(path)
        inferred = spark.read.parquet(path).schema
        # a Spark writer stores its columns' nullability; Spark reads
        # every file column as nullable
        assert spark.read.schema(derived).parquet(path).schema == inferred, path
        if not path.endswith("spark_written"):
            assert derived == inferred, path


def test_footer_schema_leaves_to_spark_what_the_footer_cannot_say(tmp_path):
    """A naive timestamp (INT96 reads as timestamp, INT64 as
    timestamp_ntz), an Arrow type with no Spark twin and a non-local path
    get no derived schema: Spark infers those."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from scones.footer import footer_schema

    for name, col in (
        ("naive_ts", pa.array([0], pa.timestamp("us"))),
        ("unsigned", pa.array([1], pa.uint32())),
    ):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"c": col}), path)
        assert footer_schema(path) is None, name
    assert footer_schema("s3a://bucket/docs.parquet") is None


def test_driver_audit_equals_the_spark_aggregate(spark, tmp_path):
    """The lineage rows the driver audit commits equal the Spark
    ``groupBy(src_file)`` aggregate over the landed parts: several input
    files per sink, a zero-row input file (its marker), and a doc with no
    newline (it lands with bytes_read 0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from scones.corpus import CORPUS_SCHEMA
    from scones.lineage import normalize_path

    src = tmp_path / "in"
    write_corpus(str(src), n_docs=60, n_files=3, seed=9)
    pq.write_table(pa.Table.from_pylist([], schema=CORPUS_SCHEMA), str(src / "empty.parquet"))
    (lone,) = generate_rows(1, seed=10)
    lone["html"] = b"<p>no newline at all</p>"
    pq.write_table(pa.Table.from_pylist([lone], schema=CORPUS_SCHEMA), str(src / "lone.parquet"))
    cfg = _cfg(tmp_path, "documents", str(src / "*.parquet"), spread_partitions=4)
    s = snapshot_fn_for_mode("documents")(spark, cfg)
    assert max(_part_files(s["output"]).values()) > 1

    agg = (
        spark.read.parquet(s["output"])
        .groupBy("src_file")
        .agg(F.count("*").alias("row_count"), F.sum("bytes_read").alias("offset_end"))
        .collect()
    )
    want = {(normalize_path(r["src_file"]), int(r["offset_end"] or 0), r["row_count"]) for r in agg}
    want.add((str(src / "empty.parquet"), 0, 0))
    committed = LineageStore(cfg.checkpoint_dir).read_all().to_pylist()
    got = [(r["src_file"], r["offset_end"], r["row_count"]) for r in committed]
    assert len(got) == len(want) == 5 and set(got) == want
    assert (str(src / "lone.parquet"), 0, 1) in want
