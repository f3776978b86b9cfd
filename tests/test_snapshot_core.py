"""The one snapshot core (scones.pipeline._run_snapshot) across ingest
modes: every data knob of PipelineConfig is either honored — with an
effect visible in the output — or rejected before anything is planned,
written or committed."""

import base64
import glob as globmod
import os

import pytest

from scones.config import PipelineConfig
from scones.corpus import generate_rows, write_corpus, write_host_meta
from scones.jsonl import write_jsonl
from scones.pipeline import KNOBS, snapshot_fn_for_mode
from scones.statsserver import read_run_metrics
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
    s = run_tail_snapshot(spark, glob, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    metrics = read_run_metrics(str(tmp_path / "ckpt"))
    assert len(metrics) == 1
    assert metrics[0]["snapshot_id"] == s["snapshot_id"] == 1
    assert metrics[0]["rows"] == s["lines"] == N_DOCS + 1
    assert metrics[0]["n_files"] == 1


def test_metrics_row_is_the_summary_and_fenced_out_attempts_write_none(
    spark, tmp_path, monkeypatch
):
    """The metrics row lands before the lineage publish, under the same
    fence: an attempt a newer one has fenced out (the watchdog's
    abandoned thread) writes no row, and the row the next attempt
    writes carries the summary's values."""
    import scones.pipeline
    from scones.lineage import LineageStore, StaleAttemptError

    cfg = _cfg(tmp_path, "documents", _write_inputs("documents", tmp_path))
    real = scones.pipeline._has_part_files

    def superseded(snap_dir):
        LineageStore(cfg.checkpoint_dir).fence_attempt()  # a newer attempt
        return real(snap_dir)

    with monkeypatch.context() as m, pytest.raises(StaleAttemptError):
        m.setattr(scones.pipeline, "_has_part_files", superseded)
        snapshot_fn_for_mode("documents")(spark, cfg)
    assert not globmod.glob(os.path.join(cfg.checkpoint_dir, "metrics", "run_*"))

    s = snapshot_fn_for_mode("documents")(spark, cfg)
    (row,) = read_run_metrics(cfg.checkpoint_dir)
    for k in ("snapshot_id", "rows", "payload_bytes", "approx_urls"):
        assert row[k] == s[k]
    for k in ("plan_sec", "write_sec", "audit_commit_sec"):
        assert row[k] == pytest.approx(s[k])
