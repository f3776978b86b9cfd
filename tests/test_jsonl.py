"""JSONL source (.jsonl/.jsonl.gz): JVM-side parsing, same snapshot
core and lineage protocol as the WARC path (scones/jsonl.py)."""

import base64
import zlib

from scones.jsonl import read_jsonl, write_jsonl


def _recs(lo: int, hi: int) -> list[dict]:
    return [
        {
            "url": f"https://j{i % 4}.example/d/{i}",
            # sub-second precision on purpose: the export round-trip must
            # preserve fractional seconds (a whole-second-only fixture
            # can't catch a truncating date_format — round-3 advice)
            "ts": f"2024-07-01T00:00:{i % 60:02d}.{(i * 137431) % 1_000_000:06d}Z",
            "lang": "en",
            "html_b64": base64.b64encode(
                f"line a {i}\r\nline b {i}\n".encode() + b"tail-partial"
            ).decode(),
        }
        for i in range(lo, hi)
    ]


def test_read_jsonl_plain_and_gz(spark, tmp_path):
    recs = _recs(0, 12)
    write_jsonl(str(tmp_path / "a.jsonl"), recs[:6])
    write_jsonl(str(tmp_path / "b.jsonl.gz"), recs[6:], gzip_file=True)
    df = read_jsonl(spark, [str(tmp_path / "a.jsonl"), str(tmp_path / "b.jsonl.gz")])
    rows = {r.url: r for r in df.collect()}
    assert len(rows) == 12
    for rec in recs:
        r = rows[rec["url"]]
        assert bytes(r.html) == base64.b64decode(rec["html_b64"])
        assert r.lang == "en" and r.warc_ts is not None
        assert r.src_file.endswith(".jsonl") or r.src_file.endswith(".jsonl.gz")


def test_read_jsonl_plain_text_payload_and_corrupt_lines(spark, tmp_path):
    """`html` string fallback when no html_b64; malformed lines are
    skipped (PERMISSIVE all-null rows dropped), not fatal."""
    path = tmp_path / "c.jsonl"
    write_jsonl(str(path), [{"url": "https://x.example/1", "html": "plain body"}])
    with open(path, "ab") as f:
        f.write(b"{this is not json}\n")
        f.write(b'{"lang": "en"}\n')  # parseable but url-less → dropped
    df = read_jsonl(spark, str(path))
    rows = df.collect()
    assert len(rows) == 1
    assert bytes(rows[0].html) == b"plain body"


def test_jsonl_pipeline_mode_end_to_end(spark, tmp_path):
    """--mode jsonl: shards in, routed sinks out, lineage resume, exact
    framing + routing equality vs the oracle."""
    from scones.config import PipelineConfig
    from scones.oracle import extract_text
    from scones.pipeline import snapshot_fn_for_mode

    run = snapshot_fn_for_mode("jsonl")

    recs = _recs(0, 30)
    shards = tmp_path / "shards"
    write_jsonl(str(shards / "s0.jsonl"), recs[:15])
    write_jsonl(str(shards / "s1.jsonl.gz"), recs[15:20], gzip_file=True)

    cfg = PipelineConfig(
        input_glob=str(shards / "s*.jsonl*"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=3,
    )
    s1 = run(spark, cfg)
    assert s1["snapshot_id"] == 1 and s1["rows"] == 20
    assert run(spark, cfg)["snapshot_id"] is None  # no-op rerun
    write_jsonl(str(shards / "s2.jsonl"), recs[20:])
    s3 = run(spark, cfg)
    assert s3["rows"] == 10

    got = {
        r.url: (bytes(r.extracted), r.sink_id)
        for r in spark.read.option("basePath", str(tmp_path / "out"))
        .parquet(str(tmp_path / "out") + "/snapshot_id=*")
        .select("url", "extracted", "sink_id")
        .collect()
    }
    assert len(got) == 30
    for rec in recs:
        ext, sink = got[rec["url"]]
        raw = base64.b64decode(rec["html_b64"])
        assert ext == extract_text(raw)  # byte-identical framing contract
        assert int(sink) == zlib.crc32(rec["url"].encode()) % 3


def test_read_jsonl_plan_is_jvm_only(spark, tmp_path):
    """The JSONL scan→select plan must contain no Python stage (the
    whole point vs the WARC byte-parser path) and prune to the record
    contract's columns."""
    write_jsonl(str(tmp_path / "p.jsonl"), _recs(0, 3))
    df = read_jsonl(spark, str(tmp_path / "p.jsonl"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "Exchange" not in plan


def test_export_jsonl_roundtrip(spark, tmp_path):
    """snapshot parquet → export_jsonl → read_jsonl re-ingest: url/ts/
    lang/payload bytes all survive exactly (the export contract IS the
    ingestion contract)."""
    from scones.config import PipelineConfig
    from scones.export import export_jsonl
    from scones.pipeline import snapshot_fn_for_mode

    run = snapshot_fn_for_mode("jsonl")

    recs = _recs(0, 20)
    shards = tmp_path / "in"
    write_jsonl(str(shards / "s0.jsonl"), recs)
    cfg = PipelineConfig(
        input_glob=str(shards / "*.jsonl"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=3,
    )
    s = run(spark, cfg)
    snap_dir = str(tmp_path / "out" / "snapshot_id=1")
    res = export_jsonl(spark, snap_dir, str(tmp_path / "export"))
    assert res["rows"] == s["rows"] == 20

    original = {
        r.url: (bytes(r.extracted), r.warc_ts, r.lang)
        for r in spark.read.parquet(snap_dir).collect()
    }
    back = {
        r.url: (bytes(r.html), r.warc_ts, r.lang)
        for r in read_jsonl(
            spark, str(tmp_path / "export" / "sink_id=*" / "*.json.gz")
        ).collect()
    }
    assert back == original
