"""Simplified-WARC ingestion: round-trip incl. adversarial bodies, and
the WARC → extract → route pipeline composition."""

from datetime import datetime, timezone

from scones.oracle import extract_text, route
from scones.warc import parse_warc_bytes, read_warc, write_warc


def _records():
    ts = datetime(2024, 5, 2, 10, 0, 0, tzinfo=timezone.utc)
    return [
        {"url": "https://a.example/1", "warc_ts": ts, "html": b"hello\nworld\n"},
        # adversarial body: contains CRLFs, a fake header block, binary
        {
            "url": "https://b.example/2",
            "warc_ts": ts,
            "html": b"WARC/1.0\r\nContent-Length: 3\r\n\r\nxx\x00\xff\r\n\r\ntail",
        },
        {"url": "https://c.example/3", "warc_ts": ts, "html": b""},
    ]


def test_warc_roundtrip_pure(tmp_path):
    p = str(tmp_path / "shard.warc")
    recs = _records()
    write_warc(p, recs)
    got = parse_warc_bytes(open(p, "rb").read(), p)
    assert len(got) == 3
    for g, want in zip(got, recs):
        assert g["url"] == want["url"]
        assert g["html"] == want["html"]  # Content-Length slicing is exact
        assert g["warc_ts"] == want["warc_ts"]
    assert got[0]["record_offset"] == 0
    assert got[1]["record_offset"] > 0


def test_truncated_trailing_record_not_emitted(tmp_path):
    p = str(tmp_path / "trunc.warc")
    write_warc(p, _records()[:2])
    data = open(p, "rb").read()
    stats = {}
    assert len(parse_warc_bytes(data[:-10], p, stats=stats)) == 1
    assert stats["truncated_tail"] == 1


def test_gzip_member_roundtrip(tmp_path):
    """Production .warc.gz: one gzip member per record, concatenated."""
    p = str(tmp_path / "shard.warc.gz")
    recs = _records()
    write_warc(p, recs, gzip_members=True)
    data = open(p, "rb").read()
    assert data[:2] == b"\x1f\x8b"
    got = parse_warc_bytes(data, p)
    assert len(got) == 3
    for g, want in zip(got, recs):
        assert g["url"] == want["url"]
        assert g["html"] == want["html"]
        assert g["warc_ts"] == want["warc_ts"]
    # record_offset = gzip member offset (the CC index convention)
    assert got[0]["record_offset"] == 0
    assert got[1]["record_offset"] > 0
    assert got[2]["record_offset"] > got[1]["record_offset"]


def test_malformed_mid_shard_record_resyncs(tmp_path):
    """A corrupt record mid-shard must not discard the rest: the parser
    scans to the next WARC magic and counts the skip."""
    recs = _records()
    p = str(tmp_path / "a.warc")
    write_warc(p, recs[:1])
    good = open(p, "rb").read()
    junk = b"GARBAGE not a header\r\nContent-Length: banana\r\n\r\n"
    bad_cl = (
        b"WARC/1.0\r\nWARC-Target-URI: https://bad.example/x\r\n"
        b"Content-Length: oops\r\n\r\nbody\r\n\r\n"
    )
    shard = good + junk + bad_cl + good.replace(b"example/1", b"example/9")
    stats = {}
    got = parse_warc_bytes(shard, "mix.warc", stats=stats)
    assert [g["url"] for g in got] == ["https://a.example/1", "https://a.example/9"]
    assert stats["skipped_records"] == 2
    assert stats["skipped_bytes"] > 0


def test_corrupt_gzip_member_resyncs(tmp_path):
    p = str(tmp_path / "s.warc.gz")
    recs = _records()
    write_warc(p, recs[:1], gzip_members=True)
    member = open(p, "rb").read()
    corrupted = member[:10] + b"\x00\x00\x00\x00" + member[14:]
    shard = corrupted + member
    stats = {}
    got = parse_warc_bytes(shard, "c.warc.gz", stats=stats)
    assert len(got) == 1 and got[0]["url"] == "https://a.example/1"
    assert stats["skipped_records"] >= 1


def test_read_warc_gz_spark_matches_pure_parser(spark, tmp_path):
    from datetime import datetime, timezone as tz

    ts = datetime(2024, 6, 1, tzinfo=tz.utc)
    recs = [
        {"url": f"https://gz.example/{i}", "warc_ts": ts, "html": f"doc {i}\n".encode()}
        for i in range(25)
    ]
    d = tmp_path / "gz"
    d.mkdir()
    write_warc(str(d / "s0.warc.gz"), recs[:13], gzip_members=True)
    write_warc(str(d / "s1.warc.gz"), recs[13:], gzip_members=True)
    df = read_warc(spark, str(d / "*.warc.gz"))
    got = {r.url: bytes(r.html) for r in df.collect()}
    assert got == {r["url"]: r["html"] for r in recs}


def test_warc_shard_stats_surface(spark, tmp_path):
    from scones.warc import warc_shard_stats

    recs = _records()
    d = tmp_path / "st"
    d.mkdir()
    write_warc(str(d / "clean.warc"), recs)
    p = str(d / "dirty.warc")
    write_warc(p, recs[:1])
    with open(p, "ab") as fh:
        fh.write(b"WARC/1.0\r\nContent-Length: nope\r\n\r\n")
        fh.write(open(str(d / "clean.warc"), "rb").read())
    stats = {
        r.src_file.rsplit("/", 1)[-1]: (r.n_records, r.skipped_records)
        for r in warc_shard_stats(spark, str(d / "*.warc")).collect()
    }
    assert stats["clean.warc"] == (3, 0)
    assert stats["dirty.warc"] == (4, 1)


def test_warc_to_pipeline_composition(spark, tmp_path):
    import random

    from scones.extract import extract_documents
    from scones.route import with_sink_id

    rng = random.Random(9)
    ts = datetime(2024, 5, 3, tzinfo=timezone.utc)
    recs = [
        {
            "url": f"https://site{i % 7}.example/p/{i}",
            "warc_ts": ts,
            "html": (f"line one {i}\r\nline two {i}\n" + "tail").encode(),
        }
        for i in range(40)
    ]
    shard_dir = tmp_path / "warc"
    shard_dir.mkdir()
    write_warc(str(shard_dir / "s0.warc"), recs[:20])
    write_warc(str(shard_dir / "s1.warc"), recs[20:])

    docs = read_warc(spark, str(shard_dir / "*.warc"))
    routed = with_sink_id(extract_documents(docs), n_sinks=3)
    got = {
        r.url: (bytes(r.extracted), r.sink_id)
        for r in routed.select("url", "extracted", "sink_id").collect()
    }
    assert len(got) == 40
    for rec in recs:
        ext, sink = got[rec["url"]]
        assert ext == extract_text(rec["html"])
        assert sink == route(rec["url"], 3)


def test_warc_pipeline_mode_end_to_end(spark, tmp_path):
    """--mode warc: shards in, routed sinks out, lineage resume —
    incl. gzip members and exact routed-set equality vs the oracle."""
    from scones.config import PipelineConfig
    from scones.pipeline import snapshot_fn_for_mode

    run = snapshot_fn_for_mode("warc")

    ts = datetime(2024, 7, 1, tzinfo=timezone.utc)
    recs = [
        {
            "url": f"https://w{i % 5}.example/p/{i}",
            "warc_ts": ts,
            "html": f"alpha {i}\r\nbeta {i}\n".encode() + b"partial",
        }
        for i in range(30)
    ]
    shards = tmp_path / "shards"
    shards.mkdir()
    write_warc(str(shards / "s0.warc.gz"), recs[:15], gzip_members=True)
    write_warc(str(shards / "s1.warc.gz"), recs[15:20], gzip_members=True)

    cfg = PipelineConfig(
        input_glob=str(shards / "*.warc.gz"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=3,
    )
    s1 = run(spark, cfg)
    assert s1["snapshot_id"] == 1 and s1["rows"] == 20
    # no-op rerun, then a late shard is picked up incrementally
    assert run(spark, cfg)["snapshot_id"] is None
    write_warc(str(shards / "s2.warc.gz"), recs[20:], gzip_members=True)
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
        assert ext == extract_text(rec["html"])
        assert sink == route(rec["url"], 3)


def test_warc_record_without_target_uri_commits(spark, tmp_path):
    """A Common Crawl shard opens with a warcinfo record, which has no
    WARC-Target-URI.  Its row has a null url and so a null sink, which
    Spark writes under ``sink_id=__HIVE_DEFAULT_PARTITION__``: the
    snapshot still commits that row, and no sink's counters hold it."""
    from scones.config import PipelineConfig
    from scones.lineage import LineageStore, backlog_report
    from scones.pipeline import snapshot_fn_for_mode
    from scones.statsserver import stats_payload

    body = b"software: test\r\n"
    warcinfo = b"".join([
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n",
        b"WARC-Date: 2024-07-01T00:00:00Z\r\n",
        f"Content-Length: {len(body)}\r\n\r\n".encode(),
        body,
        b"\r\n\r\n",
    ])
    shards = tmp_path / "shards"
    shards.mkdir()
    write_warc(str(tmp_path / "recs.warc"), _records())
    (shards / "s0.warc").write_bytes(warcinfo + (tmp_path / "recs.warc").read_bytes())
    cfg = PipelineConfig(
        input_glob=str(shards / "*.warc"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=2,
    )
    s = snapshot_fn_for_mode("warc")(spark, cfg)
    assert s["snapshot_id"] == 1 and s["rows"] == 4
    assert (tmp_path / "out/snapshot_id=1/sink_id=__HIVE_DEFAULT_PARTITION__").is_dir()
    store = LineageStore(cfg.checkpoint_dir)
    assert store.committed_snapshots() == [1]
    assert backlog_report(store, cfg.input_glob)["rows_committed"] == 4
    sinks = stats_payload(cfg.checkpoint_dir, cfg.input_glob)["sinks"]
    assert sum(v["rows_sent"] for v in sinks.values()) == 3
