"""Grok structured parsing: compile, typed extraction, unmatched rows."""

import datetime

import pytest

from scones.grok import PATTERNS, compile_grok, grok_parse


def test_compile_grok():
    regex, fields = compile_grok("%{WORD:w} [x] %{INT:n:int}")
    assert fields == [("w", None), ("n", "int")]
    assert regex == r"(\w+)" + "\\ \\[x\\]\\ " + r"([+-]?\d+)"


def test_compile_grok_rejects_unknown():
    with pytest.raises(KeyError):
        compile_grok("%{NOPE:x}")
    with pytest.raises(KeyError):
        compile_grok("%{WORD:x:decimal128}")


def test_grok_parse_typed_fields(spark):
    lines = [
        ("2024-03-01 10:00:00 ERROR disk user=7 value=3.25",),
        ("2024-03-01 11:30:45 INFO boot user=12 value=100",),
        ("totally unparseable line",),
    ]
    df = spark.createDataFrame(lines, ["line"])
    pattern = (
        "%{TIMESTAMP_ISO8601:ts:ts} %{LOGLEVEL:level} %{WORD:unit} "
        "user=%{INT:uid:long} value=%{NUMBER:val:double}"
    )
    kept = grok_parse(df, "line", pattern, keep_unmatched=False).collect()
    assert len(kept) == 2
    by_unit = {r.unit: r for r in kept}
    assert by_unit["disk"].uid == 7 and by_unit["disk"].val == 3.25
    assert by_unit["disk"].level == "ERROR"
    assert by_unit["disk"].ts == datetime.datetime(2024, 3, 1, 10, 0, 0)
    assert by_unit["boot"].val == 100.0

    all_rows = grok_parse(df, "line", pattern, keep_unmatched=True).collect()
    assert len(all_rows) == 3
    bad = [r for r in all_rows if r.line.startswith("totally")][0]
    assert bad.uid is None and bad.val is None and bad.ts is None


def test_grok_patterns_are_groupless():
    """Library fragments must not introduce capture groups (group
    numbering is positional)."""
    import re

    for name, frag in PATTERNS.items():
        assert re.compile(frag).groups == 0, name


def test_composite_apache_and_syslog(spark):
    from scones.grok import grok_parse

    apache = (
        '93.180.71.3 - frank [10/Oct/2000:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
        '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98)"'
    )
    df = spark.createDataFrame([(apache,)], ["line"])
    row = grok_parse(df, "line", "%{COMBINEDAPACHELOG}", keep_unmatched=False).collect()[0]
    assert row.clientip == "93.180.71.3"
    assert row.auth == "frank"
    assert row.verb == "GET" and row.request == "/apache_pb.gif"
    assert row.response == 200 and row.bytes == "2326"
    assert row.referrer == "http://www.example.com/start.html"
    assert row.agent.startswith("Mozilla/4.08")

    syslog = "Feb  5 17:32:18 web01 sshd[4902]: Failed password for root"
    df2 = spark.createDataFrame([(syslog,)], ["line"])
    row2 = grok_parse(df2, "line", "%{SYSLOGLINE}", keep_unmatched=False).collect()[0]
    assert row2.logsource == "web01" and row2.program == "sshd"
    assert row2.pid == 4902
    assert row2.message == "Failed password for root"


def test_unnamed_token_matches_without_capturing():
    from scones.grok import compile_grok
    import re as _re

    regex, fields = compile_grok("%{IP} -> %{WORD:action}")
    assert [f for f, _ in fields] == ["action"]
    m = _re.search(regex, "10.0.0.1 -> allow")
    assert m and m.group(1) == "allow"


def test_anchored_rejects_partial_matches(spark):
    """anchored=True is grok's strict whole-line mode: a pattern that
    would match a prefix/suffix substring must reject the line."""
    from scones.grok import grok_parse

    clean = '1.2.3.4 - frank [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 17'
    dirty = clean + " TRAILING JUNK"
    df = spark.createDataFrame([(clean,), (dirty,)], ["line"])
    loose = grok_parse(df, "line", "%{COMMONAPACHELOG}", keep_unmatched=False)
    strict = grok_parse(
        df, "line", "%{COMMONAPACHELOG}", keep_unmatched=False, anchored=True
    )
    assert loose.count() == 2  # substring semantics: both match
    rows = strict.collect()
    assert len(rows) == 1 and rows[0].line == clean


def test_contributed_patterns_nginx_error(spark):
    from scones.grok import grok_parse

    line = "2024/01/15 09:00:01 [error] 1234#0: *55 open() failed (2: No such file)"
    df = spark.createDataFrame([(line,)], ["line"])
    row = grok_parse(df, "line", "%{NGINXERROR}", keep_unmatched=False).collect()[0]
    assert row.severity == "error" and row.pid == 1234 and row.tid == 0
    assert row.message.startswith("*55 open()")


def test_contributed_patterns_uuid_email_uri(spark):
    from scones.grok import grok_parse

    line = (
        "req 123e4567-e89b-12d3-a456-426614174000 from ops@example.com "
        "fetched https://api.example.com/v1/items?id=7"
    )
    df = spark.createDataFrame([(line,)], ["line"])
    row = grok_parse(
        df,
        "line",
        "req %{UUID:rid} from %{EMAILADDRESS:user} fetched %{URI:uri}",
        keep_unmatched=False,
    ).collect()[0]
    assert row.rid.startswith("123e4567") and row.user == "ops@example.com"
    assert row.uri == "https://api.example.com/v1/items?id=7"
