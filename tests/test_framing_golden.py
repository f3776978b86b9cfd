"""Golden framing cases ported from /root/reference/file_reader_test.go.

Each case pins (emitted lines, high-water-mark positions) for byte-exact
inputs; expectations are the reference's test numbers (6/12, 7/14, 16).
The pure-Python oracle, the tail source's per-line framer and the
per-document extractor must all match.
"""

import pytest

from scones.extract import extract_documents
from scones.oracle import extract_text, frame_bytes
from scones.tailsource import read_tail

# (name, input bytes, max_length, expected lines, expected hwms, final pos)
CASES = [
    # file_reader_test.go:10-59 (fixtures/basic.log)
    ("basic", b"line1\nline2\n", 0, [b"line1", b"line2"], [6, 12], 12),
    # file_reader_test.go:61-110 (fixtures/windows.log) — CRLF stripped, counted
    ("windows", b"line1\r\nline2\r\n", 0, [b"line1", b"line2"], [7, 14], 14),
    # file_reader_test.go:112-160 — partial trailing line never emitted
    ("partial", b"line1\npartial line", 0, [b"line1"], [6], 6),
    # file_reader_test.go:162-210 — skip-but-advance: position 16 after skip
    ("maxlen", b"long line\nline2\n", 8, [b"line2"], [16], 16),
    ("empty", b"", 0, [], [], 0),
    ("only_partial", b"no newline here", 0, [], [], 0),
    # TrimRight removes ALL trailing \r (file_reader.go:80)
    ("multi_cr", b"abc\r\r\ndef\n", 0, [b"abc", b"def"], [6, 10], 10),
    ("empty_lines", b"\n\r\n", 0, [b"", b""], [1, 3], 3),
    # interior \r preserved
    ("interior_cr", b"a\rb\nc\n", 0, [b"a\rb", b"c"], [4, 6], 6),
]


@pytest.mark.parametrize("name,data,maxlen,lines,hwms,pos", CASES)
def test_oracle_framing(name, data, maxlen, lines, hwms, pos):
    framed = frame_bytes(data, maxlen)
    assert framed.lines == lines
    assert framed.hwms == hwms
    assert framed.position == pos
    assert extract_text(data, maxlen) == b"\n".join(lines)


def test_spark_explode_lines_matches_golden(spark, tmp_path):
    """Every case, written to a file and framed from offset 0 by the
    production per-line framer (:func:`scones.tailsource.read_tail`):
    same lines and hwms, and every row's ``frame_end`` is the final
    position (a skipped line still advances it)."""
    for maxlen in (0, 8):
        cases = [c for c in CASES if c[2] == maxlen]
        work = []
        for name, data, *_ in cases:
            path = tmp_path / f"{name}.log"
            path.write_bytes(data)
            work.append((str(path), 0, len(data)))
        got = {}
        for r in read_tail(spark, work, max_length=maxlen).collect():
            got.setdefault(r.src_file, []).append((r.line, r.hwm, r.frame_end))
        for name, data, _, lines, hwms, pos in cases:
            rows = got.get(str(tmp_path / f"{name}.log"), [])
            assert [(ln, h) for ln, h, _ in rows] == list(zip(lines, hwms)), name
            assert all(end == pos for _, _, end in rows), name


def test_spark_extract_documents_matches_golden(spark):
    for maxlen in (0, 8):
        cases = [c for c in CASES if c[2] == maxlen]
        df = spark.createDataFrame(
            [(c[0], c[1]) for c in cases], "url string, html binary"
        )
        out = {
            r.url: (bytes(r.extracted), r.n_lines, r.bytes_read)
            for r in extract_documents(df, max_length=maxlen).collect()
        }
        for name, data, _, lines, hwms, pos in cases:
            assert out[name][0] == b"\n".join(lines), name
            assert out[name][1] == len(lines), name
            assert out[name][2] == pos, name
