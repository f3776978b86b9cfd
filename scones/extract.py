"""Framing/extraction over ``html: binary`` columns.

This is the Spark-native replacement for the reference's line-framing loop
(/root/reference/file_reader.go:57-93): split raw bytes on ``\\n``, advance
the byte position by the raw line length, skip-but-advance over-long lines
(:74-77), strip trailing CR/LF from the payload (:80), never emit a
trailing partial line.  Semantics are pinned byte-for-byte against
``scones.oracle`` by tests/test_framing_golden.py and tests/test_extract.py.

Implementation: ``DataFrame.mapInArrow`` — data moves JVM→Python as Arrow
record batches; the kernel runs C-speed ``bytes`` operations per document
(split / join / replace), no per-row Python UDF registration and no
per-line Python loop on the fast path (max_length == 0).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXTRACT_COLS = "extracted binary, n_lines bigint, bytes_read bigint, n_skipped bigint"

#: bytes.replace passes :func:`_trim_cr` makes before it trims per line;
#: each pass shortens every CR run before a newline by one, and web text's
#: runs are one CR long
_CR_PASSES = 4


def _trim_cr(text: bytes) -> bytes:
    """Per-line ``bytes.TrimRight(line, "\\r\\n")`` (file_reader.go:80)
    over ``\\n``-joined lines: every CR run before a newline goes, and so
    does the final line's trailing one.  A few C-speed ``bytes.replace``
    passes do it; a longer run falls back to a per-line trim, so a doc of
    CR runs costs linear time, not one pass per CR."""
    for _ in range(_CR_PASSES):
        if b"\r\n" not in text:
            return text.rstrip(b"\r")
        text = text.replace(b"\r\n", b"\n")
    return b"\n".join(line.rstrip(b"\r") for line in text.split(b"\n"))


def _frame_doc(data: bytes, max_length: int) -> tuple[bytes, int, int, int]:
    """Frame one document -> (text, n_lines, bytes_read, n_skipped).

    Fast path (max_length == 0): no per-line work at all — the framed
    region is everything up to the last newline, and per-line CR/LF
    trimming collapses to :func:`_trim_cr` over the region (every line
    boundary is a ``\\n``, so a CR run before it is exactly what the
    per-line TrimRight removes).
    """
    if max_length <= 0:
        end = data.rfind(b"\n") + 1
        if end == 0:
            return b"", 0, 0, 0
        n_lines = data.count(b"\n", 0, end)
        text = _trim_cr(data[: end - 1])
        return text, n_lines, end, 0
    parts = data.split(b"\n")
    tail = parts.pop()  # partial trailing line: not emitted, not counted
    bytes_read = len(data) - len(tail)
    kept = [p for p in parts if len(p) + 1 <= max_length]
    n_skipped = len(parts) - len(kept)
    text = _trim_cr(b"\n".join(kept))
    return text, len(kept), bytes_read, n_skipped


def extract_documents(
    df: DataFrame, max_length: int = 0, html_col: str = "html"
) -> DataFrame:
    """Extract text from ``html_col`` (binary); passthrough all other columns.

    Adds: extracted(binary), extracted_str(string, utf-8 w/ replacement),
    n_lines, bytes_read (final high-water mark), n_skipped.
    The binary ``extracted`` column carries the byte-identical contract;
    ``extracted_str`` is the lossy-decoded convenience for SQL ops.
    """
    passthrough = [f for f in df.schema.fields if f.name != html_col]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in passthrough]
        + [EXTRACT_COLS]
    )
    pass_names = [f.name for f in passthrough]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # per-doc loop of C-speed bytes ops (split/rfind/replace): one pass
        # over each doc, minimal auxiliary memory
        for batch in batches:
            texts: list[bytes] = []
            n_lines: list[int] = []
            bytes_read: list[int] = []
            n_skipped: list[int] = []
            for data in batch.column(html_col).to_pylist():
                t, nl, br, sk = _frame_doc(data or b"", max_length)
                texts.append(t)
                n_lines.append(nl)
                bytes_read.append(br)
                n_skipped.append(sk)
            yield pa.RecordBatch.from_arrays(
                [batch.column(n) for n in pass_names]
                + [
                    pa.array(texts, pa.binary()),
                    pa.array(n_lines, pa.int64()),
                    pa.array(bytes_read, pa.int64()),
                    pa.array(n_skipped, pa.int64()),
                ],
                pass_names + ["extracted", "n_lines", "bytes_read", "n_skipped"],
            )

    out = df.mapInArrow(run, out_schema)
    # Lossy string view decoded JVM-side (keeps the Arrow transfer binary-only;
    # the byte-identical contract lives on `extracted`).
    return out.withColumn("extracted_str", F.col("extracted").cast("string"))

