"""Grok-style structured field extraction from log/text lines.

The north rule's "grok/regex parse" step: named patterns compile to one
regex; each field is pulled JVM-side with ``regexp_extract`` (whole-stage
codegen — zero Python), with typed casts applied per field.  This is the
structured-parsing layer ON TOP of the byte-exact line framing in
extract.py/tailsource.py (the reference stops at raw lines,
file_reader.go:105-120; grok is what its logstash downstream would do).

Pattern syntax: ``%{NAME:field}`` or ``%{NAME:field:type}`` where NAME
is a library pattern below and type ∈ {int, long, double, ts}.
Literal text between captures is regex-escaped.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Library of base patterns (regex fragments, no capture groups).
PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(?:\.\d+)?",
    "LOGLEVEL": r"(?:DEBUG|INFO|WARN|ERROR|FATAL|TRACE)",
    "QUOTEDSTRING": r'"[^"]*"',
    "PATH": r"(?:/[\w.-]+)+",
    # Apache/nginx access-log building blocks
    "HTTPDATE": r"\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}",
    "HTTPMETHOD": r"(?:GET|POST|PUT|DELETE|HEAD|OPTIONS|PATCH)",
    "HOSTNAME": r"[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?(?:\.[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?)*",
    "SYSLOGTIMESTAMP": r"\w{3} [ \d]\d \d{2}:\d{2}:\d{2}",
    # Contributed dictionary (public logstash-patterns-core shapes,
    # re-derived: each is the standard textbook regex for the format)
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "EMAILADDRESS": r"[a-zA-Z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "MAC": r"(?:[0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}",
    "IPV6": r"(?:[0-9a-fA-F]{0,4}:){2,7}[0-9a-fA-F]{0,4}(?:%\w+)?",
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+.-]*",
    "URI": r"[A-Za-z][A-Za-z0-9+.-]*://\S+",
    "DATESTAMP_SLASH": r"\d{4}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]\d{2}:?\d{2})",
    "POSINT": r"\d+",
}
# IPORHOST references IP + HOSTNAME; built after the dict so it can
# compose them without forward references.
PATTERNS["IPORHOST"] = f"(?:{PATTERNS['IP']}|{PATTERNS['HOSTNAME']})"

# Composite patterns: grok sub-pattern strings, referenced UNNAMED as
# %{COMMONAPACHELOG} and expanded recursively before tokenization.
# Field names follow the canonical logstash definitions.  Text between
# tokens is literal (compile_grok escapes it), so composites use plain
# characters only.
COMPOSITES: dict[str, str] = {
    "COMMONAPACHELOG": (
        '%{NOTSPACE:clientip} %{NOTSPACE:ident} %{NOTSPACE:auth} '
        '[%{HTTPDATE:timestamp}] "%{HTTPMETHOD:verb} %{NOTSPACE:request} '
        'HTTP/%{NUMBER:httpversion}" %{INT:response:int} %{NOTSPACE:bytes}'
    ),
    "COMBINEDAPACHELOG": (
        '%{COMMONAPACHELOG} "%{DATA:referrer}" "%{DATA:agent}"'
    ),
    "SYSLOGLINE": (
        "%{SYSLOGTIMESTAMP:sys_ts} %{NOTSPACE:logsource} "
        "%{WORD:program}[%{INT:pid:int}]: %{GREEDYDATA:message}"
    ),
    # nginx error_log default format:
    #   2024/01/15 09:00:01 [error] 1234#0: *55 open() failed ...
    "NGINXERROR": (
        "%{DATESTAMP_SLASH:timestamp} [%{LOGLEVEL_LOWER:severity}] "
        "%{INT:pid:int}#%{INT:tid:int}: %{GREEDYDATA:message}"
    ),
}
PATTERNS["LOGLEVEL_LOWER"] = r"(?:debug|info|notice|warn|error|crit|alert|emerg)"

# %{NAME:field}, %{NAME:field:type}, or unnamed %{NAME} (non-capturing)
_TOKEN = re.compile(r"%\{(\w+)(?::(\w+))?(?::(\w+))?\}")
_UNNAMED_COMPOSITE = re.compile(r"%\{(\w+)\}")


def expand_composites(pattern: str, max_depth: int = 5) -> str:
    """Inline unnamed %{COMPOSITE} references (recursively, bounded)."""
    for _ in range(max_depth):
        hit = False

        def sub(m: re.Match) -> str:
            nonlocal hit
            body = COMPOSITES.get(m.group(1))
            if body is None:
                return m.group(0)
            hit = True
            return body

        pattern = _UNNAMED_COMPOSITE.sub(sub, pattern)
        if not hit:
            return pattern
    raise RecursionError("composite grok pattern nesting too deep")

_CASTS = {"int": "int", "long": "bigint", "double": "double", "ts": "timestamp"}


def compile_grok(
    pattern: str, anchored: bool = False
) -> tuple[str, list[tuple[str, str | None]]]:
    """Grok pattern → (single regex with ordered groups, [(field, type)]).

    ``%{NAME:field[:type]}`` captures; unnamed ``%{NAME}`` matches
    without capturing; unnamed composite references
    (``%{COMBINEDAPACHELOG}`` etc.) are inlined first.

    ``anchored=True`` wraps the whole regex in ``^…$`` so the pattern
    must consume the ENTIRE line (grok's strict mode): a COMMONAPACHELOG
    pattern then rejects a line with trailing junk instead of matching
    its prefix.  Unanchored (default) reproduces find-first-substring
    semantics, matching ``regexp_extract``'s native behavior.
    """
    pattern = expand_composites(pattern)
    fields: list[tuple[str, str | None]] = []
    out = []
    pos = 0
    for m in _TOKEN.finditer(pattern):
        out.append(re.escape(pattern[pos : m.start()]))
        name, field, typ = m.group(1), m.group(2), m.group(3)
        if name not in PATTERNS:
            raise KeyError(f"unknown grok pattern %{{{name}}}")
        if typ is not None and typ not in _CASTS:
            raise KeyError(f"unknown grok type :{typ}")
        if field is None:
            out.append(f"(?:{PATTERNS[name]})")
        else:
            out.append(f"({PATTERNS[name]})")
            fields.append((field, typ))
        pos = m.end()
    out.append(re.escape(pattern[pos:]))
    regex = "".join(out)
    if anchored:
        regex = "^" + regex + "$"
    return regex, fields


def _typed(c: Column, typ: str | None) -> Column:
    if typ is None:
        return c
    # non-matching lines extract '' — nullify before casting
    return F.when(c == "", None).otherwise(c).cast(_CASTS[typ])


def grok_columns(
    line_col: str | Column,
    pattern: str,
    anchored: bool = False,
) -> dict[str, Column]:
    """Per-field extraction columns (JVM-side, codegen-able): one
    ``regexp_extract`` per field, typed by the field's cast suffix."""
    regex, fields = compile_grok(pattern, anchored=anchored)
    col = F.col(line_col) if isinstance(line_col, str) else line_col
    return {
        field: _typed(F.regexp_extract(col, regex, i), typ)
        for i, (field, typ) in enumerate(fields, start=1)
    }


def grok_parse(
    df: DataFrame,
    line_col: str,
    pattern: str,
    keep_unmatched: bool = True,
    anchored: bool = False,
) -> DataFrame:
    """Add one typed column per grok field; optionally drop non-matching
    lines (a non-match extracts empty strings / nulls for every field)."""
    regex, fields = compile_grok(pattern, anchored=anchored)
    out = df
    for field, col in grok_columns(line_col, pattern, anchored=anchored).items():
        out = out.withColumn(field, col)
    if not keep_unmatched:
        out = out.where(F.col(line_col).rlike(regex))
    return out
