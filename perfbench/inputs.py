"""Seeded, cached inputs and their expected results.

Inputs are made from ``(workload, seed, size)`` before any timing and
cached under ``.perfbench/cache/<key>/``; a ``manifest.json`` written
last marks an entry complete.  Expected results come from references
that share no code path with the Spark pipeline:

* corpus files: ``scones.oracle`` framing of the raw ``html`` bytes
  (not the generator's lossy ``text`` column) and ``zlib.crc32`` routing;
* tail logs: the generator's own line boundaries;
* curation tables: the DuckDB oracle SQL, digested once per input.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import zlib

N_SINKS = 4
CACHE_KEEP = 6  # newest cache entries kept; older ones are evicted
TAIL_FILES = 16
TAIL_WORDS = (
    "GET POST PUT /api/v1/items /static/app.js /login 200 201 304 404 500 "
    "user=alice user=bob latency_ms= bytes= ua=Mozilla/5.0 ref=- "
    "trace=ab12 trace=cd34 shard=7 retry=0 cache=hit cache=miss"
).split()


def cached(root: str, key: str, build) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` for ``key``, building it on a miss.

    ``build(dir) -> manifest`` fills a fresh directory.  Older entries
    beyond :data:`CACHE_KEEP` are evicted so many seeds don't fill the disk.
    """
    base = os.path.join(root, ".perfbench", "cache")
    d = os.path.join(base, key)
    manifest_path = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest_path):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        manifest = build(d)
        manifest["input_digest"] = input_digest(d)
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, manifest_path)
    os.utime(manifest_path)
    entries = sorted(
        glob.glob(os.path.join(base, "*", "manifest.json")), key=os.path.getmtime
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    with open(manifest_path) as f:
        return d, json.load(f)


def input_digest(d: str) -> str:
    """sha256 over every input file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, fnames in sorted(os.walk(d)):
        dirnames.sort()
        for fn in sorted(fnames):
            if fn.startswith("manifest.json"):
                continue
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, d).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def row_digest(url: str, extracted: bytes) -> int:
    """Order-independent per-row digest term: crc32 over url‖0‖extracted."""
    return zlib.crc32(url.encode("utf-8") + b"\0" + extracted)


def expect_corpus_file(path: str) -> dict:
    """Expected pipeline result for one corpus file, from the raw html."""
    import pyarrow.parquet as pq

    from scones.oracle import frame_bytes

    t = pq.read_table(path, columns=["url", "html"])
    sinks = [[0, 0, 0] for _ in range(N_SINKS)]  # rows, bytes, digest
    framed_total = 0
    for url, html in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
        framed = frame_bytes(html)
        text = b"\n".join(framed.lines)
        framed_total += framed.position
        s = sinks[zlib.crc32(url.encode("utf-8")) % N_SINKS]
        s[0] += 1
        s[1] += len(text)
        s[2] += row_digest(url, text)
    return {
        "file": os.path.basename(path),
        "rows": t.num_rows,
        "framed_bytes": framed_total,
        "sinks": sinks,
    }


def build_corpus(d: str, n_docs: int, n_files: int, seed: int, processes: int) -> dict:
    """Common-Crawl-style corpus shards plus host_meta and expectations."""
    from scones.corpus import write_corpus_sharded, write_host_meta

    files = write_corpus_sharded(
        os.path.join(d, "in"), n_docs, n_files=n_files, seed=seed, processes=processes
    )
    write_host_meta(os.path.join(d, "host_meta.parquet"), seed=seed)
    # in this process: a worker pool would leave its resource-tracker
    # process running until this process exits
    return {"files": [expect_corpus_file(f) for f in sorted(files)], "n_docs": n_docs}


def _tail_lines(rng: random.Random, n: int) -> list[bytes]:
    lines = []
    for _ in range(n):
        body = " ".join(rng.choices(TAIL_WORDS, k=rng.randint(8, 18))).encode()
        lines.append(body + (b"\r\n" if rng.random() < 0.2 else b"\n"))
    return lines


def build_tail_file(d: str, f: int, rounds: int, lines_per_round: int, seed: int) -> dict:
    """Append chunks for one log file over ``rounds`` rounds.

    Each round appends ``lines_per_round`` complete lines; about a third
    of rounds then cut the next line in two, so the round ends in a
    partial line that the following round completes.  Returns, per
    round, the file size after the append and the committed offset and
    line count the partial-line rule implies.
    """
    rng = random.Random(f"{seed}/{f}")
    carry = b""  # the cut-off rest of a line, written first next round
    pos = 0  # bytes appended so far
    committed = 0  # offset after the last complete line
    per_round = []
    for r in range(rounds):
        lines = _tail_lines(rng, lines_per_round)
        chunk = carry + b"".join(lines)
        n_complete = lines_per_round + (1 if carry else 0)
        carry = b""
        if rng.random() < 0.35:
            nxt = _tail_lines(rng, 1)[0]
            cut = rng.randint(1, len(nxt) - 2)
            chunk += nxt[:cut]
            carry = nxt[cut:]
        with open(os.path.join(d, f"f{f:02d}_r{r:03d}.bin"), "wb") as fh:
            fh.write(chunk)
        pos += len(chunk)
        committed = pos - (len(chunk) - chunk.rfind(b"\n") - 1)
        per_round.append({"size": pos, "offset_end": committed, "lines": n_complete})
    return {"file": f"app_{f:02d}.log", "rounds": per_round}


def build_tail(d: str, rounds: int, lines_per_round: int, seed: int) -> dict:
    files = [build_tail_file(d, f, rounds, lines_per_round, seed) for f in range(TAIL_FILES)]
    return {"files": files, "rounds": rounds}


def tail_chunk(d: str, f: int, r: int) -> bytes:
    with open(os.path.join(d, f"f{f:02d}_r{r:03d}.bin"), "rb") as fh:
        return fh.read()


CURATION_QUERIES = (
    "clean_corpus",
    "dedup_near_keep_min",
    "substring_dedup_clean",
    "lm_perplexity",
)


def result_digest(df) -> str:
    """Digest of a result frame, normalized like the repo's oracle gate
    (columns sorted, object columns as str, ints as int64, floats rounded
    to 9 places, rows sorted)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    body = df.to_csv(index=False, float_format="%.9f")
    return hashlib.sha256(body.encode()).hexdigest()


def build_curation(d: str, n_docs: int, seed: int) -> dict:
    """Zipf-vocabulary documents table plus DuckDB oracle digests."""
    import duckdb

    import __spark_entry__ as entry
    from scones.corpus import write_zipf_documents

    path = write_zipf_documents(d, n_docs=n_docs, seed=seed)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{path}')")
        digests = {
            q: {
                "digest": result_digest(df := con.execute(oracles[q]).df()),
                "rows": len(df),
            }
            for q in CURATION_QUERIES
        }
    finally:
        con.close()
    return {"n_docs": n_docs, "queries": digests}
