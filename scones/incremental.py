"""Incremental cross-snapshot near-dup: dedup a NEW snapshot against a
committed corpus WITHOUT re-scanning (re-signaturing) it.

The committed corpus's LSH state is its banded minhash index — rows
``(doc_id, band, band_hash)`` from :func:`scones.textops.minhash_bands`
— persisted as a routed side table at commit time.  A later snapshot
then:

1. signatures only its OWN documents (the daily delta, not the corpus),
2. probes the persisted index with a bucket join for new-vs-committed
   candidates plus a self-join for new-vs-new candidates,
3. exact-verifies candidates with true shingle Jaccard, touching
   committed TEXT only for the candidate doc ids (a pruned point lookup
   — at scale the corpus is routed/bucketed by doc_id, so this reads a
   vanishing fraction of it; what is never redone is the full-corpus
   signature/banding scan).

``incremental_lsh_pairs(new, committed) ∪ committed_pairs`` reproduces
``minhash_lsh_pairs(new ∪ committed)`` exactly (same bands, same
verify), which is the correctness oracle: the full-union LSH replay.

This is the daily 100 TB ingest loop: yesterday's index is O(corpus)
but append-only and written once per commit; today's work is
O(delta + candidates).

Reference parity: this generalizes the reference's "skip files the
registrar already consumed" admission control (registrar.go:34-60,
butteredscones.go:150-210) from file granularity to document-content
granularity — the committed corpus is never re-read wholesale, exactly
as the reference never re-tails a file recorded in its lineage DB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scones import layout
from scones.textops import minhash_bands, verify_candidate_pairs

BAND_INDEX_SUBDIR = "band_index"
INDEX_LOCK_FILE = ".index_lock"


import contextlib as _contextlib


@_contextlib.contextmanager
def index_lock(
    checkpoint_dir: str, exclusive: bool = False, timeout_sec: float = 600.0
):
    """Advisory flock guarding the dedup-index side tables.

    The pipeline's probe/commit path (:func:`update_index_and_probe`)
    holds it SHARED; maintenance that swaps and prunes live index dirs
    (``consolidate_indexes``) holds it EXCLUSIVE — closing the window
    where a concurrent probe observes no ``snapshot_id=max`` dir
    mid-swap (silently skipping the whole committed index) or plans a
    Spark read under a directory being rmtree'd (round-5 ADVICE,
    maintenance.py).  flock is per-open-file, so the exclusion also
    holds between two callers in one process.  Times out with a loud
    error instead of deadlocking."""
    import errno as _errno
    import fcntl as _fcntl
    import time as _time

    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, INDEX_LOCK_FILE)
    fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
    mode = _fcntl.LOCK_EX if exclusive else _fcntl.LOCK_SH
    deadline = _time.monotonic() + timeout_sec
    try:
        while True:
            try:
                _fcntl.flock(fd, mode | _fcntl.LOCK_NB)
                break
            except OSError as e:
                if e.errno not in (_errno.EAGAIN, _errno.EACCES):
                    raise
                if _time.monotonic() >= deadline:
                    kind = "exclusive" if exclusive else "shared"
                    raise RuntimeError(
                        f"could not acquire {kind} dedup-index lock at "
                        f"{path} within {timeout_sec}s — is an index "
                        "consolidation (or the pipeline daemon) running?"
                    ) from None
                _time.sleep(0.05)
        yield
    finally:
        try:
            _fcntl.flock(fd, _fcntl.LOCK_UN)
        finally:
            os.close(fd)



def write_band_index(
    docs: DataFrame,
    index_dir: str,
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> None:
    """Persist the banded minhash index for ``docs`` as a parquet side
    table partitioned by ``band`` (so a probe of band b prunes to its
    own partition — the "routed" layout, same idea as the sink router).

    Idempotent per corpus commit: overwrite semantics, so a retried
    commit rewrites the same deterministic rows.
    """
    bands = minhash_bands(docs, num_hashes, band_size, k)
    (
        bands.repartition("band")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(index_dir)
    )


def read_band_index(spark: SparkSession, *index_dirs: str) -> DataFrame:
    """Union the committed band indexes.  Each snapshot dir is read
    SEPARATELY and unioned: passing sibling `snapshot_id=N` dirs to one
    reader makes Spark's partition discovery see conflicting roots
    (CONFLICTING_DIRECTORY_STRUCTURES) as soon as TWO snapshots are
    committed — i.e. on day three of the ingest loop."""
    dfs = [
        spark.read.parquet(d).select("doc_id", "band", "band_hash")
        for d in index_dirs
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def incremental_candidates(
    new_docs: DataFrame,
    committed_bands: DataFrame | None,
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """LSH candidate pairs introduced by the new snapshot: new-vs-new
    (self-join on the new bands) plus new-vs-committed (bucket join of
    new bands against the PERSISTED index — the committed corpus itself
    is untouched here; assert with ``df.inputFiles()``).

    Pairs are normalized ``doc_a < doc_b`` so the union with the
    committed corpus's own (already known) pairs bit-matches a full
    ``minhash_lsh_pairs`` run over the union.
    """
    new_bands = minhash_bands(new_docs, num_hashes, band_size, k)
    a = new_bands.alias("a")
    b = new_bands.alias("b")
    nn = (
        a.join(b, on=["band", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    if committed_bands is None:  # first snapshot: nothing to probe
        return nn.distinct()
    c = committed_bands.alias("c")
    nc = (
        a.join(c, on=["band", "band_hash"])
        .where(F.col("a.doc_id") != F.col("c.doc_id"))
        .select(
            F.least("a.doc_id", "c.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "c.doc_id").alias("doc_b"),
        )
    )
    return nn.unionByName(nc).distinct()


def incremental_lsh_pairs(
    new_docs: DataFrame,
    committed_docs: DataFrame,
    committed_bands: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Verified near-dup pairs ``(doc_a, doc_b, jaccard)`` introduced by
    the new snapshot (at least one side new).  ``committed_docs`` is
    consulted ONLY to fetch candidate texts for exact verification — a
    per-candidate point lookup, not a scan-shaped dependency.
    """
    cands = incremental_candidates(
        new_docs, committed_bands, num_hashes, band_size, k
    )
    universe = new_docs.select("doc_id", "text").unionByName(
        committed_docs.select("doc_id", "text")
    )
    return verify_candidate_pairs(cands, universe, k, threshold)


def pipeline_doc_view(written: DataFrame, snapshot_id: int) -> DataFrame:
    """(doc_id, text) view of a routed pipeline snapshot: doc identity is
    snapshot-qualified (``"<snapshot_id>#<url>"``) so the SAME url
    re-ingested by a later snapshot is two distinct documents whose
    near-duplicity gets REPORTED — exactly the daily-crawl case the
    operator exists for."""
    return written.select(
        F.concat_ws("#", F.lit(str(snapshot_id)), F.col("url")).alias(
            "doc_id"
        ),
        F.col("extracted").cast("string").alias("text"),
    )


def update_index_and_probe(
    spark: SparkSession,
    checkpoint_dir: str,
    output_dir: str,
    snapshot_id: int,
    written: DataFrame,
    committed_ids: list[int],
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    threshold: float = 0.5,
) -> dict:
    """The pipeline-commit hook: persist this snapshot's band index and
    report near-dup pairs it introduces against the committed corpus.

    Runs AFTER the sink write, BEFORE the lineage commit — both outputs
    are deterministic overwrites, so a crash-retry of the snapshot
    rewrites identical files (effectively-once holds).  Committed
    snapshots that predate ``dedup_index`` being enabled simply have no
    index directory and are skipped (documented: enable-from-now-on).

    Cost shape at 100 TB: signatures/banding scan ONLY this snapshot's
    delta; the committed corpus contributes its (tiny, band-routed)
    index rows to the bucket join plus point lookups of candidate texts
    for exact verification.
    """
    with index_lock(checkpoint_dir, exclusive=False):
        return _update_index_and_probe_locked(
            spark,
            checkpoint_dir,
            output_dir,
            snapshot_id,
            written,
            committed_ids,
            num_hashes,
            band_size,
            k,
            threshold,
        )


def _update_index_and_probe_locked(
    spark: SparkSession,
    checkpoint_dir: str,
    output_dir: str,
    snapshot_id: int,
    written: DataFrame,
    committed_ids: list[int],
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    threshold: float = 0.5,
) -> dict:
    idx_root = os.path.join(checkpoint_dir, BAND_INDEX_SUBDIR)
    new_docs = pipeline_doc_view(written, snapshot_id)
    write_band_index(
        new_docs,
        layout.snapshot_dir(idx_root, snapshot_id),
        num_hashes,
        band_size,
        k,
    )
    committed_idx_dirs = list(layout.snapshot_dirs(idx_root, committed_ids).values())
    committed_bands = (
        read_band_index(spark, *committed_idx_dirs)
        if committed_idx_dirs
        else None
    )
    cands = incremental_candidates(
        new_docs, committed_bands, num_hashes, band_size, k
    )
    universe = new_docs
    for sid, d in layout.snapshot_dirs(output_dir, committed_ids).items():
        universe = universe.unionByName(pipeline_doc_view(spark.read.parquet(d), sid))
    pairs = verify_candidate_pairs(cands, universe, k, threshold)
    pairs_dir = layout.snapshot_dir(
        os.path.join(checkpoint_dir, "near_dups"), snapshot_id
    )
    pairs.write.mode("overwrite").parquet(pairs_dir)
    n = spark.read.parquet(pairs_dir).count()

    # Exact tier (two-tier gate, cheaper sibling of the LSH pass):
    # persist this snapshot's fingerprint table + Bloom words, probe
    # the merged committed Bloom, equi-join only flagged docs against
    # committed fingerprints.  Committed TEXT is untouched here.
    fp_root = os.path.join(checkpoint_dir, FP_INDEX_SUBDIR)
    bloom_root = os.path.join(checkpoint_dir, BLOOM_INDEX_SUBDIR)
    write_exact_index(
        new_docs,
        layout.snapshot_dir(fp_root, snapshot_id),
        layout.snapshot_dir(bloom_root, snapshot_id),
    )
    fp_dirs = list(layout.snapshot_dirs(fp_root, committed_ids).values())
    bloom_dirs = list(layout.snapshot_dirs(bloom_root, committed_ids).values())
    exact = exact_dups_via_bloom(spark, new_docs, fp_dirs, bloom_dirs)
    exact_dir = layout.snapshot_dir(
        os.path.join(checkpoint_dir, "exact_dups"), snapshot_id
    )
    exact.write.mode("overwrite").parquet(exact_dir)
    n_exact = spark.read.parquet(exact_dir).count()
    return {
        "n_near_dup_pairs": int(n),
        "near_dups": pairs_dir,
        "n_exact_dups": int(n_exact),
        "exact_dups": exact_dir,
    }


# ---------------------------------------------------------------------------
# Bloom-filter exact-dedup probe — the space-efficient sibling of the
# band index for EXACT dedup: the committed corpus's fingerprint set is
# folded into an m-bit Bloom bitmap (persisted as m/63 packed-word
# rows, i.e. a few MB for billions of keys at ~10 bits/key), and a new
# snapshot probes membership with a broadcast join — no false
# negatives, tunable false-positive rate; positives are then verified
# against the exact fingerprint store (the standard two-tier probe).
#
# Cross-engine determinism: position h of a key is
#   conv(md5(h || '|' || key)[:15 hex], 16, 10) % m_bits
# (60-bit non-negative), and words are 63 BITS wide — bit 63 would
# overflow a signed-long shift in either engine's literal path.

BLOOM_WORD_BITS = 63


def bloom_position(key: "F.Column", h: int, m_bits: int):
    """Bit position of hash ``h`` of a key (row-local)."""
    digest = F.md5(F.concat_ws("|", F.lit(str(h)), key))
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint") % m_bits


def bloom_positions(key: "F.Column", m_bits: int, n_hashes: int):
    """Array of ``n_hashes`` bit positions for a key (row-local)."""
    return F.array(*[bloom_position(key, h, m_bits) for h in range(n_hashes)])


def bloom_word(p: str):
    """Packed-word index of the bit position in column ``p``."""
    return F.expr(f"{p} div {BLOOM_WORD_BITS}")


def bloom_mask(p: str):
    """Single-bit mask of the bit position in column ``p`` within its word."""
    return F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({p} % {BLOOM_WORD_BITS} AS INT))"
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    n_hashes: int = 4,
) -> DataFrame:
    """Fold a key column into packed Bloom words ``(widx, bits)`` —
    one explode to (key, position), then ONE map-side-combinable
    bit_or groupBy over at most m/63 word rows."""
    pos = df.select(
        F.explode(bloom_positions(F.col(key_col), m_bits, n_hashes)).alias(
            "p"
        )
    )
    return (
        pos.select(bloom_word("p").alias("widx"), bloom_mask("p").alias("mask"))
        .groupBy("widx")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    n_hashes: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Membership probe: ``maybe_seen`` is true iff EVERY hash position
    of the key is set in the bitmap (no false negatives).  The bitmap
    is m/63 rows — broadcast; the probe costs one narrow explode + one
    broadcast join + one bool_and rollup, never touching the committed
    corpus itself."""
    pos = df.select(
        id_col,
        F.explode(bloom_positions(F.col(key_col), m_bits, n_hashes)).alias(
            "p"
        ),
    ).select(id_col, bloom_word("p").alias("widx"), bloom_mask("p").alias("mask"))
    joined = pos.join(F.broadcast(bloom), "widx", "left")
    hit = F.col("bits").isNotNull() & (
        F.col("bits").bitwiseAND(F.col("mask")) != 0
    )
    # min-over-int rather than bool_and: identical semantics, and the
    # cast keeps the aggregate map-side-combinable in both engines.
    return joined.groupBy(id_col).agg(
        F.min(hit.cast("int")).cast("boolean").alias("maybe_seen")
    )


FP_INDEX_SUBDIR = "fp_index"
BLOOM_INDEX_SUBDIR = "bloom_index"


def write_exact_index(
    docs: DataFrame,
    fp_dir: str,
    bloom_dir: str,
    m_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> None:
    """Persist a snapshot's EXACT-dedup state: the (doc_id, fp) content
    fingerprint table and its packed Bloom words.  Deterministic
    overwrites (crash-retry rewrites identical files).  The fp is
    md5(text) — content identity at pipeline granularity."""
    fp = docs.select("doc_id", F.md5("text").alias("fp"))
    fp.write.mode("overwrite").parquet(fp_dir)
    # m_bits/n_hashes ride WITH the words (round-5 ADVICE): a probe with
    # different parameters would yield silent false negatives, so the
    # persisted table carries its own parameters and probes/merges
    # validate them, failing loudly on mismatch.
    (
        bloom_build(fp, "fp", m_bits, n_hashes)
        .withColumn("m_bits", F.lit(int(m_bits)))
        .withColumn("n_hashes", F.lit(int(n_hashes)))
        .write.mode("overwrite")
        .parquet(bloom_dir)
    )


def merge_blooms(spark: SparkSession, *bloom_dirs: str) -> DataFrame:
    """Union committed Bloom tables into one bitmap: bit_or per word —
    Bloom filters compose by OR, so N snapshots' filters merge into a
    single m/63-row table (still broadcast-sized).

    Every input carries its persisted ``m_bits``/``n_hashes`` columns
    (write_exact_index).  The merge VALIDATES that all inputs share one
    parameter set — OR-ing words of differently-sized filters would
    produce silent false negatives — and carries the parameters through
    for downstream probe validation.  The check is a row-level
    raise_error, so it costs no extra job."""
    cols = ["widx", "bits", "m_bits", "n_hashes"]
    words = spark.read.parquet(bloom_dirs[0]).select(*cols)
    for d in bloom_dirs[1:]:  # per-dir reads: see read_band_index
        words = words.unionByName(spark.read.parquet(d).select(*cols))
    merged = words.groupBy("widx").agg(
        F.expr("bit_or(bits)").alias("bits"),
        F.min("m_bits").alias("_m_lo"),
        F.max("m_bits").alias("_m_hi"),
        F.min("n_hashes").alias("_h_lo"),
        F.max("n_hashes").alias("_h_hi"),
    )
    consistent = (F.col("_m_lo") == F.col("_m_hi")) & (
        F.col("_h_lo") == F.col("_h_hi")
    )
    boom = F.raise_error(
        F.concat(
            F.lit("merge_blooms: inconsistent persisted Bloom parameters "),
            F.lit("(m_bits "),
            F.col("_m_lo").cast("string"),
            F.lit("/"),
            F.col("_m_hi").cast("string"),
            F.lit(", n_hashes "),
            F.col("_h_lo").cast("string"),
            F.lit("/"),
            F.col("_h_hi").cast("string"),
            F.lit(") — merging them would yield false negatives"),
        )
    )
    return merged.select(
        "widx",
        F.when(consistent, F.col("bits")).otherwise(boom).alias("bits"),
        F.col("_m_lo").alias("m_bits"),
        F.col("_h_lo").alias("n_hashes"),
    )


def exact_dups_via_bloom(
    spark: SparkSession,
    new_docs: DataFrame,
    committed_fp_dirs: list[str],
    committed_bloom_dirs: list[str],
    m_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> DataFrame:
    """Two-tier cross-snapshot EXACT dedup: (1) probe every new doc's
    fingerprint against the merged committed Bloom bitmap (broadcast,
    no false negatives); (2) equi-join ONLY the flagged docs against
    the committed fingerprint tables for exact (new_doc, committed_doc)
    pairs — false positives die here.  At scale the flagged set is
    |true dups| + FP-rate·|delta|, so the fp-index join's probe side is
    a vanishing fraction of the snapshot; committed TEXT is never read
    at all (exact identity needs only the fingerprints)."""
    new_fp = new_docs.select(
        F.col("doc_id").alias("new_doc"), F.md5("text").alias("fp")
    )
    if not committed_bloom_dirs:
        return new_fp.select("new_doc", "fp").limit(0).withColumn(
            "committed_doc", F.lit("")
        ).select("new_doc", "committed_doc")
    bloom = merge_blooms(spark, *committed_bloom_dirs)
    # persisted parameters must equal the probe's (round-5 ADVICE: a
    # mismatch silently yields false negatives) — row-level check, no
    # extra job, fails loudly
    ok = (F.col("m_bits") == int(m_bits)) & (F.col("n_hashes") == int(n_hashes))
    boom = F.raise_error(
        F.concat(
            F.lit(
                "exact_dups_via_bloom: probe parameters "
                f"(m_bits={int(m_bits)}, n_hashes={int(n_hashes)}) "
                "do not match the persisted index ("
            ),
            F.col("m_bits").cast("string"),
            F.lit(", "),
            F.col("n_hashes").cast("string"),
            F.lit(") — probing would yield false negatives"),
        )
    )
    bloom = bloom.select(
        "widx", F.when(ok, F.col("bits")).otherwise(boom).alias("bits")
    )
    flagged = (
        bloom_probe(new_fp, bloom, "fp", m_bits, n_hashes, id_col="new_doc")
        .filter(F.col("maybe_seen"))
        .select("new_doc")
    )
    cand = new_fp.join(flagged, "new_doc")
    committed = spark.read.parquet(committed_fp_dirs[0]).select(
        F.col("doc_id").alias("committed_doc"), "fp"
    )
    for d in committed_fp_dirs[1:]:  # per-dir reads: see read_band_index
        committed = committed.unionByName(
            spark.read.parquet(d).select(
                F.col("doc_id").alias("committed_doc"), "fp"
            )
        )
    # distinct: a crash between index consolidation's target swap and
    # its source prune can leave a committed fingerprint row present in
    # two index dirs until the next maintenance run — pairs must not
    # double for it.
    return (
        cand.join(committed, "fp")
        .select("new_doc", "committed_doc")
        .distinct()
    )
