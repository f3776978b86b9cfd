"""Incremental cross-snapshot dedup: persisted band index, no-rescan
candidate generation, and equivalence with the full-union LSH run."""

import pytest
from pyspark.sql import functions as F

from scones.incremental import (
    incremental_candidates,
    incremental_lsh_pairs,
    read_band_index,
    write_band_index,
)
from scones.textops import minhash_lsh_pairs

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    """Snapshot 1 (even doc_ids) written with its band index;
    snapshot 2 (odd doc_ids) arrives later.  Each snapshot dir holds
    ``documents`` and ``band_index`` (8 hashes, bands of 2, 3-shingles)."""
    root = str(tmp_path_factory.mktemp("corpus_root"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    snaps = []
    for sid in (1, 2):
        part = docs.where(F.col("doc_id") % 2 == sid - 1)
        snap_dir = f"{root}/snapshot={sid:06d}"
        part.write.parquet(f"{snap_dir}/documents")
        write_band_index(part, f"{snap_dir}/band_index", 8, 2, 3)
        snaps.append(snap_dir)
    return root, *snaps


def test_candidate_generation_never_reads_committed_text(spark, snapshots):
    """The probe's candidate stage reads the NEW snapshot and the
    persisted INDEX — never snapshot 1's document files.  This is the
    point of the operator: a daily delta does not re-scan the corpus."""
    _, s1, s2 = snapshots
    new = spark.read.parquet(f"{s2}/documents")
    idx1 = read_band_index(spark, f"{s1}/band_index")
    cands = incremental_candidates(new, idx1, k=3)
    files = set(cands.inputFiles())
    assert files, "candidate plan should read real files"
    committed_doc_files = {f for f in files if f"{s1}/documents" in f}
    assert committed_doc_files == set()
    # it DOES read the index and the new snapshot
    assert any("band_index" in f for f in files)
    assert any(f"{s2}/documents".replace("=", "%3D") in f or f"{s2}/documents" in f for f in files)


def test_incremental_union_equals_full_lsh(spark, snapshots):
    """committed-pairs ∪ index-probe-pairs == full-union LSH, exactly
    (same bands, same verify) — the CORRECTNESS contract the driver
    oracle checks via the shared full-LSH replay SQL."""
    _, s1, s2 = snapshots
    committed = spark.read.parquet(f"{s1}/documents")
    new = spark.read.parquet(f"{s2}/documents")
    idx1 = read_band_index(spark, f"{s1}/band_index")

    inc = incremental_lsh_pairs(
        new, committed, idx1, num_hashes=8, band_size=2, k=3, threshold=0.2
    )
    committed_pairs = minhash_lsh_pairs(
        committed, num_hashes=8, band_size=2, k=3, threshold=0.2
    )
    got = {
        (r.doc_a, r.doc_b, float(r.jaccard))
        for r in committed_pairs.unionByName(inc).collect()
    }

    full = minhash_lsh_pairs(
        committed.unionByName(new), num_hashes=8, band_size=2, k=3,
        threshold=0.2,
    )
    want = {(r.doc_a, r.doc_b, float(r.jaccard)) for r in full.collect()}
    assert got == want
    assert want  # the sf0.01 corpus has planted near-dup pairs


def test_pipeline_dedup_index_hook(spark, tmp_path):
    """End-to-end: dedup_index=true makes each snapshot commit persist a
    band index and report cross-snapshot near-dups.  Batch 2 re-ingests
    batch 1's exact content under new file names — every doc must pair
    with its committed twin at jaccard 1.0, WITHOUT re-signaturing
    snapshot 1 (only its index + candidate texts are read)."""
    import shutil

    from scones.config import PipelineConfig
    from scones.corpus import write_corpus
    from scones.pipeline import run_snapshot

    root = tmp_path
    write_corpus(str(root / "in"), n_docs=40, n_files=1, seed=77)
    cfg = PipelineConfig(
        input_glob=f"{root}/in/*.parquet",
        output_dir=str(root / "out"),
        checkpoint_dir=str(root / "ckpt"),
        n_sinks=2,
        dedup_index=True,
        dedup_threshold=0.5,
    )
    s1 = run_snapshot(spark, cfg)
    assert s1["snapshot_id"] == 1
    assert "n_near_dup_pairs" in s1
    assert (root / "ckpt" / "band_index" / "snapshot_id=1").is_dir()
    base_pairs = s1["n_near_dup_pairs"]  # corpus-internal dups, if any

    # batch 2: identical content, new file name → new lineage entry
    shutil.copy(
        str(root / "in" / "docs_0000.parquet"),
        str(root / "in" / "docs_dup_0000.parquet"),
    )
    s2 = run_snapshot(spark, cfg)
    assert s2["snapshot_id"] == 2
    # every one of the 40 re-ingested docs is a near-dup of its twin
    assert s2["n_near_dup_pairs"] >= 40 + base_pairs
    pairs = spark.read.parquet(s2["near_dups"])
    twins = pairs.where(
        (F.col("jaccard") == 1.0)
        & (F.split("doc_a", "#")[0] != F.split("doc_b", "#")[0])
    )
    assert twins.count() >= 40


def test_index_is_band_partitioned(spark, snapshots):
    """The persisted index is routed by band so a band probe prunes to
    one partition directory."""
    import os

    _, s1, _ = snapshots
    idx_dir = f"{s1}/band_index"
    parts = {d for d in os.listdir(idx_dir) if d.startswith("band=")}
    assert parts == {"band=0", "band=1", "band=2", "band=3"}
    idx = read_band_index(spark, idx_dir)
    assert set(idx.columns) == {"doc_id", "band", "band_hash"}


def test_bloom_probe_no_false_negatives_and_deterministic(spark):
    """Every key folded into the bitmap MUST probe true (Bloom filters
    have no false negatives); unseen keys overwhelmingly probe false at
    this sizing; results are partitioning-independent."""
    from scones.incremental import bloom_build, bloom_probe

    committed = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(300)], ["doc_id", "k"]
    )
    fresh = spark.createDataFrame(
        [(1000 + i, f"other-{i}") for i in range(300)], ["doc_id", "k"]
    )
    bloom = bloom_build(committed, "k")
    seen = {r.doc_id: r.maybe_seen for r in bloom_probe(
        committed.unionByName(fresh), bloom, "k").collect()}
    assert all(seen[i] for i in range(300))  # no false negatives, ever
    fp = sum(1 for i in range(1000, 1300) if seen[i])
    assert fp <= 3  # ~2.4e-7 expected FP rate at 65536 bits / 600 keys
    again = {r.doc_id: r.maybe_seen for r in bloom_probe(
        committed.unionByName(fresh).repartition(17), bloom, "k").collect()}
    assert seen == again


def test_pipeline_exact_tier_via_bloom(spark, tmp_path):
    """The commit hook's exact tier: snapshot 2 re-ingests snapshot 1's
    content verbatim — every doc must report an exact committed twin via
    the bloom -> fingerprint-index path, which never reads committed
    document text (only index parquet under the checkpoint dir)."""
    import shutil

    from scones.config import PipelineConfig
    from scones.corpus import write_corpus
    from scones.pipeline import run_snapshot

    root = tmp_path
    write_corpus(str(root / "in"), n_docs=30, n_files=1, seed=31)
    cfg = PipelineConfig(
        input_glob=f"{root}/in/*.parquet",
        output_dir=str(root / "out"),
        checkpoint_dir=str(root / "ckpt"),
        n_sinks=2,
        dedup_index=True,
        dedup_threshold=0.5,
    )
    s1 = run_snapshot(spark, cfg)
    assert s1["n_exact_dups"] == 0  # nothing committed yet
    assert (root / "ckpt" / "bloom_index" / "snapshot_id=1").is_dir()
    assert (root / "ckpt" / "fp_index" / "snapshot_id=1").is_dir()

    shutil.copy(
        str(root / "in" / "docs_0000.parquet"),
        str(root / "in" / "docs_dup_0000.parquet"),
    )
    s2 = run_snapshot(spark, cfg)
    assert s2["n_exact_dups"] == 30  # every re-ingested doc has its twin
    exact = spark.read.parquet(s2["exact_dups"])
    rows = exact.collect()
    assert all(r.new_doc.startswith("2#") for r in rows)
    assert all(r.committed_doc.startswith("1#") for r in rows)

    # the exact tier reads only index files, never committed documents
    from scones.incremental import exact_dups_via_bloom, pipeline_doc_view

    written = spark.read.parquet(str(root / "out" / "snapshot_id=2"))
    new_docs = pipeline_doc_view(written, 2)
    probe = exact_dups_via_bloom(
        spark,
        new_docs,
        [str(root / "ckpt" / "fp_index" / "snapshot_id=1")],
        [str(root / "ckpt" / "bloom_index" / "snapshot_id=1")],
    )
    committed_doc_files = [
        f for f in probe.inputFiles() if "/out/snapshot_id=1" in f
    ]
    assert committed_doc_files == []


def test_third_snapshot_probes_two_committed_indexes(spark, tmp_path):
    """Day-three regression: with TWO committed snapshots the index
    readers must union per-dir reads — a single multi-path read trips
    Spark's partition discovery (CONFLICTING_DIRECTORY_STRUCTURES) on
    sibling snapshot_id=N roots."""
    import shutil

    from scones.config import PipelineConfig
    from scones.corpus import write_corpus
    from scones.pipeline import run_snapshot

    root = tmp_path
    write_corpus(str(root / "in"), n_docs=20, n_files=2, seed=41)
    # hold back the second file so snapshots 1 and 2 differ
    shutil.move(str(root / "in" / "docs_0001.parquet"), str(root / "held"))
    cfg = PipelineConfig(
        input_glob=f"{root}/in/*.parquet",
        output_dir=str(root / "out"),
        checkpoint_dir=str(root / "ckpt"),
        n_sinks=2,
        dedup_index=True,
    )
    assert run_snapshot(spark, cfg)["snapshot_id"] == 1
    shutil.move(str(root / "held"), str(root / "in" / "docs_0001.parquet"))
    assert run_snapshot(spark, cfg)["snapshot_id"] == 2
    # snapshot 3 re-ingests snapshot 1's content: must probe BOTH
    # committed band/bloom/fp indexes without a read error
    shutil.copy(
        str(root / "in" / "docs_0000.parquet"),
        str(root / "in" / "docs_dup.parquet"),
    )
    s3 = run_snapshot(spark, cfg)
    assert s3["snapshot_id"] == 3
    assert s3["n_exact_dups"] == 10  # the 10 docs of file 0 have twins
    assert s3["n_near_dup_pairs"] >= 10


def test_bloom_params_persisted_and_validated(spark, tmp_path):
    """write_exact_index persists m_bits/n_hashes with the Bloom words;
    a probe with different parameters fails LOUDLY instead of silently
    missing duplicates, and merging indexes built with different
    parameters fails too (round-5 ADVICE)."""
    import pytest

    from scones.incremental import (
        exact_dups_via_bloom,
        merge_blooms,
        write_exact_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    fp_a = str(tmp_path / "fp_a")
    bl_a = str(tmp_path / "bl_a")
    write_exact_index(docs, fp_a, bl_a, m_bits=1 << 12, n_hashes=3)
    persisted = spark.read.parquet(bl_a)
    assert {"widx", "bits", "m_bits", "n_hashes"} <= set(persisted.columns)
    assert persisted.select("m_bits").distinct().collect()[0][0] == 1 << 12

    # matching parameters: the true duplicate pair comes back
    pairs = exact_dups_via_bloom(
        spark, docs, [fp_a], [bl_a], m_bits=1 << 12, n_hashes=3
    ).collect()
    assert {(r["new_doc"], r["committed_doc"]) for r in pairs} >= {(1, 1), (3, 1)}

    # mismatched probe parameters: loud failure, not false negatives
    with pytest.raises(Exception, match="do not match the persisted"):
        exact_dups_via_bloom(
            spark, docs, [fp_a], [bl_a], m_bits=1 << 13, n_hashes=3
        ).collect()

    # merging two indexes with different parameters: loud failure
    fp_b = str(tmp_path / "fp_b")
    bl_b = str(tmp_path / "bl_b")
    write_exact_index(docs, fp_b, bl_b, m_bits=1 << 13, n_hashes=3)
    with pytest.raises(Exception, match="inconsistent persisted Bloom"):
        merge_blooms(spark, bl_a, bl_b).collect()
