"""ANN variants: multi-probe supersedes single-bucket; recall vs brute.
Banded embedding near-dup: recall vs brute force, bucket cap, adaptive
parameter sizing."""

from scones.similarity import (
    ann_hyperplane_topk,
    cosine,
    cosine_topk,
    embedding_near_dup_pairs,
    near_dup_lsh_params,
)


def test_multi_probe_is_superset_search(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    # k beyond any pool size → no truncation: the candidate POOLS compare
    big = 10**6
    single = {r.vec_id for r in ann_hyperplane_topk(df, 0, k=big).collect()}
    multi = {
        r.vec_id
        for r in ann_hyperplane_topk(df, 0, k=big, probe_hamming=1).collect()
    }
    assert single <= multi
    assert len(multi) >= len(single)


def test_multi_probe_improves_recall_vs_bruteforce(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    truth = {r.vec_id for r in cosine_topk(df, 0, k=10).collect()}
    single = {r.vec_id for r in ann_hyperplane_topk(df, 0, k=10).collect()}
    multi = {
        r.vec_id
        for r in ann_hyperplane_topk(df, 0, k=10, probe_hamming=1).collect()
    }
    assert len(multi & truth) >= len(single & truth)


def _brute_pairs(spark, df, threshold):
    from pyspark.sql import functions as F

    a = df.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = df.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return {
        (r.vec_a, r.vec_b)
        for r in (
            a.crossJoin(b)
            .where(F.col("vec_a") < F.col("vec_b"))
            .where(cosine(F.col("emb_a"), F.col("emb_b")) >= threshold)
            .select("vec_a", "vec_b")
        ).collect()
    }


def test_near_dup_recall_vs_bruteforce(spark):
    """Documented recall numbers (round-2 verdict item 5): at the
    near-dup operating regime (cosine ≥ 0.5 on this corpus) banded
    sign-LSH with 4×4 bits recovers ALL brute-force pairs; at the loose
    0.3 threshold recall is partial by design (sign-LSH collision prob
    for cos=0.3 is ~0.6/bit → ~0.13/band) — measured ≈0.47 here."""
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    truth_05 = _brute_pairs(spark, df, 0.5)
    got_05 = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.5, bits_per_band=4, n_bands=4
        ).collect()
    }
    assert truth_05, "corpus should have at least one cos>=0.5 pair"
    assert got_05 == truth_05  # recall 1.0 at the near-dup regime

    truth_03 = _brute_pairs(spark, df, 0.3)
    got_03 = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.3, bits_per_band=4, n_bands=4
        ).collect()
    }
    assert got_03 <= truth_03  # LSH output is always a subset (no false pairs)
    assert len(got_03) / len(truth_03) >= 0.4  # measured 0.474


def test_near_dup_bucket_cap_drops_only_big_buckets(spark):
    """max_bucket caps candidate fan-out: a generous cap changes nothing,
    a tight cap yields a subset (degenerate buckets dropped)."""
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.3, bits_per_band=4, n_bands=4
        ).collect()
    }
    loose = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.3, bits_per_band=4, n_bands=4, max_bucket=10**6
        ).collect()
    }
    assert loose == base
    tight = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.3, bits_per_band=4, n_bands=4, max_bucket=20
        ).collect()
    }
    assert tight <= base


def test_near_dup_params_scale_with_corpus():
    """Bits per band grows with n so expected bucket load stays constant —
    the 100 TB shape (round 1 had a fixed 16-bucket table)."""
    r_small, _ = near_dup_lsh_params(500)
    r_big, _ = near_dup_lsh_params(10**9)
    assert r_big > r_small
    assert r_big >= 20  # 2^20 buckets at 10^9 rows → ~1k rows/bucket


def test_near_dup_hyperplane_mode(spark):
    """Hyperplane-projection bits lift the total-bits ≤ dim cap and must
    still return only true pairs with full recall at the 0.5 regime."""
    from scones.similarity import hyperplane_planes

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    planes = hyperplane_planes(dim=64, n_planes=4 * 4, seed=7)
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.5, bits_per_band=4, n_bands=4, planes=planes
        ).collect()
    }
    truth = _brute_pairs(spark, df, 0.5)
    assert got <= truth
    assert got == truth  # one pair on this corpus; hyperplanes keep it


def test_ivf_more_probes_search_superset(spark):
    """IVF with more probe lists must search a candidate-pool superset
    (same deterministic centroids, fixed assignment)."""
    from scones.similarity import ann_ivf_topk

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    big = 10**6  # k beyond any pool size → compare the raw pools
    p1 = {r.vec_id for r in ann_ivf_topk(df, 0, k=big, n_probe=1).collect()}
    p2 = {r.vec_id for r in ann_ivf_topk(df, 0, k=big, n_probe=2).collect()}
    p4 = {r.vec_id for r in ann_ivf_topk(df, 0, k=big, n_probe=4).collect()}
    assert p1 <= p2 <= p4


def test_ivf_recall_at_10_vs_bruteforce(spark):
    """Measured recall@10 floor for the IVF tier over several query
    vectors (TODO item 8's quality benchmark precondition: a recall
    metric that doesn't depend on the SQL oracle).  n_probe=2 of 8
    lists searches ~1/4 of the corpus; full-probe (n_probe=8) must be
    exact because every list is searched."""
    from scones.similarity import ann_ivf_topk, cosine_topk

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = [0, 17, 99, 250, 444]
    hits = total = 0
    for q in queries:
        truth = {r.vec_id for r in cosine_topk(df, q, k=10).collect()}
        got = {r.vec_id for r in ann_ivf_topk(df, q, k=10, n_probe=2).collect()}
        full = {r.vec_id for r in ann_ivf_topk(df, q, k=10, n_probe=8).collect()}
        assert full == truth  # probing every list == brute force
        hits += len(got & truth)
        total += len(truth)
    assert hits / total >= 0.5, f"ivf recall@10 collapsed: {hits}/{total}"


def test_ivf_learned_centroids_recall(spark):
    """KMeans-centroid IVF (TODO item: learned centroids behind the same
    search core). Full-probe must equal brute force regardless of where
    the centroids came from; partial probe keeps a recall floor."""
    from scones.similarity import ann_ivf_topk_learned, cosine_topk

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    truth = {r.vec_id for r in cosine_topk(df, 0, k=10).collect()}
    full = {
        r.vec_id
        for r in ann_ivf_topk_learned(df, 0, k=10, n_centroids=8, n_probe=8).collect()
    }
    assert full == truth
    got = {
        r.vec_id
        for r in ann_ivf_topk_learned(df, 0, k=10, n_centroids=8, n_probe=2).collect()
    }
    assert len(got & truth) / len(truth) >= 0.5


def test_semdedup_keep_min(spark):
    """SemDeDup greedy keep-min: of a group of identical vectors only the
    min id survives; vectors with no near-dup survive untouched."""
    from scones.similarity import semdedup

    rows = [
        (3, [1.0, 0.0, 0.0, 0.0]),
        (7, [1.0, 0.0, 0.0, 0.0]),   # dup of 3 -> dropped
        (9, [0.999, 0.001, 0.0, 0.0]),  # near-dup of 3 -> dropped
        (5, [0.0, 1.0, 0.0, 0.0]),   # orthogonal -> kept
        (8, [0.0, 0.0, -1.0, 0.0]),  # orthogonal -> kept
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = {r.vec_id for r in semdedup(df, threshold=0.95, bits_per_band=2, n_bands=2).collect()}
    assert kept == {3, 5, 8}


def test_semdedup_survivors_have_no_close_smaller_neighbor(spark):
    """Corpus-level invariant on the real table: no kept vector has an
    LSH-candidate near-dup with a smaller kept id (the defining property
    of greedy keep-min), and survivors form a subset of vec_ids."""
    from scones.similarity import embedding_near_dup_pairs, near_dup_lsh_params, semdedup

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    r, b = near_dup_lsh_params(df.count(), target_bucket=64)
    kept = {x.vec_id for x in semdedup(df, 0.3, r, b).collect()}
    pairs = embedding_near_dup_pairs(df, 0.3, r, b).collect()
    for p in pairs:
        assert p.vec_b not in kept  # every pair's larger side was dropped


def test_semdedup_plan_no_cartesian(spark):
    """semdedup inherits the near-dup candidate plan (bucketed LSH,
    id-only shuffles) — the defining scale property is that NO stage
    degenerates to an all-pairs comparison, and the final keep is a
    hash/sort join, never a Window over the corpus."""
    from scones.similarity import semdedup

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    plan = semdedup(df, 0.3, 4, 2)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_label_centroids_exact_and_partition_invariant(spark):
    """Means match exact arithmetic per (label, pos); long format; the
    decimal-sum recipe makes the result independent of row layout."""
    from scones.similarity import label_centroids

    rows = [
        (1, [1.0, 2.0], 0),
        (2, [3.0, 4.0], 0),
        (3, [10.0, 0.5], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {
        (r.label, r.pos): (r.n_vecs, r.c)
        for r in label_centroids(df).collect()
    }
    assert got == {
        (0, 0): (2, 2.0),
        (0, 1): (2, 3.0),
        (1, 0): (1, 10.0),
        (1, 1): (1, 0.5),
    }
    again = {
        (r.label, r.pos): (r.n_vecs, r.c)
        for r in label_centroids(df.repartition(5)).collect()
    }
    assert got == again


def test_label_centroids_plan_partial_agg(spark):
    """The (label, pos) rollup must partial-combine map-side — the
    property that keeps the exchange at labels x dims rows per task."""
    from scones.similarity import label_centroids

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    plan = label_centroids(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1
