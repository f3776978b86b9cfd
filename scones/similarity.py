"""Embedding similarity search over ``embeddings(vec_id, embedding, label)``.

Brute-force cosine top-k is the correctness baseline (JVM-side
``zip_with``/``aggregate`` arithmetic — no Python in the loop); the
sign-LSH bucketed variant is the scale path: candidates only meet inside
an LSH bucket, so the pairwise stage is O(sum of bucket²) not O(n²).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: str | Column, b: str | Column) -> Column:
    """Dot product of two array<float> columns in double precision.

    Sequential left-fold — same summation order as the DuckDB oracle's
    list_dot_product over DOUBLE[], so results agree to float ulp.

    Round-6 note: a statically unrolled element_at sum was measured and
    REJECTED — every fresh plan instance re-pays ~0.5-1 s of codegen
    compilation for the 64-term tree (the bench constructs a fresh plan
    per timed run), swamping the per-row win at these row counts.  The
    fold stays; callers instead HOIST norms so each vector's norm is
    computed once per row, not twice per candidate pair (see
    embedding_near_dup_pairs / _ivf_search).
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dot_precast(a: str | Column, b: str | Column) -> Column:
    """Fold dot over arrays ALREADY cast to array<double> — same
    summation order and values as :func:`dot` on the float originals
    (element-wise float→double widening is exact), but the per-element
    lambda is one multiply instead of two casts + a multiply: ~30%
    fewer interpreted expression evaluations in the pairwise hot loop.
    """
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Brute-force top-k cosine neighbors of one stored vector.

    The query row is a 1-row broadcast cross join (no shuffle of the big
    side); at 100 TB this is one scan + a driver-side top-k (takeOrdered
    semantics via ORDER BY ... LIMIT, which Spark executes as per-partition
    top-k + merge, never a full sort).
    """
    # the query row's norm is computed once on the broadcast side, not
    # re-derived per corpus row (identical expression value, hoisted)
    q = (
        df.where(F.col("vec_id") == query_vec_id)
        .select(
            F.col("embedding").alias("q_emb"),
            norm("embedding").alias("q_norm"),
        )
    )
    return (
        df.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(
                dot("embedding", "q_emb")
                / (norm("embedding") * F.col("q_norm")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def sign_lsh_bucket(col: str | Column, n_bits: int = 4) -> Column:
    """Axis-aligned sign-LSH bucket: bit i = (embedding[i] > 0).

    Deterministic, SQL-expressible in any engine (the oracle mirrors it),
    and a legitimate random-hyperplane LSH when the embedding basis is
    rotation-invariant.  For production, replace the axes with seeded
    random hyperplanes materialized as a broadcast matrix — same plan.
    """
    bucket = F.lit(0)
    for i in range(n_bits):
        bucket = bucket + F.when(
            F.element_at(col, i + 1).cast("double") > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket


def ann_lsh_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: search only the query's sign-LSH bucket."""
    withb = df.withColumn("bucket", sign_lsh_bucket("embedding", n_bits))
    q = (
        withb.where(F.col("vec_id") == query_vec_id)
        .select(
            F.col("embedding").alias("q_emb"),
            norm("embedding").alias("q_norm"),
            F.col("bucket"),
        )
    )
    return (
        withb.join(F.broadcast(q), on="bucket")
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(
                dot("embedding", "q_emb")
                / (norm("embedding") * F.col("q_norm")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def hyperplane_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes (seeded, library-free).

    Rademacher entries are a valid random-projection family; being exact
    small literals they replay bit-identically in any engine's SQL.
    """
    import random

    rng = random.Random(seed)
    return [
        [float(rng.choice((-1.0, 1.0))) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def hyperplane_bucket(col: str | Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection LSH bucket id for a seeded plane set.

    Each plane is a literal array → the dot product folds JVM-side; the
    whole expression is codegen, no Python, no shuffle.
    """
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        proj = dot(col, lit_plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def ann_hyperplane_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k via seeded random-hyperplane LSH: search only
    the query's bucket (2^n_planes buckets; recall tunes via n_planes
    and ``probe_hamming`` multi-probe)."""
    planes = hyperplane_planes(dim, n_planes, seed)
    withb = df.withColumn("bucket", hyperplane_bucket("embedding", planes))
    q = withb.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"),
        norm("embedding").alias("q_norm"),
        F.col("bucket"),
    )
    if probe_hamming > 0:
        # multi-probe: also search buckets within Hamming distance 1 of
        # the query's bucket (each flipped bit = a borderline plane) —
        # the standard recall knob without growing the index
        flips = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
        ]
        q = q.select(
            "q_emb", "q_norm", F.explode(F.array(*flips)).alias("bucket")
        )
    return (
        withb.join(F.broadcast(q), on="bucket")
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(
                dot("embedding", "q_emb")
                / (norm("embedding") * F.col("q_norm")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def band_bucket(col: str | Column, band: int, bits_per_band: int) -> Column:
    """Sign bucket for one band: bit i = (embedding[band*r + i] > 0)."""
    bucket = F.lit(0)
    for i in range(bits_per_band):
        bucket = bucket + F.when(
            F.element_at(col, band * bits_per_band + i + 1).cast("double") > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
    return bucket


def near_dup_lsh_params(
    n: int, target_bucket: int = 64, n_bands: int = 4
) -> tuple[int, int]:
    """Size banded sign-LSH from corpus count: bits per band chosen so the
    expected bucket load is ~``target_bucket`` rows (r = log2(n/target)),
    bounding within-bucket pairwise work at any corpus size — the fix for
    round 1's fixed 16-bucket plan, which was O(n²/16) at every n.
    ``n_bands`` is the recall knob (a pair is a candidate if ANY band's
    signs all agree)."""
    import math

    r = max(2, math.ceil(math.log2(max(n, 2) / max(target_bucket, 1))))
    return r, n_bands


def ann_ivf_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize vectors to their nearest centroid
    (the inverted-file list), search only the query's ``n_probe``
    closest lists.

    Centroids here are data-sampled deterministically (the first
    ``n_centroids`` vec_ids — kmeans++-style "use real vectors" init
    without iterations) so the whole index replays in the SQL oracle;
    production swaps in pyspark.ml KMeans centroids — identical plan
    shape (broadcast the centroid table, assign by max-sim, join on the
    list id).

    Scale shape: assignment is ROW-LOCAL — the k centroids are collapsed
    into a single array<struct<cid,c_emb>> row, broadcast, and the argmax
    similarity folds per row with ``transform`` + ``array_min`` (same
    construction as :func:`hyperplane_bucket`): zero shuffles, one corpus
    scan.  Round 2 used crossJoin + ``Window.partitionBy(vec_id)``, which
    hash-exchanged the whole corpus (embeddings included) just to pick a
    per-row max over k values — tests/test_plans.py now locks the
    no-Exchange shape.  The search probe touches ~n_probe/k of the corpus.
    """
    cents = df.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    return _ivf_search(df, cents, query_vec_id, k, n_probe)


def _ivf_search(
    df: DataFrame,
    cents: DataFrame,
    query_vec_id: int,
    k: int,
    n_probe: int,
) -> DataFrame:
    """Shared IVF search core over any centroid table ``cents(cid, c_emb)``
    (data-sampled deterministic centroids for the oracle-gated query;
    learned KMeans centroids for :func:`ann_ivf_topk_learned`)."""
    # one row: all centroids, cid-ascending (fold order = tie-break order).
    # Each centroid's norm is computed ONCE here (k rows) instead of once
    # per corpus row per centroid inside the assignment lambda — the
    # identical expression value, hoisted out of the hot loop (guide §4.5
    # analogue for expressions).  cid is unique, so the extra struct field
    # cannot change the sort order.
    cent_arr = cents.agg(
        F.sort_array(
            F.collect_list(
                F.struct("cid", "c_emb", norm("c_emb").alias("c_norm"))
            )
        ).alias("cents")
    )

    def nearest_cid(emb: Column, emb_norm: Column) -> Column:
        # (-cosine, cid) structs → array_min picks max-sim, lowest cid on
        # ties — identical semantics (and an fp-identical expression
        # dot/(norm_a*norm_b), so identical oracle agreement) to the old
        # row_number(c_sim desc, cid asc) == 1, but evaluated entirely
        # row-locally.  With ``dim`` the per-centroid dot is a statically
        # unrolled codegen sum, not a nested zip_with+aggregate fold.
        sims = F.transform(
            F.col("cents"),
            lambda c: F.struct(
                (-(dot(emb, c["c_emb"]) / (emb_norm * c["c_norm"]))).alias(
                    "neg_sim"
                ),
                c["cid"].alias("cid"),
            ),
        )
        return F.array_min(sims)["cid"]

    assigned = (
        df.crossJoin(F.broadcast(cent_arr))
        .withColumn("emb_norm", norm("embedding"))
        .withColumn("cid", nearest_cid(F.col("embedding"), F.col("emb_norm")))
        .select("vec_id", "label", "embedding", "emb_norm", "cid")
    )
    probes = (
        df.where(F.col("vec_id") == query_vec_id)
        .select("embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn("c_sim", cosine("embedding", "c_emb"))
        .orderBy(F.col("c_sim").desc(), F.col("cid").asc())
        .limit(n_probe)
        .select(
            F.col("cid"),
            F.col("embedding").alias("q_emb"),
            norm("embedding").alias("q_norm"),
        )
    )
    return (
        assigned.join(F.broadcast(probes), on="cid")
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(
                dot("embedding", "q_emb")
                / (F.col("emb_norm") * F.col("q_norm")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ann_ivf_topk_learned(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    max_iter: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN with LEARNED coarse centroids (pyspark.ml KMeans,
    ``distanceMeasure='cosine'`` to match the max-cosine assignment).

    Same plan shape as :func:`ann_ivf_topk` — the k learned centers come
    back to the driver (k × dim floats, tiny) and are broadcast into the
    identical row-local assignment + probe search — but bucket occupancy
    follows the data distribution instead of the first-k sample, which
    is what keeps per-list sizes balanced on clustered real corpora.
    Training is one extra job over the corpus (cacheable / refreshable
    offline at scale); the oracle-gated query keeps deterministic
    centroids because KMeans init isn't replayable in the SQL oracle.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = df.sparkSession
    train = df.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        )
    )
    km = KMeans(
        k=n_centroids,
        maxIter=max_iter,
        seed=seed,
        distanceMeasure="cosine",
    ).fit(train)
    cents = (
        spark.createDataFrame(
            [(i, [float(v) for v in c]) for i, c in enumerate(km.clusterCenters())],
            "cid int, c_emb array<double>",
        )
    )
    return _ivf_search(df, cents, query_vec_id, k, n_probe)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits_per_band: int = 8,
    n_bands: int = 4,
    max_bucket: int = 0,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold), banded sign-LSH.

    The embedding-space analogue of minhash-LSH dedup: each band hashes a
    disjoint slice of sign bits; candidates meet iff some band's bucket
    collides; survivors are verified with exact cosine.  Three scale
    levers (all addressed per round-1 verdict):

      * ``bits_per_band`` sizes buckets — use :func:`near_dup_lsh_params`
        to derive it from the corpus count so bucket load stays ~constant
        as n grows (not a fixed 16-bucket table);
      * ``n_bands`` trades shuffle volume for recall;
      * ``max_bucket`` > 0 drops degenerate buckets (e.g. all-zero sign
        regions) before the self-join — the same candidate-fan-out cap as
        ngram_jaccard's ``max_df``;
      * ``planes`` (from :func:`hyperplane_planes`, needs
        bits_per_band × n_bands entries) switches bits from axis signs to
        seeded random-hyperplane projections, removing the dim-count cap
        on total bits at large n.

    Candidate pairs are distinct (vec_a, vec_b) ids only — embeddings are
    re-joined for the exact-cosine verify, so the dedup shuffle carries
    8-byte ids, not vectors.  Measured recall vs brute force is pinned in
    tests/test_similarity_extra.py (1.0 at cosine ≥ 0.5 on the sf0.01
    corpus; low thresholds are outside sign-LSH's operating regime and
    documented there).
    """
    if planes is not None:
        # seeded random-hyperplane signs: bits are sign-of-projection, so
        # bits_per_band × n_bands may exceed the embedding dimensionality
        # (axis-aligned signs cap out at dim bits).
        def bucket_for(b: int) -> Column:
            bucket = F.lit(0)
            for i in range(bits_per_band):
                plane = planes[b * bits_per_band + i]
                lit_plane = F.array(*[F.lit(v) for v in plane])
                bucket = bucket + F.when(
                    dot("embedding", lit_plane) > 0, F.lit(1 << i)
                ).otherwise(F.lit(0))
            return bucket

        band_structs = [
            F.struct(F.lit(b).alias("band"), bucket_for(b).alias("bucket"))
            for b in range(n_bands)
        ]
    else:
        band_structs = [
            F.struct(
                F.lit(b).alias("band"),
                band_bucket("embedding", b, bits_per_band).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    bands = df.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("vec_id", "bb.band", "bb.bucket")
    if max_bucket > 0:
        sizes = bands.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
        bands = bands.join(
            sizes.where(F.col("bsz") <= max_bucket), ["band", "bucket"]
        ).drop("bsz")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    # Each vector's norm is computed ONCE per corpus row here and carried
    # through the candidate join, instead of twice per candidate pair in
    # the verify expression, and the embedding is widened to
    # array<double> once per row so the per-pair fold multiplies without
    # per-element casts — both hoists only; the cosine value is the
    # identical dot/(norm_a*norm_b) expression (float→double widening is
    # exact, and the fold order is unchanged).
    ea = df.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").cast("array<double>").alias("emb_a"),
        norm("embedding").alias("norm_a"),
    )
    eb = df.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").cast("array<double>").alias("emb_b"),
        norm("embedding").alias("norm_b"),
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_precast(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def semdedup(
    df: DataFrame,
    threshold: float = 0.95,
    bits_per_band: int = 8,
    n_bands: int = 4,
    max_bucket: int = 0,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication in embedding space — keep one representative per group
    of semantically-identical documents.  The paper clusters with k-means
    and drops within-cluster pairs above a cosine threshold; this
    implementation uses the repo's banded sign-LSH buckets as the
    (deterministic, SQL-replayable) cluster structure and the standard
    greedy keep-min rule: a vector is DROPPED iff it has a near-duplicate
    (cosine ≥ threshold among LSH candidates) with a smaller id.

    Greedy keep-min is retry-stable and order-free (no sequential scan
    over candidates like the paper's exact algorithm), at the cost of
    occasionally dropping both b and c when a<b<c chain-duplicate without
    (a,c) being a pair — acceptable for dedup, where over-dropping a
    near-dup is cheap and under-dropping is the failure mode.

    Scale shape: inherits every fan-out cap from
    :func:`embedding_near_dup_pairs` (adaptive bits/band, max_bucket,
    id-only candidate shuffles); the final keep step is one left-anti
    hash join on 8-byte ids.  Returns the kept ``vec_id`` rows.
    """
    pairs = embedding_near_dup_pairs(
        df,
        threshold=threshold,
        bits_per_band=bits_per_band,
        n_bands=n_bands,
        max_bucket=max_bucket,
        planes=planes,
    )
    losers = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    return df.select("vec_id").join(losers, "vec_id", "left_anti")


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-group mean embedding (cluster/domain centroids) in LONG
    format: one row per (label, dimension) with the member count and
    the mean component — the primitive behind SemDeDup-style cluster
    pruning and per-domain embedding profiles (centroids feed back
    into a broadcast join, for which long format is already right).

    Returns ``(label, pos, n_vecs, c)`` with ``pos`` 0-based and ``c``
    the mean rounded to 6.

    Scale shape: posexplode multiplies rows ×D, but the (label, pos)
    aggregate PARTIAL-combines map-side, so the exchange carries
    ≤ labels×D partial rows per task — independent of corpus size.
    Determinism: components widen float→double (exact), pre-round to 9,
    and sum as decimal (the lm_perplexity recipe), so the mean is
    engine-exact with no float-summation-order caveat.
    """
    e = df.select(
        label_col, F.posexplode(vec_col).alias("pos", "x")
    ).select(
        label_col,
        "pos",
        F.round(F.col("x").cast("double"), 9).cast("decimal(28,9)").alias("xd"),
    )
    return e.groupBy(label_col, "pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("xd").cast("double") / F.count(F.lit(1)), 6).alias("c"),
    )
