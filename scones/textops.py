"""Training-data text operations over the ``documents`` table.

Everything here is built from JVM-side ``pyspark.sql.functions`` (no
Python UDFs), and each op is paired with an ANSI-SQL oracle in
__spark_entry__.py so DuckDB can replicate it bit-for-bit (md5 is the
cross-engine hash; xxhash64 variants are the scale path where noted).

JVM-side is not the same as compiled.  The lambda of a higher-order
function (``transform``, ``filter``, ``aggregate``) runs in Spark's
expression interpreter, one array element at a time: those expressions
are ``CodegenFallback``, so the generated code of their stage calls out
to the interpreter for them.  The hot kernels of the curation
queries therefore use none: tokens are ``array_remove`` of ``split``,
shingles one lookahead ``regexp_extract_all``, token windows and
bigrams ``arrays_zip`` of ``slice``s, exploded or inlined.  Where an
op keeps a lambda, its array is projected as a column before it: an
expression pasted into a lambda body is evaluated again for every
element, and Catalyst does not eliminate common subexpressions inside
lambda bodies (measured 5-8× on the window hash when it still used
one).

Token contract shared by every op (and by the oracles): tokens are the
non-empty pieces of splitting ``text`` on single spaces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "this", "that",
]


def tokens_col(text_col: str = "text") -> Column:
    """Non-empty space-split tokens (shared contract with the SQL oracle).
    ``split`` never yields a null piece, so removing ``""`` is the whole
    filter."""
    return F.array_remove(F.split(F.col(text_col), " "), "")


def token_counts(df: DataFrame) -> DataFrame:
    """Per-document token count + char count (BPE-ish proxy: chars/4)."""
    return df.select(
        "doc_id",
        F.size(tokens_col()).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (F.length("text") / F.lit(4)).cast("bigint").alias("approx_bpe_tokens"),
    )


# GPT-2-style pre-tokenizer shape (contractions | space?-letters |
# space?-digits | space?-punct-run | whitespace-run), RE2-compatible so
# the DuckDB oracle replays it verbatim.  Real BPE merges would follow;
# the pre-token count is the standard cheap token-budget estimator.
BPE_ISH_REGEX = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def subword_counts(df: DataFrame) -> DataFrame:
    """BPE-ish subword token count per document (one JVM regexp pass)."""
    return df.select(
        "doc_id",
        F.size(tokens_col()).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(BPE_ISH_REGEX)).alias("n_bpe_tokens"),
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Heuristic quality: length, punctuation ratio, stopword ratio,
    mean token length — the classic pretraining-filter features."""
    toks = tokens_col()
    n_tokens = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(STOPWORDS))
    )
    n_chars = F.length("text")
    punct = n_chars - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    return df.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.round(
            F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0)), 6
        ).alias("stopword_ratio"),
        F.round(
            F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0)), 6
        ).alias("punct_ratio"),
        F.round(
            F.when(
                n_tokens > 0,
                F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
                / n_tokens,
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mean_token_len"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/script heuristic language ID.

    Script detection first (CJK → zh, Cyrillic → ru, kana → ja), then an
    English-stopword-density threshold, else 'und'.  Deterministic and
    SQL-expressible (the oracle mirrors it with RE2 \\p{} classes).
    """
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
    has_han = F.col(text_col).rlike(r"\p{IsHan}")
    has_kana = F.col(text_col).rlike(r"[\p{IsHiragana}\p{IsKatakana}]")
    has_cyr = F.col(text_col).rlike(r"\p{IsCyrillic}")
    pred = (
        F.when(has_kana, F.lit("ja"))
        .when(has_han, F.lit("zh"))
        .when(has_cyr, F.lit("ru"))
        .when(
            (n_tokens > 0) & (stop_hits / n_tokens >= 0.03), F.lit("en")
        )
        .otherwise(F.lit("und"))
    )
    return df.select("doc_id", pred.alias("pred_lang"))


def fingerprints(df: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set.

    Cross-engine deterministic (md5 is identical in Spark and DuckDB);
    the content-defined identity used for exact near-canonical dedup.
    """
    return df.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_col())))
        ).alias("fingerprint"),
    )


def dedup_exact(df: DataFrame) -> DataFrame:
    """Exact dedup groups by full text: representative + group size.

    Map-side partial aggregation makes this a single shuffle of
    (text-hash → partials) — the 100 TB-safe shape. Grouping key is
    md5(text) rather than the full text so the shuffle carries 16 bytes
    per key, not the document body.
    """
    return (
        df.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingles(df: DataFrame, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document (doc_id, shingle).

    With runs of spaces collapsed to one, a shingle starts at the start
    of the text or after a space, and the lookahead captures it without
    consuming it, so the shingles overlap.  ``array_distinct`` over
    strings dedups with a hash set; over the zipped token structs it
    would compare elements pairwise."""
    one_spaced = F.regexp_replace(F.col("text"), " +", " ")
    starts = "(?:^| )(?=([^ ]+" + " [^ ]+" * (k - 1) + "))"
    sh = F.regexp_extract_all(one_spaced, F.lit(starts), 1)
    return df.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame, k: int = 3, threshold: float = 0.6, max_df: int = 0
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard ≥ threshold.

    Self-join on shared shingles → |A∩B| per pair, then Jaccard from the
    per-doc set sizes.  The join key is md5(shingle) (16 bytes on the
    wire).  ``max_df`` > 0 drops shingles whose document frequency
    exceeds it BEFORE the self-join — the standard cap on candidate
    fan-out at scale (a stop-shingle shared by 10^6 docs would otherwise
    generate 10^12 candidate pairs); jaccard is then computed over the
    capped shingle universe (set sizes capped consistently).  See
    ``minhash_lsh_pairs`` for the fully sub-quadratic path.
    """
    # join/group key is unhex(md5): the identical equality classes as the
    # hex string (unhex is bijective on md5 output) at 16 bytes instead
    # of a 32-char UTF8 string — half the shuffle/build width of the
    # hottest self-join in the repo (guide §2.3 "narrower types")
    sh = shingles(df, k).withColumn(
        "sh_md5", F.unhex(F.md5("shingle"))
    ).drop("shingle")
    if max_df > 0:
        freq = sh.groupBy("sh_md5").agg(F.count("*").alias("df_"))
        sh = (
            sh.join(freq.where(F.col("df_") <= max_df), "sh_md5")
            .drop("df_")
        )
    # lazily checkpointed: the relation is referenced by the set-size
    # aggregate and BOTH sides of the self-join (plus the df-cap join
    # when max_df > 0) — without the checkpoint each reference re-runs
    # the whole shingle+md5 construction (guide §3.3; measured
    # 4.1→3.1 s sf / 4.5→3.1 s zipf in an alternating A/B)
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="sh_md5")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")
            ),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def minhash_signatures_wide(
    df: DataFrame, num_hashes: int = 8, k: int = 3
) -> DataFrame:
    """MinHash signature matrix: one row per doc, one column per hash.

    One groupBy(doc_id) with ``num_hashes`` min-aggregations — the shuffle
    carries (doc_id → k partial minima), NOT the seed-exploded shingle set
    (which would be num_hashes× the data).  Map-side partial aggregation
    does most of the min-ing before the exchange: the 100 TB-safe shape.

    md5-as-minhash keeps the construction replicable in the DuckDB
    oracle; swap for ``F.xxhash64(lit(seed), col)`` for the faster 64-bit
    path at production scale (same plan shape).
    """
    sh = shingles(df, k)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), "shingle"))).alias(f"s{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_signatures(df: DataFrame, num_hashes: int = 8, k: int = 3) -> DataFrame:
    """(doc_id, seed, sig) long-form view of the signature matrix."""
    wide = minhash_signatures_wide(df, num_hashes, k)
    pairs = ", ".join(f"{i}L, s{i}" for i in range(num_hashes))
    return wide.selectExpr(
        "doc_id", f"stack({num_hashes}, {pairs}) as (seed, sig)"
    )


def minhash_bands(
    df: DataFrame, num_hashes: int = 8, band_size: int = 2, k: int = 3
) -> DataFrame:
    """Banded minhash index rows ``(doc_id, band, band_hash)`` — the LSH
    bucket keys.  This IS the persistable band index: write it as a side
    table at corpus-commit time and later snapshots probe it without
    re-signaturing the committed corpus (see :mod:`scones.incremental`).
    """
    wide = minhash_signatures_wide(df, num_hashes, k)
    n_bands = num_hashes // band_size
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[f"s{b * band_size + j}" for j in range(band_size)]
                )
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    return wide.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    threshold: float = 0.5,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Sub-quadratic near-dup: band the minhash signature, bucket-join,
    verify candidates with exact Jaccard.

    Candidate generation never compares all pairs — docs only meet if a
    whole band of their signatures collides (the LSH guarantee), so the
    self-join key is (band, band_hash) and stays tiny even at 10^12 docs.

    ``bands`` lets a caller that ALREADY holds this corpus's band index
    (e.g. the incremental commit loop) pass it in instead of paying the
    signature scan again.  When None, the computed band table is lazily
    local-checkpointed before the self-join: both join sides and both
    verify references then read the materialized blocks instead of
    re-running the whole signature subtree per reference — the plan
    shrinks from O(references) signature scans to one (guide §3.3:
    materialize an intermediate to truncate a duplicated plan).
    """
    if bands is None:
        bands = minhash_bands(df, num_hashes, band_size, k).localCheckpoint(
            eager=False
        )
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(b, on=["band", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return verify_candidate_pairs(candidates, df, k, threshold)


def verify_candidate_pairs(
    candidates: DataFrame, docs: DataFrame, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact-Jaccard verification of candidate ``(doc_a, doc_b)`` pairs
    against the shingle sets of ``docs`` (which must cover every doc id
    appearing in a candidate).

    Semi-joins the shingle relation down to candidate docs FIRST so the
    intersection join never touches non-candidate shingles (at 10^12
    docs the candidate set is sparse; the full relation is not).
    """
    # 16-byte binary join key — same equality classes as the hex string
    # at half the width (see ngram_jaccard_pairs)
    sh = shingles(docs, k).withColumn(
        "sh_md5", F.unhex(F.md5("shingle"))
    ).drop("shingle")
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # lazily checkpointed for the same reason as ngram_jaccard_pairs:
    # sizes + both intersection sides reference the candidate shingle
    # relation; checkpointing bounds it to one construction (it is
    # candidate-sized, not corpus-sized, so materializing is cheap)
    sh_c = sh.join(cand_docs, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    sizes = sh_c.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    ia = sh_c.select(F.col("doc_id").alias("doc_a"), "sh_md5")
    ib = sh_c.select(F.col("doc_id").alias("doc_b"), "sh_md5")
    inter = (
        candidates.join(ia, "doc_a")
        .join(ib, ["doc_b", "sh_md5"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dup_components_star(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
    round_counter: list | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) → (doc_id, component = min doc_id of the component).

    Transitive dup clustering: keep-min dedup alone treats A~B, B~C as
    two independent pairs; components make {A,B,C} one group whose
    component is its min doc_id (the canonical representative).

    Why alternating stars: plain min-label propagation (even with
    pointer jumping) needs rounds that grow with the graph DIAMETER —
    fine for blobby near-dup clusters, but an adversarial chain corpus
    (each doc near-dups only its neighbor) stretches the diameter to n.
    The star rounds contract the graph itself and converge in O(log² n)
    rounds regardless of diameter.  Every shuffle carries two 8-byte ids
    (never document bodies), per-round work is O(|E|), and no step
    collects edges to the driver; for web-scale graphs with degree
    skew, cap candidate generation upstream (``max_df`` / LSH band
    sizes).

      large-star: each node u connects its LARGER neighbors to
        m = min(N(u) ∪ {u})      — keyed on u, one groupBy + one join
      small-star: key each edge on its larger endpoint; connect the
        smaller neighbors (and u itself) to the group min
      pointer jump: u→v, v→v2 ⇒ u→min(v,v2) — one extra id-only join
        per round that composes two hops, halving chain depth on top of
        the star contraction (measured on path graphs: 4/5/6 rounds at
        n=64/256/1024)

    Rounds end when the edge multiset checksum is stable.  The star
    rounds rewrite the edge set non-monotonically, so (count, Σu, Σv)
    alone could coincide across a real change via an
    integer-compensating rewrite (round-3 advice).  The checksum
    therefore also folds Σ xxhash64(u, v) — a 64-bit hash-sum of the
    pair multiset that an accidental rewrite cannot preserve — still one
    cheap scalar aggregate per round, no per-row diff job.  Exhausting
    ``max_iter`` without a fixed point raises instead of silently
    returning non-minimal labels.  ``localCheckpoint`` per round keeps
    the DAG flat.  At the fixed point every edge is (node → its
    component root), so labels fall out of one final groupBy.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        # lazy: the checksum action below materializes the checkpoint —
        # one job per round instead of a checkpoint job + an agg job
        .localCheckpoint(eager=False)
    )

    def checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
            # decimal accumulator: a bigint sum of 64-bit hashes overflows
            # (ANSI mode raises); decimal(38,0) holds ~10^12 edges × 2^63
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("sh"),
        ).first()
        return (row["n"], row["su"], row["sv"], row["sh"])

    prev = checksum(edges)
    rounds = 0
    converged = False
    # max_iter + 1: equality of consecutive checksums is only observable
    # the round AFTER the fixed point is reached, so a graph needing
    # exactly max_iter productive rounds still gets its confirming round
    # (round-4 review finding: it previously raised despite converging)
    for _ in range(max_iter + 1):
        rounds += 1
        # large-star: for every neighbor v > u, emit (v, min(N(u) ∪ {u}))
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        edges = (
            sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: key on the larger endpoint; every smaller neighbor
        # (and the key itself) connects to the group min
        e = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smins = e.groupBy("u").agg(F.min("v").alias("m"))
        edges = (
            e.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # pointer jump on the contracted edges: u→v, v→v2 ⇒ u→min(v,v2)
        tgt = (
            edges.groupBy("u")
            .agg(F.min("v").alias("v2"))
            .select(F.col("u").alias("v"), "v2")
        )
        edges = (
            edges.join(tgt, "v", "left")
            .select("u", F.least("v", F.coalesce("v2", F.col("v"))).alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        cur = checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"dup_components_star: no fixed point after max_iter={max_iter} "
            "rounds — labels would be non-minimal; raise max_iter "
            "(O(log² n) rounds suffice for any graph)"
        )
    if round_counter is not None:
        round_counter.append(rounds)
    return (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
        .union(edges.select(F.col("v").alias("doc_id"), F.col("v").alias("component")))
        .groupBy("doc_id")
        .agg(F.min("component").alias("component"))
    )


def md5_hash16(col: str | Column) -> Column:
    """16-bit token hash from the first 4 hex chars of md5.

    Cross-engine deterministic: md5 is bit-identical in Spark and DuckDB,
    so a simhash built on it is fully oracle-checkable.  xxhash64 is the
    faster production-scale choice (see :func:`simhash64` default)."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("bigint")


def simhash64(
    df: DataFrame, bits: int = 16, token_hash: Column | None = None
) -> DataFrame:
    """SimHash fingerprint — one token explode, one groupBy.

    Per token a hash votes ±1 on each of ``bits`` positions; the sign of
    the per-position sum is the fingerprint bit.  Hamming-close
    fingerprints ⇒ near-dup.

    Shape: the groupBy carries ``bits`` conditional-sum columns computed
    from ``h`` directly (same map-side-combine shape as
    minhash_signatures_wide) — the shuffle moves |tokens| rows once, NOT
    bits×|tokens| (the round-1 bit-explode anti-pattern).

    ``token_hash`` defaults to ``xxhash64(tok)`` (JVM-side, production
    path; bits ≤ 64).  Pass :func:`md5_hash16` for the cross-engine
    oracle-checkable variant (bits ≤ 16).
    """
    tok = df.select("doc_id", F.explode(tokens_col()).alias("tok"))
    h = tok.withColumn(
        "h", token_hash if token_hash is not None else F.xxhash64("tok")
    )
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    fp = F.lit(0).cast("bigint")
    for i in range(bits):
        # shiftleft, not lit(1 << i): bit 63 (1 << 63) overflows a
        # signed long literal, but lands correctly as the sign bit
        # under two's-complement shifting (banding uses
        # shiftrightunsigned, xor/bit_count are sign-agnostic).
        fp = fp + F.when(
            F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("bigint"), i)
        ).otherwise(F.lit(0).cast("bigint"))
    return votes.select("doc_id", fp.alias("simhash"))


def chunk_windows(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-window chunking with overlap — the context-packing step of a
    training-data pipeline (split each document into ≤``window``-token
    chunks every ``stride`` tokens; ``window > stride`` ⇒ overlapping
    windows, the standard LM-pretraining shape).

    Scale shape: tokens never leave their row — split, ``sequence`` of
    chunk starts, ``posexplode``, row-local ``slice``/``concat_ws``.
    Zero exchanges, one scan; output size is the only cost (the
    explode's fan-out is len/stride per doc).  Deterministic and fully
    SQL-replayable (same space-split token contract as
    :func:`tokens_col`).
    """
    toks = tokens_col(text_col)
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(stride))
    return (
        df.select(id_col, toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(id_col, "toks", F.posexplode(starts).alias("chunk_id", "start"))
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.slice("toks", F.col("start") + 1, window).alias("chunk"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("chunk").cast("bigint").alias("n_tokens"),
            F.concat_ws(" ", "chunk").alias("chunk_text"),
        )
    )


def sample_mixture(
    df: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int = 500,
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Deterministic stratified mixture sampling: keep each row with a
    per-language probability (rates in ‰), decided by a content-stable
    hash of the id — the data-mixture re-weighting step of a training
    pipeline (e.g. downsample over-represented languages).

    Hash-gated (md5 of the id), NOT ``rand()``: the same row gets the
    same verdict on every run, every retry, and in the SQL oracle —
    sampling composes with effectively-once semantics.  Row-local,
    zero shuffles; at 100 TB it's a predicate pushed into the scan's
    output, no different from any other filter.
    """
    u = md5_hash16(F.col(id_col).cast("string")) % 1000
    rate: Column = F.lit(default_permille)
    for lang, r in sorted(rates_permille.items()):
        rate = F.when(F.col(lang_col) == lang, F.lit(r)).otherwise(rate)
    return df.where(u < rate)


def _max_multiplicity(arr: Column) -> Column:
    """Max element multiplicity of an array, computed ROW-LOCALLY as the
    longest run in the sorted array (fold with a (prev, run, best)
    struct accumulator) — no explode, no shuffle."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def repetition_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:

    * ``top_token_frac`` — count of the most frequent token / n_tokens;
    * ``top_bigram_frac`` — count of the most frequent 2-gram /
      (n_tokens - 1), 0.0 for docs with < 2 tokens.

    High values flag boilerplate / degenerate repetition (the published
    Gopher rules threshold these).  Scale shape: everything folds inside
    the row — tokens, bigram construction (``transform`` over index
    ``sequence``), and the max-multiplicity (longest run of the sorted
    array).  ZERO exchanges, one scan; the oracle replays it in SQL via
    explode + GROUP BY, a deliberately different shape with identical
    semantics.
    """
    toks = tokens_col(text_col)
    n = F.size("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    return (
        df.select(id_col, toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            id_col,
            n.cast("bigint").alias("n_tokens"),
            F.round(_max_multiplicity(F.col("toks")) / n, 6).alias(
                "top_token_frac"
            ),
            F.when(n < 2, F.lit(0.0))
            .otherwise(F.round(_max_multiplicity(bigrams) / (n - 1), 6))
            .alias("top_bigram_frac"),
        )
    )


# PII detection/redaction reuses the grok pattern dictionary — one
# source of truth for what an email/IP looks like (RE2-safe fragments,
# replayable in the DuckDB oracle).
def _pii_patterns() -> dict[str, str]:
    from .grok import PATTERNS

    return {"email": PATTERNS["EMAILADDRESS"], "ip": PATTERNS["IP"]}


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row PII occurrence counts (email, ipv4) — JVM ``regexp_count``,
    codegen, zero Python.  The web-cleaning audit step: measure PII
    density before deciding to drop vs redact."""
    out = df
    for name, pat in _pii_patterns().items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
    return out


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace every email/ipv4 occurrence with a typed placeholder
    (``[EMAIL]``, ``[IP]``) — the scrubbing step paired with
    :func:`pii_counts`.  Chained JVM ``regexp_replace``; row-local."""
    col = F.col(text_col)
    for name, pat in _pii_patterns().items():
        col = F.regexp_replace(col, pat, f"[{name.upper()}]")
    return df.withColumn(f"{text_col}_redacted", col)


def decontaminate(
    df: DataFrame, benchmark: DataFrame, k: int = 5, id_col: str = "doc_id"
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    k-word shingle with an evaluation/benchmark corpus (the published
    GPT-3 / The Pile cleanup step — exact n-gram overlap).

    Scale shape: the benchmark side is tiny relative to the training
    corpus, so its DISTINCT shingle set is BROADCAST; the corpus's
    exploded shingles stream past it map-side (no corpus shuffle for the
    probe), surviving hit ids are distinct-ed (8-byte id shuffle only)
    and left-joined back.  ``benchmark`` needs (doc_id, text) columns.
    """
    corpus_sh = shingles(df, k=k)
    bench_sh = shingles(benchmark, k=k).select("shingle").distinct()
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .select(id_col)
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )
    return df.join(hits, id_col, "left").withColumn(
        "is_contaminated", F.coalesce("is_contaminated", F.lit(False))
    )


def shard_corpus(
    df: DataFrame, n_shards: int = 8, seed: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic corpus shuffle + shard — the pre-training step that
    randomizes document order and splits the corpus into n training
    shards.  ``hash = md5(seed || id)`` gives (a) the shard assignment
    (mod) and (b) a pseudo-random but fully reproducible within-shard
    order (``pos`` = rank of hash in shard): the same corpus + seed
    yields byte-identical shards on every run/retry, unlike
    ``orderBy(rand())``.

    Scale shape: hashing is row-local; the ONE exchange partitions by
    shard and the within-shard sort is per-partition (window over the
    shard key — no global sort).  Each shard lands on one reducer, so
    ``n_shards`` must be sized to make shards file-sized units: at
    production scale n = total_bytes / shard_bytes (10^4-10^5 shards of
    ~1 GB for 100 TB), which bounds per-reducer data by construction —
    the 8 here is the sf-scale stand-in.  This is exactly the
    repartition→local-sort→write-per-shard shape of a training-shard
    materialization job.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(str(seed)), F.lit("|"), F.col(id_col).cast("string")))
    # first 4 hex nibbles → 16-bit int (the md5_hash16 construction,
    # replayable nibble-by-nibble in the SQL oracle)
    shard = (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % n_shards
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.select(id_col, h.alias("h"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select(id_col, "shard", "pos")
    )


def span_dedup(
    df: DataFrame,
    span_words: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-corpus span deduplication: split every document
    into fixed ``span_words``-word spans, keep only the FIRST occurrence
    of each distinct span corpus-wide (first = lowest (doc_id, span_idx)),
    and reassemble documents from their surviving spans (C4 removed
    repeated three-sentence spans the same way; the fixed word window is
    the punctuation-free analogue for this corpus).

    Returns (doc_id, clean_text, n_spans_kept, n_spans_dropped); docs
    whose every span was seen earlier come back with empty clean_text —
    the caller's filter decides their fate (clean_corpus drops them).

    Scale shape: span extraction is row-local (slice over the split
    array); the keep-first winner per span is ONE groupBy with a
    map-side-combinable ``min(struct(doc_id, span_idx))`` — no window,
    no global sort; winners join back on the span hash (16-byte md5
    key, never span text), and reassembly is one groupBy(doc_id) with a
    row-local sort_array fold.  Three key-hashed exchanges total,
    payload-free beyond the md5 keys.
    """
    # words projected ONCE before the span lambda (the lambda-inlining
    # pitfall — see the module docstring): slice() over the raw split expression
    # would re-split the text per span.
    staged = df.select(
        id_col, F.split(F.col(text_col), " ").alias("_sd_words")
    )
    words = F.col("_sd_words")
    n_spans = F.ceil(F.size(words) / span_words).cast("int")
    spans = (
        staged.select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_spans - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(words, i * span_words + 1, span_words)
                    ),
                )
            ).alias("span_idx", "span"),
        )
        .withColumn("span_key", F.unhex(F.md5("span")))  # 16-byte key
    )
    winners = spans.groupBy("span_key").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("span_idx").alias("s"))).alias(
            "first_occ"
        )
    )
    kept = spans.join(winners, "span_key").withColumn(
        "keep",
        (F.col("first_occ.d") == F.col(id_col))
        & (F.col("first_occ.s") == F.col("span_idx")),
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(
                                    F.col("span_idx").alias("i"),
                                    F.col("span").alias("t"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
            ).alias("clean_text"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_spans_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_spans_dropped"),
        )
    )


def doc_freq_stats(
    df: DataFrame,
    top_n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-frequency / idf statistics per term: df = number of
    documents containing the term, idf = ln(N / df).  The vocabulary
    profile a corpus-weighting or stopword-pruning pass starts from.

    Scale shape: per-doc DISTINCT terms are computed row-locally
    (array_distinct on the split — no dedup shuffle), the df groupBy is
    map-side combinable, and top-n is TakeOrdered (per-partition heads +
    driver merge, no global sort).  N comes from one count() — on
    Iceberg it would be the snapshot row count.
    """
    import math as _math  # noqa: F401 (documentation of the ln base)

    n_docs = df.count()
    terms = df.select(
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("term")
    ).where(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("df"))
        .select(
            "term",
            "df",
            F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("idf"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(top_n)
    )


class LmModel:
    """An add-one-smoothed bigram LM as two count tables + vocab size —
    the external-model seam for :func:`lm_perplexity` (CCNet scores
    against a WIKIPEDIA KenLM, not the corpus itself; this is the
    drop-in point for such a reference model).  ``bigrams`` has columns
    (w1, w2, c_bigram); ``unigrams`` has (w1, c_unigram); ``vocab_size``
    is the distinct-token count of the training corpus (== the unigram
    table's row count, so persisted models need no side metadata).
    """

    def __init__(
        self,
        bigrams: DataFrame,
        unigrams: DataFrame,
        vocab_size: int | None = None,
    ):
        self.bigrams = bigrams
        self.unigrams = unigrams
        # None = lazy: scoring derives V in-plan from the unigram table
        # (one scalar aggregate fused into the scoring DAG) instead of
        # paying an eager count() job at model-construction time; the
        # property materializes it only if a caller actually asks.
        self._vocab_size = int(vocab_size) if vocab_size is not None else None

    @property
    def vocab_size(self) -> int:
        if self._vocab_size is None:
            self._vocab_size = self.unigrams.count()
        return self._vocab_size


def train_lm(df: DataFrame, text_col: str = "text") -> LmModel:
    """Train the bigram LM on a reference corpus: two map-side-
    combinable groupBys (bigram counts, unigram counts); V is the
    unigram table's row count.  The bigram extraction is row-local
    (the same arrays_zip-of-slices expression as scoring)."""
    words = F.split(F.col(text_col), " ")
    doc_bigrams = df.select(_bigrams_expr(text_col))
    bigram_counts = doc_bigrams.groupBy("w1", "w2").agg(
        F.count("*").alias("c_bigram")
    )
    unigram_counts = (
        df.select(F.explode(words).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c_unigram"))
    )
    # vocab size stays LAZY (see LmModel): lm_perplexity folds the
    # unigram-table count into the scoring plan as a broadcast scalar,
    # so building + scoring a self-trained model is one job, not two
    return LmModel(bigram_counts, unigram_counts)


def save_lm(model: LmModel, path: str) -> None:
    """Persist the model as two parquet tables under ``path`` —
    the config seam through which a real (e.g. Wikipedia-trained)
    model drops into the pipeline."""
    import os

    model.bigrams.write.mode("overwrite").parquet(os.path.join(path, "bigrams"))
    model.unigrams.write.mode("overwrite").parquet(
        os.path.join(path, "unigrams")
    )


def load_lm(spark, path: str) -> LmModel:
    import os

    uni = spark.read.parquet(os.path.join(path, "unigrams"))
    return LmModel(
        spark.read.parquet(os.path.join(path, "bigrams")), uni, uni.count()
    )


def _bigrams_expr(text_col: str) -> Column:
    """A generator of the adjacent pairs (w1, w2) of the space-split
    pieces of ``text_col`` (empty pieces included), one row per pair:
    ``inline`` of an ``arrays_zip`` of two slices.  One SQL-text
    expression: built from ``F.*`` calls it costs a py4j round trip per
    call, and the LM builds it twice."""
    words = f"split({text_col}, ' ')"
    n = f"size({words}) - 1"
    pairs = f"arrays_zip(slice({words}, 1, {n}), slice({words}, 2, {n}))"
    return F.expr(f"inline({pairs}) AS (w1, w2)")


def lm_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: LmModel | None = None,
) -> DataFrame:
    """CCNet-style language-model quality score: train an add-one-
    smoothed bigram LM on the corpus itself (or score against an
    external :class:`LmModel` when ``model`` is given), then score
    every document by average bigram cross-entropy (bits/bigram;
    perplexity = 2^H).  Low score = the doc looks like the reference;
    high = junk/outlier — the standard LM filter for pre-training
    data.  Unseen bigrams/unigrams under an external model score via
    the same add-one smoothing with c = 0 (LEFT joins + coalesce), so
    out-of-domain text is scored, not dropped.

    H(doc) = avg over bigrams of -log2 P(w2|w1),
    P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V).

    Scale shape: bigram extraction is ROW-LOCAL (arrays_zip of two
    array slices — no self-join, no window); the model is two map-side-
    combinable groupBys (bigram counts, unigram counts); scoring joins
    doc-bigrams to the model on the bigram/unigram keys (hash joins on
    string keys, AQE-sized) and aggregates per doc.  V (vocab size) is
    the unigram table's row count.  Model tables are vocab-sized — far
    below corpus scale; a small external model broadcasts under AQE,
    a big one hash-joins.  Single-doc-token edge: docs with < 2 tokens
    get H = 0 (no bigrams).
    """
    doc_bigrams = df.select(id_col, _bigrams_expr(text_col))

    if model is None:
        model = train_lm(df, text_col=text_col)

    # LEFT joins + coalesce(c, 0): under a self-trained model every
    # doc bigram hits (identical to the historical inner-join plan);
    # under an external model, unseen bigrams/unigrams still score
    # through the add-one smoothing instead of silently vanishing
    # from the per-doc average.
    if model._vocab_size is not None:
        scored = doc_bigrams
        vs = F.lit(float(model.vocab_size))
    else:
        # V folded into the plan: a one-row broadcast of COUNT(unigrams)
        # instead of an eager .count() job before scoring — the same
        # number reaches the smoothing formula, one Spark job cheaper
        v_df = model.unigrams.agg(F.count(F.lit(1)).alias("_lm_vs"))
        scored = doc_bigrams.crossJoin(F.broadcast(v_df))
        vs = F.col("_lm_vs").cast("double")
    scored = (
        scored.join(model.bigrams, ["w1", "w2"], "left")
        .join(model.unigrams, "w1", "left")
        .withColumn(
            "nll",
            -F.log2(
                (F.coalesce(F.col("c_bigram"), F.lit(0)) + 1)
                / (F.coalesce(F.col("c_unigram"), F.lit(0)) + vs)
            ),
        )
    )
    # Order-insensitive per-doc aggregate (round-4 ADVICE): a plain
    # AVG(double) sums in partition order, and a value sitting near a
    # .00005 boundary of the final round(…, 4) could flip the oracle
    # gate nondeterministically.  Pre-round each bigram's nll to 9
    # places (absorbing engine log() ulp noise), sum EXACTLY as
    # decimal (commutative — any partition order yields the same
    # digits in Spark and DuckDB), then divide and round once.
    nll_sum = F.sum(F.round(F.col("nll"), 9).cast("decimal(28,9)"))
    return (
        df.select(id_col)
        .join(
            scored.groupBy(id_col).agg(
                F.count("*").alias("n_bigrams"),
                F.round(
                    nll_sum.cast("double") / F.count("*"), 4
                ).alias("bits_per_bigram"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("bits_per_bigram", F.lit(0.0)).alias("bits_per_bigram"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int = 512,
    n_shards: int = 8,
    seed: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget sequence packing: lay the corpus out in a
    deterministic pseudo-random order, concatenate token counts, and
    slice fixed ``budget_tokens`` training windows — each doc gets the
    bin it STARTS in plus its offset there (concat-and-chunk packing, a
    doc may straddle into the next bin, exactly like GPT-style
    pretraining packing of a tokenized stream).

    Global order is (shard, md5(seed|id), id) — the same retry-stable
    hash order as :func:`shard_corpus`.  The global running offset is a
    DISTRIBUTED PREFIX SUM: a within-shard cumulative window (each
    shard is one partition's local scan) plus broadcast per-shard base
    offsets — no global window, no single-reducer sort, so the layout
    job scales by adding shards.  Returns (doc_id, n_tokens, bin_id,
    bin_offset) — all integers, bit-stable across engines.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(str(seed)), F.lit("|"), F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % n_shards).cast(
        "int"
    )
    # Materialize the narrow (id, n_tokens, h, shard) projection ONCE:
    # both the layout window and the shard-totals aggregate read it, and
    # without the checkpoint Catalyst re-derives each branch from the
    # raw text column — two full corpus scans.  At production scale this
    # projection (~32 B/doc) is exactly what a two-phase layout job
    # persists before packing.
    toks = df.select(
        id_col,
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens"),
        h.alias("h"),
        shard.alias("shard"),
    ).localCheckpoint()
    w = Window.partitionBy("shard").orderBy("h", id_col)
    local = toks.withColumn(
        "local_end", F.sum("n_tokens").over(w)
    )  # within-shard running total (inclusive)
    shard_totals = (
        toks.groupBy("shard")  # plain map-side-combinable agg, NOT the window
        .agg(F.sum("n_tokens").alias("shard_total"))
        .withColumn(
            "shard_base",
            F.coalesce(
                F.sum("shard_total").over(
                    Window.orderBy("shard").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("shard", "shard_base")
    )  # n_shards rows — driver-scale metadata, broadcast below
    return (
        local.join(F.broadcast(shard_totals), "shard")
        .withColumn("global_start", F.col("shard_base") + F.col("local_end") - F.col("n_tokens"))
        .select(
            id_col,
            "n_tokens",
            # integer `div`, not floor(x/y): double division loses
            # exactness past 2^53 total tokens (a 100 TB corpus is ~10^13)
            F.expr(f"global_start div {int(budget_tokens)}").alias("bin_id"),
            (F.col("global_start") % budget_tokens).cast("bigint").alias("bin_offset"),
        )
    )


def normalize_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic text normalization — the stage that runs BEFORE any
    exact/near dedup so trivially-different byte forms hash together:
    lower-case, strip ASCII control characters, collapse whitespace runs
    to single spaces, trim.  Entirely JVM regexp/codegen (the patterns
    are RE2-and-Java-compatible, so the DuckDB oracle replays them
    verbatim); row-local, zero exchanges.

    (Unicode NFC normalization belongs here too, but Spark exposes no
    built-in for it — doing it in Python would put a per-row crossing in
    the hottest path.  On a real deployment it rides the extraction
    kernel's Arrow pass; documented rather than faked.)
    """
    t = F.lower(F.col(text_col))
    t = F.regexp_replace(t, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")
    t = F.regexp_replace(t, "[ \\t\\n\\r]+", " ")
    t = F.trim(t)
    return df.select(
        id_col,
        t.alias("norm_text"),
        F.length(t).alias("n_chars_norm"),
    )


def source_quota(
    df: DataFrame,
    max_per_source: int = 10,
    seed: int = 0,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source document quota: keep at most ``max_per_source`` docs
    from each source, chosen by deterministic hash order (md5(seed|id))
    — the domain-cap step crawl pipelines use so one giant host cannot
    dominate the training mix (the corpus-level analogue of the hot-host
    salting the enrich path does for compute).

    Scale shape: one window rank per source partition.  Source
    cardinality is bounded (domains, not documents) and AQE splits a
    skewed source's sort; the rank is the standard top-K-per-group plan.
    For pathological single-source corpora, pre-filter with an
    approximate per-source count and a hash threshold before ranking —
    the hash-gate trick sample_mixture uses.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(str(seed)), F.lit("|"), F.col(id_col).cast("string")))
    w = Window.partitionBy(source_col).orderBy("h", id_col)
    return (
        df.select(id_col, source_col, h.alias("h"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= max_per_source)
        .select(id_col, source_col)
    )


def domain_profile(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    rep_frac_threshold_x5: int = 5,
) -> DataFrame:
    """Per-source (domain) quality rollup: the mixture-building input
    table that :func:`source_quota` and :func:`sample_mixture` consume
    in production — one row per source with document/token totals,
    mean quality ratios, and repetition/PII incident rates.

    Columns: ``source, n_docs, total_tokens, total_chars,
    mean_stopword_ratio, mean_punct_ratio, repetitive_rate, pii_rate``.

    Scale shape: every feature folds ROW-LOCALLY (token ratios,
    :func:`_max_multiplicity` repetition flag, ``regexp_count`` PII
    flag — all codegen, zero Python), then ONE map-side-combinable
    groupBy(source) whose shuffle carries a handful of partials per
    domain — domains number ~10^7 at web scale, documents ~10^12, so
    the exchange is 5 orders of magnitude smaller than the scan.
    Determinism across engines: mean ratios are pre-rounded to 9 places
    and summed EXACTLY as decimal (the :func:`lm_perplexity` recipe);
    the repetition flag compares integers (max_multiplicity × 5 >
    n_tokens, i.e. top-token fraction > 20%, the Gopher-style
    boilerplate rule) so no float boundary exists to disagree on.
    """
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
    n_chars = F.length(text_col)
    punct = n_chars - F.length(F.regexp_replace(text_col, r"[.,!?;:]", ""))
    pats = _pii_patterns()
    n_pii = sum(
        (F.regexp_count(F.col(text_col), F.lit(p)) for p in pats.values()),
        F.lit(0),
    )
    per_doc = df.select(
        source_col,
        n_tokens.cast("bigint").alias("n_tokens"),
        n_chars.cast("bigint").alias("n_chars"),
        F.round(
            F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0)), 9
        ).cast("decimal(28,9)").alias("stop_r"),
        F.round(
            F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0)), 9
        ).cast("decimal(28,9)").alias("punct_r"),
        (
            (n_tokens > 0)
            & (_max_multiplicity(toks) * rep_frac_threshold_x5 > n_tokens)
        ).cast("int").alias("rep_flag"),
        (n_pii > 0).cast("int").alias("pii_flag"),
    )
    n_docs = F.count("*")
    return per_doc.groupBy(source_col).agg(
        n_docs.alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("stop_r").cast("double") / n_docs, 6).alias(
            "mean_stopword_ratio"
        ),
        F.round(F.sum("punct_r").cast("double") / n_docs, 6).alias(
            "mean_punct_ratio"
        ),
        F.round(F.sum("rep_flag") / n_docs, 6).alias("repetitive_rate"),
        F.round(F.sum("pii_flag") / n_docs, 6).alias("pii_rate"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Paragraph/line-level exact-substring dedup (C4 / Lee et al. 2022:
    remove repeated lines corpus-wide, keep the first occurrence):
    split on newline runs, NORMALIZE each paragraph (collapse internal
    whitespace, trim), md5 it, keep only the first occurrence of each
    distinct normalized paragraph (first = lowest (doc_id, para_idx)),
    and reassemble documents from their surviving paragraphs joined by
    a single newline.  Complements :func:`span_dedup` (fixed word
    windows) with the structure-aware variant real web text wants —
    boilerplate lines (nav bars, cookie banners) repeat verbatim across
    pages at paragraph granularity.

    Returns (doc_id, clean_text, n_paras_kept, n_paras_dropped) for
    EVERY input document — one whose every paragraph was seen earlier
    (or was whitespace-only) comes back with empty clean_text.

    Scale shape: the :func:`span_dedup` recipe — paragraph extraction
    and normalization are row-local; the keep-first winner per
    paragraph is ONE map-side-combinable ``min(struct(doc_id, idx))``
    groupBy (no Window, no global sort); winners join back on the
    16-byte md5 key (paragraph text never shuffles beyond its doc);
    reassembly is one groupBy(doc_id) with a row-local sort_array fold.
    """
    paras = (
        df.select(
            id_col,
            F.posexplode(F.split(F.col(text_col), r"\n+")).alias(
                "para_idx", "para_raw"
            ),
        )
        .withColumn(
            "para", F.trim(F.regexp_replace("para_raw", r"[ \t\r]+", " "))
        )
        .where(F.col("para") != "")
        .withColumn("para_key", F.unhex(F.md5("para")))  # 16-byte key
        .drop("para_raw")
    )
    winners = paras.groupBy("para_key").agg(
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("para_idx").alias("s"))
        ).alias("first_occ")
    )
    kept = paras.join(winners, "para_key").withColumn(
        "keep",
        (F.col("first_occ.d") == F.col(id_col))
        & (F.col("first_occ.s") == F.col("para_idx")),
    )
    per_doc = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("keep"),
                            F.struct(
                                F.col("para_idx").alias("i"),
                                F.col("para").alias("t"),
                            ),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
        ).alias("clean_text"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_paras_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_paras_dropped"),
    )
    # every input doc gets a row, even if all its paragraphs were
    # dropped as whitespace-only (they never reached the groupBy)
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_paras_kept", F.lit(0)).alias("n_paras_kept"),
            F.coalesce("n_paras_dropped", F.lit(0)).alias("n_paras_dropped"),
        )
    )


def _hashed_ngrams_col(text_col: str):
    """Row-local unigram+bigram array for DSIR hashing: tokens plus
    space-joined adjacent pairs (the Xie et al. 2023 feature space)."""
    toks = f"split({text_col}, ' ')"
    return F.expr(
        f"concat({toks}, transform(arrays_zip("
        f"slice({toks}, 1, size({toks}) - 1), "
        f"slice({toks}, 2, size({toks}) - 1)), "
        f"p -> concat(p['0'], ' ', p['1'])))"
    )


def dsir_weights(
    df: DataFrame,
    target_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance Resampling,
    Xie et al. 2023 — public recipe): score every raw document by how
    much more likely its hashed-n-gram bag is under the TARGET domain's
    distribution than under the raw corpus's own.

    features  = unigrams + bigrams, hashed to ``n_buckets`` buckets via
                the first 4 hex chars of md5 (replayable in DuckDB with
                the shard_corpus nibble trick);
    p, q      = add-one-smoothed multinomials over buckets fit on the
                target sample and the raw corpus;
    weight(d) = Σ_{g ∈ d} [ln p(bucket(g)) − ln q(bucket(g))] — the log
                importance ratio; resample/top-k by weight downstream.

    Scale shape: model fit is TWO map-side-combinable groupBys whose
    output is ``n_buckets`` rows — a metadata-scale collect (the IVF
    broadcast-centroid precedent); scoring is a ZERO-exchange row-local
    fold over each doc's ngram array against the broadcast 256-entry
    log-ratio literal.  No join, no shuffle in the scoring pass — the
    100 TB path is scan-shaped.  Determinism: per-bucket log-ratios are
    rounded to 9 places and folded as decimal (order-insensitive), the
    final weight rounds to 4 — the lm_perplexity recipe.
    """
    m = n_buckets

    def bucket_of(col):
        return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("int") % m

    # ONE model-fit job, not two: the target and raw bucket histograms
    # are unioned with a side tag and aggregated together, so the fit
    # pays one job submission and its stages overlap (guide §2.6) —
    # the collect stays metadata-scale (≤ 2m rows).
    def side(frame, tag: int):
        return frame.select(
            F.lit(tag).alias("_side"),
            F.explode(_hashed_ngrams_col(text_col)).alias("ng"),
        )

    rows = (
        side(target_df, 0)
        .unionByName(side(df, 1))
        .groupBy("_side", bucket_of(F.col("ng")).alias("b"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    import math

    cp = {r["b"]: r["c"] for r in rows if r["_side"] == 0}
    cq = {r["b"]: r["c"] for r in rows if r["_side"] == 1}
    tot_p = sum(cp.values()) + m
    tot_q = sum(cq.values()) + m
    ratios = [
        round(
            math.log((cp.get(b, 0) + 1) / tot_p)
            - math.log((cq.get(b, 0) + 1) / tot_q),
            9,
        )
        for b in range(m)
    ]
    ratio_arr = F.array(*[F.lit(r).cast("decimal(28,9)") for r in ratios])
    # the ngram array is PROJECTED ONCE: referencing the expression both
    # in size() and as the fold input would re-evaluate the whole
    # split+zip construction per reference (the no-CSE pitfall, round 5)
    ngrams = F.col("_dsir_ngrams")
    weight = F.aggregate(
        ngrams,
        F.lit(0).cast("decimal(38,9)"),
        # cast back: decimal addition promotes past the accumulator type
        lambda acc, ng: (
            acc + F.element_at(ratio_arr, bucket_of(ng) + F.lit(1))
        ).cast("decimal(38,9)"),
    )
    return df.select(
        id_col, _hashed_ngrams_col(text_col).alias("_dsir_ngrams")
    ).select(
        id_col,
        F.size(ngrams).cast("bigint").alias("n_ngrams"),
        F.round(weight.cast("double"), 4).alias("weight"),
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, §2.2 — the public
    recipe behind the C4 corpus), line- and page-level:

      * keep only lines ending in a terminal punctuation mark
        (``. ! ? "``);
      * drop lines with fewer than ``min_words`` words;
      * drop lines containing the word "javascript" (case-insensitive);
      * drop PAGES containing "lorem ipsum" or a curly brace, or whose
        surviving text has fewer than ``min_sentences`` sentences
        (sentence count approximated as terminal-punctuation
        occurrences in the kept text — deterministic and replayable,
        documented divergence from the paper's langdetect splitter).

    Returns one row per input document: ``(doc_id, clean_text,
    n_lines_kept, n_lines_dropped, doc_kept)`` — callers filter on
    ``doc_kept`` (kept here so the drop REASONS stay auditable).

    Scale shape: the entire operator is ONE row-local projection —
    ``split``/``filter``/``array_join`` higher-order functions, all JVM
    codegen, ZERO exchanges (plan-locked).  Unlike
    :func:`paragraph_dedup` there is no cross-document state at all, so
    at 100 TB this is pure scan-shaped map work that fuses into the
    ingest stage.
    """
    lines = F.transform(
        F.split(F.col(text_col), "\n"),
        lambda x: F.trim(F.regexp_replace(x, "[ \t\r]+", " ")),
    )
    keep_line = lambda x: (  # noqa: E731 — inline HoF predicate
        x.rlike('[.!?"]$')
        & (F.size(F.split(x, " ")) >= min_words)
        & ~F.lower(x).contains("javascript")
    )
    kept = F.filter(lines, keep_line)
    clean = F.array_join(kept, "\n")
    n_kept = F.size(kept)
    n_sentences = F.length(clean) - F.length(
        F.regexp_replace(clean, '[.!?"]', "")
    )
    doc_kept = (
        ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
        & (n_sentences >= min_sentences)
    )
    return df.select(
        id_col,
        clean.alias("clean_text"),
        n_kept.cast("bigint").alias("n_lines_kept"),
        (F.size(lines) - n_kept).cast("bigint").alias("n_lines_dropped"),
        doc_kept.alias("doc_kept"),
    )


def dedup_lines_within_doc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-document repeated-line removal (the MassiveText/Gopher
    "remove duplicate lines within a document" rule — Rae et al. 2021
    §A.1.2): split on newlines, normalize each line (collapse internal
    whitespace, trim), keep only the FIRST occurrence of each distinct
    normalized line within the document (and drop whitespace-only
    lines), reassemble in original order.  Complements
    :func:`paragraph_dedup`, which removes repeats CORPUS-wide — this
    is the row-local pre-pass that strips per-page boilerplate
    (headers repeated by pagination, quoted reply chains) without any
    cross-document state.

    Returns ``(doc_id, clean_text, n_lines_kept, n_lines_dropped)``
    for every input document.

    Scale shape: the entire operator is ONE row-local projection —
    split/transform/filter higher-order functions over the line array,
    first-occurrence via ``array_position`` (first index of the
    normalized form), all JVM codegen, ZERO exchanges (plan-locked).
    The per-doc cost is O(lines²) string compares, bounded by page
    size, not corpus size — scan-shaped at 100 TB.
    """
    # lines/norms are PROJECTED as columns before the indexed lambda:
    # inlining them would re-evaluate the whole split+transform for
    # every element_at access (the lambda-inlining pitfall documented
    # in the module docstring — Catalyst does not
    # subexpression-eliminate inside lambda bodies).
    staged = df.select(
        id_col,
        F.split(F.col(text_col), "\n").alias("_lines"),
    ).withColumn(
        "_norms",
        F.transform(
            F.col("_lines"),
            lambda x: F.trim(F.regexp_replace(x, "[ \t\r]+", " ")),
        ),
    )
    lines, norms = F.col("_lines"), F.col("_norms")
    kept = F.filter(
        lines,
        lambda x, i: (
            F.element_at(norms, i + F.lit(1)) != F.lit("")
        )
        & (
            F.array_position(norms, F.element_at(norms, i + F.lit(1)))
            == (i + F.lit(1)).cast("long")
        ),
    )
    return staged.select(
        id_col,
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).cast("bigint").alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).cast("bigint").alias("n_lines_dropped"),
    )


def length_histogram(
    df: DataFrame,
    text_col: str = "text",
    max_pow: int = 10,
) -> DataFrame:
    """Token-length distribution of the corpus: per power-of-two length
    bucket ``[bucket_lo, 2*bucket_lo)`` (plus the open top bucket), the
    document count and total token mass — the first audit table anyone
    builds before sizing context windows / packing budgets.

    Buckets: 0 (empty docs), 1, 2, 4, … 2**max_pow, with everything
    ≥ 2**max_pow in the top bucket.  Returns ``(bucket_lo, n_docs,
    total_tokens)`` sorted by bucket.

    Scale shape: the bucket key is a row-local integer expression and
    the rollup is ONE map-side-combinable groupBy over ≤ max_pow+2
    distinct keys — the shuffle carries a handful of partial rows per
    task regardless of corpus size.
    """
    n = F.size(tokens_col(text_col))
    bucket = F.lit(0)
    for p in range(max_pow + 1):
        lo = 2 ** p
        bucket = F.when(n >= lo, F.lit(lo)).otherwise(bucket)
    return (
        df.select(bucket.cast("bigint").alias("bucket_lo"), n.alias("n"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
        )
        .orderBy("bucket_lo")
    )


def classifier_model(spark, n_buckets: int = 4096) -> DataFrame:
    """Deterministic hashed-linear model dim table ``(bucket, w_x1000)``
    — the stand-in for a trained fastText/CCNet quality classifier's
    weight vector (no model files ship in this sandbox; the *pipeline*
    contract — hashing-trick features, model-as-dim-table, broadcast
    scoring join — is what this exercises, and a real weight table
    drops in with the same schema).  Weights are integers in
    [-1000, 1000] derived from md5 so the SQL oracle replays them
    exactly: ``w_x1000 = md5_u16('w|' || bucket) % 2001 - 1000``.
    """
    return spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        (
            md5_hash16(F.concat(F.lit("w|"), F.col("id").cast("string"))) % 2001
            - 1000
        )
        .cast("bigint")
        .alias("w_x1000"),
    )


def quality_classifier(
    df: DataFrame,
    model: DataFrame,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """fastText-style linear quality scoring (the CCNet / LLaMA
    wiki-reference filter shape, Wenzek et al. 2020 §4.3): features are
    the doc's unigrams AND word-bigrams under the hashing trick
    (``bucket = md5_u16(feat) % n_buckets``); the score is the summed
    model weight over feature instances; the keep label is its sign.

    Returns ``(doc_id, n_feats, sum_w_x1000, label_keep)`` — the sum is
    an exact INTEGER (weights ship ×1000), so Spark and the SQL oracle
    agree bit-for-bit with no float-summation-order caveat, and the
    sigmoid is monotone in it (consumers wanting a probability apply
    ``σ(sum/(1000·n))`` downstream; the gate itself only needs the
    sign).

    Scale shape: this is the model-as-dim-table pattern — a real
    classifier has 10⁵-10⁷ hashed buckets, too big for a literal array
    (the :func:`dsir_weights` zero-shuffle path) but trivially
    **broadcast** as a join side.  Features explode to 8-byte
    ``(doc_id, bucket)`` ints (bodies never shuffle), the model join is
    broadcast-hash, and the per-doc rollup partial-aggregates map-side
    — a doc's exploded rows stay in its partition, so the exchange
    carries ~1 combined row per document.
    """
    from pyspark.sql.functions import broadcast

    # tokens projected ONCE before the bigram lambda (the
    # lambda-inlining pitfall — see the module docstring): element_at over the
    # raw tokens_col() expression would re-split the text per bigram.
    staged = df.select(id_col, tokens_col(text_col).alias("_qc_toks"))
    toks = F.col("_qc_toks")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(toks, bigrams)
    exploded = staged.select(
        id_col, F.explode(feats).alias("feat")
    ).select(
        id_col, (md5_hash16(F.col("feat")) % n_buckets).cast("int").alias("bucket")
    )
    return (
        exploded.join(broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("w_x1000").cast("bigint").alias("sum_w_x1000"),
        )
        .withColumn("label_keep", F.col("sum_w_x1000") > 0)
    )


def contamination_fraction(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Graded benchmark decontamination: per-document FRACTION of its
    distinct k-word shingles that appear in the evaluation corpus —
    the severity signal behind :func:`decontaminate`'s boolean (GPT-3
    appendix C drops on any overlap; later pipelines threshold the
    fraction so a quoted sentence doesn't kill a whole book).

    Returns ``(doc_id, n_shingles, n_hits, contamination)`` for every
    input doc; docs with < k tokens have 0 shingles and contamination
    0.0.  Counts are exact integers; the fraction is one IEEE division
    rounded to 6 — deterministic across engines.

    Scale shape: same probe as :func:`decontaminate` — the eval
    shingle set is **broadcast** and the corpus's exploded shingles
    stream past it map-side (LEFT join keeps misses so the denominator
    is right); the per-doc rollup partial-aggregates before its
    id-keyed exchange, and only (doc_id, 2 ints) rows come back to the
    corpus join.  Bodies never shuffle.
    """
    corpus_sh = shingles(df, k=k)
    bench_sh = (
        shingles(benchmark, k=k)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_hits") / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("contamination"),
        )
    )


def quantile_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str = "lang",
    n_buckets: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quantile bucketing of a score column — the CCNet
    head/middle/tail split (Wenzek et al. 2020 §4.4: per-language
    perplexity terciles; training recipes then keep head+middle or
    sample by bucket).  ``bucket`` is ``NTILE(n_buckets)`` ordered by
    (score asc, id asc) — the id tiebreak makes the split deterministic
    and retry-stable; ``label`` names the CCNet terciles (bucket 1 =
    lowest score = "head").

    Scale shape: ONE window rank per group — the same shape (and the
    same caveat) as :func:`source_quota`: groups are languages (~10²),
    so per-group data is corpus-sized/100 and skewed toward English;
    AQE skew handling applies, and at the extreme scale the production
    swap is histogram-derived thresholds (compute each group's score
    histogram with one map-side-combinable groupBy, broadcast the
    cutoffs back — same outputs, no global per-group sort).  CCNet
    itself materializes exactly this per-language sorted split offline.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).asc(), F.col(id_col).asc()
    )
    b = F.ntile(n_buckets).over(w)
    label = (
        F.when(b == 1, F.lit("head"))
        .when(b == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return df.select(
        id_col,
        group_col,
        score_col,
        b.alias("bucket"),
        label.alias("label"),
    )


def histogram_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str = "lang",
    n_buckets: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Histogram-threshold variant of :func:`quantile_buckets` — the
    production path at extreme scale (the swap documented in
    quantile_buckets' docstring): instead of one NTILE window over every
    corpus row per group, compress each group to its score HISTOGRAM
    first, derive the bucket boundaries from cumulative bin counts, and
    join the bucket assignment back.  Output is IDENTICAL to
    quantile_buckets — exact NTILE(n) ordered by (score, id) — because
    the one case thresholds cannot decide (a tie class of equal scores
    straddling a bucket boundary) is resolved by ranking ONLY the
    straddling bins' rows by id.

    Scale shape (why this replaces the per-group corpus sort):
    - the histogram is ONE map-side-combinable groupBy(group, score);
      scores arrive pre-rounded (4 decimals from lm_perplexity), so
      bins are bounded (~10^4-10^5 per group), independent of corpus
      row count;
    - both Window nodes run over METADATA-scale inputs: cumulative
      counts over the histogram (bins per group), and row_number over
      the boundary-straddling tie classes only — at most
      ``n_buckets - 1`` bins per group ever straddle;
    - the assignment join broadcasts the bucketed histogram (bins ×
      groups rows); if a pathological score domain outgrows the
      broadcast threshold, dropping the hint degrades to an AQE-sized
      hash join on (group, score) — same result;
    - NTILE rank arithmetic is integer-exact (``div``, never double
      division) so rank -> bucket cannot be off-by-one at 10^12 rows.

    NTILE math for group size s: q = s div n, rem = s mod n; the first
    rem buckets take q+1 rows, the rest q; rank r maps to
    ``(r + q) div (q + 1)`` while r <= rem*(q+1), else
    ``rem + (r - rem*(q+1) + q - 1) div q``.
    """
    from pyspark.sql import Window

    g, s = group_col, score_col
    hist = df.groupBy(g, s).agg(F.count("*").alias("bin_n"))
    w_cum = (
        Window.partitionBy(g)
        .orderBy(F.col(s).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(g)
    hist = (
        hist.withColumn("hi_rank", F.sum("bin_n").over(w_cum))
        .withColumn("lo_rank", F.col("hi_rank") - F.col("bin_n") + 1)
        .withColumn("total", F.sum("bin_n").over(w_tot))
    )

    n = int(n_buckets)
    hist = (
        hist.withColumn("q", F.expr(f"total div {n}"))
        .withColumn("rem", F.expr(f"total % {n}"))
        .withColumn("big", F.expr("rem * (q + 1)"))
    )

    def bucket_of(rank_expr: str) -> Column:
        return F.expr(
            f"CASE WHEN {rank_expr} <= big"
            f" THEN ({rank_expr} + q) div (q + 1)"
            f" ELSE rem + ({rank_expr} - big + q - 1) div q END"
        ).cast("int")

    hist = hist.withColumn("b_lo", bucket_of("lo_rank")).withColumn(
        "b_hi", bucket_of("hi_rank")
    )

    joined = df.select(id_col, g, s).join(
        F.broadcast(
            hist.select(g, s, "lo_rank", "q", "rem", "big", "b_lo", "b_hi")
        ),
        [g, s],
    )
    solid = joined.filter(F.col("b_lo") == F.col("b_hi")).select(
        id_col, g, s, F.col("b_lo").alias("bucket")
    )
    w_tie = Window.partitionBy(g, s).orderBy(F.col(id_col).asc())
    straddle = (
        joined.filter(F.col("b_lo") != F.col("b_hi"))
        .withColumn("rank", F.col("lo_rank") - 1 + F.row_number().over(w_tie))
        .select(id_col, g, s, bucket_of("rank").alias("bucket"))
    )
    out = solid.unionByName(straddle)
    label = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == n, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return out.select(id_col, g, s, "bucket", label.alias("label"))





def _window_occurrences(
    df: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, wh) for every k-token window — pos is 1-based, wh the
    8-byte (16 hex nibbles) md5 prefix of the space-joined window
    (row-local).

    Token j of window i is element i of the slice that starts at token
    j: zipping the k slices of length n - k + 1 lines up every window as
    one struct, and posexplode numbers them.  The tokens are
    projected once, as a column, so the k slices share one split."""
    df = df.select(id_col, tokens_col(text_col).alias("_w_toks"))
    toks = F.col("_w_toks")
    n_windows = F.greatest(F.size(toks) - k + 1, F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, n_windows) for j in range(k)])
    w = F.col("w")
    # wh is the BINARY unhex of the 16-hex-char md5 prefix: the same
    # equality classes at 8 bytes instead of a 16-char string — narrower
    # group/join keys through the whole dup-window family (§2.3)
    wh = F.unhex(
        F.substring(F.md5(F.concat_ws(" ", *[w[str(j)] for j in range(k)])), 1, 16)
    )
    return df.select(id_col, F.posexplode(zipped).alias("i", "w")).select(
        id_col, (F.col("i") + 1).alias("pos"), wh.alias("wh")
    )


def _dup_window_occurrences(
    occ: DataFrame, id_col: str, min_df: int
) -> DataFrame:
    """Non-canonical occurrences of corpus-duplicated window hashes:
    keep-first via min(struct) — map-side-combinable, no window rank."""
    # lazily checkpointed: the occurrence relation feeds both the
    # corpus-wide window groupBy and the dup-slice join — without the
    # checkpoint each reference re-runs the window-hash explode
    # (guide §3.3; measured 2.9→2.2 s sf / 3.1→2.6 s zipf on
    # substring_dedup_clean in an alternating A/B)
    occ = occ.localCheckpoint(eager=False)
    dup_hashes = (
        occ.groupBy("wh")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct(id_col, "pos")).alias("mn"),
        )
        .filter(F.col("cnt") >= min_df)
    )
    return occ.join(dup_hashes, "wh").filter(
        ~(
            (F.col(id_col) == F.col(f"mn.{id_col}"))
            & (F.col("pos") == F.col("mn.pos"))
        )
    )



def substring_dup_stats(
    df: DataFrame,
    k: int = 5,
    min_df: int = 2,
    heavy_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact repeated-substring duplication profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": their
    suffix-array pass finds verbatim spans repeated across the corpus;
    this is the distributed equivalent at fixed window length k).  Every
    k-token window is hashed; a window OCCURRENCE is a duplicate when
    its hash appears >= min_df times corpus-wide and the occurrence is
    not the canonical first one (min (doc_id, pos) — keep-first, the
    span_dedup convention).  Output per doc: total windows, duplicate
    windows, the duplicated fraction, and a ``dup_heavy`` gate at
    ``heavy_frac`` (the "drop docs that are mostly boilerplate"
    filter).

    Scale shape:
    - ``n_windows`` is ROW-LOCAL (size arithmetic — no explode);
    - occurrences explode to (id, pos, 16-byte md5 window hash); the
      corpus-wide window table is ONE map-side-combinable groupBy
      carrying count + min(struct(doc_id, pos)) — keep-first needs NO
      window function;
    - occurrences join only the ``cnt >= min_df`` slice of that table
      (duplicated window hashes are a small fraction of all windows in
      a healthy corpus, so the join's build side is the dup slice, and
      at low dup rates it broadcasts under AQE);
    - the per-doc rollup is a map-side-combinable count.
    """
    toks = tokens_col(text_col)
    dup_occ = (
        _dup_window_occurrences(_window_occurrences(df, k, id_col, text_col),
                                id_col, min_df)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_windows"))
    )

    n_windows = F.greatest(F.size(toks) - k + 1, F.lit(0)).cast("bigint")
    out = (
        df.select(id_col, n_windows.alias("n_windows"))
        .join(dup_occ, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_windows") > 0,
                F.round(F.col("n_dup_windows") / F.col("n_windows"), 4),
            ).otherwise(F.lit(0.0)),
        )
    )
    return out.withColumn(
        "dup_heavy", F.col("dup_frac") >= F.lit(float(heavy_frac))
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    bits: int = 64,
    n_bands: int = 4,
    hamming_max: int = 3,
    token_hash: Column | None = None,
    max_bucket: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs via Hamming-distance banding (Manku,
    Jain & Das Sarma, WWW 2007 — Google's web-crawl dedup): split each
    fingerprint into ``n_bands`` equal bit blocks; by pigeonhole, two
    fingerprints within Hamming distance ``hamming_max <= n_bands - 1``
    agree EXACTLY on at least one block, so candidates are generated by
    an equi-join on (block index, block value) — never an all-pairs
    comparison — and verified with one XOR + popcount.  Exact recall at
    the stated distance (unlike MinHash-LSH's probabilistic recall),
    because the band equality is implied, not sampled.

    Scale shape: the banded index is ``n_bands`` 8-byte rows per doc;
    the self-join key (band, block value) has ~2^(bits/n_bands) × bands
    buckets; ``max_bucket`` drops degenerate buckets (e.g. the all-zero
    fingerprints of empty docs) before the join fans out — the same cap
    convention as embedding_near_dup_pairs.  Verification carries only
    (id, fingerprint) pairs — 16 bytes — never document bodies.
    """
    if hamming_max > n_bands - 1:
        raise ValueError(
            "pigeonhole guarantee needs hamming_max <= n_bands - 1"
        )
    fp = simhash64(df, bits=bits, token_hash=token_hash)
    width = bits // n_bands
    mask = (1 << width) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned("simhash", b * width)
            .bitwiseAND(F.lit(mask))
            .alias("bv"),
        )
        for b in range(n_bands)
    ]
    bands = fp.select(
        id_col, "simhash", F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    if max_bucket is not None:
        sizes = bands.groupBy("band", "bv").agg(F.count("*").alias("bn"))
        bands = bands.join(
            sizes.filter(F.col("bn") <= max_bucket).drop("bn"), ["band", "bv"]
        )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "bv"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col("a.simhash").alias("sh_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .where(F.col("hamming") <= hamming_max)
        .select("doc_a", "doc_b", "hamming")
    )


def unimax_budget(
    df: DataFrame,
    budget_tokens: int,
    max_epochs: int = 4,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023,
    "UniMax: Fairer and More Effective Language Sampling"): distribute a
    total training-token budget across languages, visiting languages in
    ASCENDING order of available data; each language receives
    ``min(max_epochs * its_tokens, remaining / languages_left)`` — so no
    language repeats more than ``max_epochs`` times, and budget freed by
    small languages flows to larger ones.  Output per language: doc and
    token counts, the allocated ``quota_tokens``, and the implied
    ``epochs`` over its data.

    All arithmetic is INTEGER (floor shares) so the allocation is
    engine-exact; ties in corpus size break by language code.

    Scale shape: corpus work is ONE map-side-combinable groupBy(lang) —
    the rest runs over the ~10^2-row language aggregate on the driver
    (metadata-scale, the same convention as lm vocab_size; the greedy
    scan is inherently sequential and 100 rows long, not a distributed
    job).
    """
    toks = tokens_col(text_col)
    agg = df.groupBy(lang_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
    )
    rows = sorted(
        agg.collect(), key=lambda r: (r["n_tokens"], r[lang_col])
    )  # ~#languages rows
    remaining = int(budget_tokens)
    out = []
    for i, r in enumerate(rows):
        share = remaining // (len(rows) - i)
        quota = min(int(max_epochs) * int(r["n_tokens"]), share)
        remaining -= quota
        epochs = (
            round(quota / int(r["n_tokens"]), 4) if r["n_tokens"] else 0.0
        )
        out.append(
            (r[lang_col], int(r["n_docs"]), int(r["n_tokens"]), quota, epochs)
        )
    return df.sparkSession.createDataFrame(
        out,
        f"{lang_col} string, n_docs bigint, n_tokens bigint, "
        "quota_tokens bigint, epochs double",
    )


def curation_gate(
    df: DataFrame,
    min_tokens: int = 30,
    max_tokens: int = 100000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    min_stop_hits: int = 2,
    max_punct_pml: int = 300,
    max_top_token_pml: int = 300,
    max_top_bigram_pml: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The one-pass curation filter stack: every published row-local
    quality rule this module implements separately (Gopher length /
    mean-token-length / stopword rules, Rae et al. 2021 §A.1.1;
    Gopher repetition caps §A.1.2; C4 lorem-ipsum / curly-brace page
    drops, Raffel et al. 2020 §2.2; punctuation-density heuristic)
    evaluated together in ONE projection — the shape a production
    ingest uses, where each signal being its own pass would mean N
    scans of 100 TB instead of one.

    Per doc: ``keep`` plus a deterministic comma-joined ``reasons``
    string naming every failed rule (flags-not-filter, the
    url_blocklist convention — drop decisions stay auditable).

    Engine-exactness: every threshold is compared in INTEGER
    arithmetic (per-mille cross-multiplication, e.g. punct*1000 >
    chars*300), so no rule can flip on a float rounding boundary
    between engines.  ZERO exchanges; whole-stage codegen end to end.
    """
    toks = tokens_col(text_col)
    staged = df.select(id_col, F.col(text_col), toks.alias("toks"))
    n = F.size("toks")
    sum_len = F.aggregate(
        F.col("toks"), F.lit(0), lambda acc, x: acc + F.length(x)
    )
    stop_hits = F.size(F.filter(F.col("toks"), lambda x: x.isin(STOPWORDS)))
    chars = F.length(text_col)
    punct = chars - F.length(F.regexp_replace(text_col, r"[.,!?;:]", ""))
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
        ),
    )
    top_tok = _max_multiplicity(F.col("toks"))
    top_bg = F.when(n >= 2, _max_multiplicity(bigrams)).otherwise(F.lit(0))

    rules = [
        ("too_short", n < min_tokens),
        ("too_long", n > max_tokens),
        (
            "mean_tok_len",
            (n > 0)
            & (
                (sum_len < min_mean_len * n) | (sum_len > max_mean_len * n)
            ),
        ),
        ("few_stopwords", stop_hits < min_stop_hits),
        ("punct_heavy", punct * 1000 > chars * max_punct_pml),
        ("top_token", (n > 0) & (top_tok * 1000 > n * max_top_token_pml)),
        (
            "top_bigram",
            (n >= 2) & (top_bg * 1000 > (n - 1) * max_top_bigram_pml),
        ),
        ("lorem_ipsum", F.lower(F.col(text_col)).contains("lorem ipsum")),
        ("curly_brace", F.col(text_col).contains("{")),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return staged.select(
        id_col,
        n.cast("bigint").alias("n_tokens"),
        (F.length(reasons) == 0).alias("keep"),
        reasons.alias("reasons"),
    )


def substring_dedup_clean(
    df: DataFrame,
    k: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style removal (Lee et al. 2022): excise from each
    document every token covered by a NON-canonical duplicated k-token
    window, keeping the canonical (first by (doc_id, pos)) occurrence
    intact — so repeated boilerplate survives exactly once corpus-wide.
    Output: ``clean_text`` (surviving tokens in original order),
    ``n_tokens`` and ``n_tokens_removed``.

    Scale shape: shares :func:`substring_dup_stats`'s candidate
    machinery (row-local window hashing, one map-side-combinable
    groupBy with min(struct) keep-first, join against only the
    duplicated-hash slice).  The removal itself is ROW-LOCAL: each
    doc's duplicated positions come back as ONE array (dup positions
    per doc are bounded by its window count and in practice sparse),
    expand to a covered-index set, and an indexed array filter keeps
    the uncovered tokens — cost O(n_tokens × covered), not O(n²).
    """
    occ = _window_occurrences(df, k, id_col, text_col)
    dup_pos = (
        _dup_window_occurrences(occ, id_col, min_df)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("dps"))
    )
    toks = tokens_col(text_col)
    # the covered-index set is projected once per doc, as a column: built
    # inside the filter lambda it would be rebuilt for every token; a doc
    # with no duplicated window (no dps) keeps its tokens unfiltered
    staged = df.select(id_col, toks.alias("toks")).join(dup_pos, id_col, "left")
    staged = staged.select(
        id_col,
        "toks",
        F.array_distinct(
            F.flatten(F.transform("dps", lambda p: F.sequence(p, p + k - 1)))
        ).alias("_cov"),
    )
    kept = F.filter(
        "toks", lambda x, i: ~F.array_contains(F.col("_cov"), (i + 1).cast("int"))
    )
    staged = staged.select(
        id_col,
        "toks",
        F.when(F.col("_cov").isNull(), F.col("toks")).otherwise(kept).alias("_kept"),
    )
    return staged.select(
        id_col,
        F.concat_ws(" ", "_kept").alias("clean_text"),
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size("_kept")).cast("bigint").alias("n_tokens_removed"),
    )


def fertility_stats(
    df: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-language tokenizer fertility profile: whitespace tokens,
    BPE-ish subword tokens, characters, and the derived ratios
    ``chars_per_token`` and ``fertility`` (subwords per whitespace
    token) — the audit table behind tokenizer/vocab decisions (high
    fertility = the tokenizer fragments that language, inflating its
    effective sequence length; the standard multilingual-vocab
    diagnostic).

    ONE map-side-combinable groupBy over ~10^2 language keys; every
    per-doc feature folds row-locally first.  Ratios divide two exact
    integer sums (one IEEE division + round — engine-equal).
    """
    toks = tokens_col(text_col)
    per_doc = df.select(
        lang_col,
        F.size(toks).cast("bigint").alias("t"),
        F.regexp_count(text_col, F.lit(BPE_ISH_REGEX))
        .cast("bigint")
        .alias("s"),
        F.length(text_col).cast("bigint").alias("c"),
    )
    agg = per_doc.groupBy(lang_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("t").alias("n_tokens"),
        F.sum("s").alias("n_subwords"),
        F.sum("c").alias("n_chars"),
    )
    return agg.select(
        lang_col,
        "n_docs",
        "n_tokens",
        "n_subwords",
        "n_chars",
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_chars") / F.col("n_tokens"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_subwords") / F.col("n_tokens"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("fertility"),
    )


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document script composition: counts of Han / kana /
    Cyrillic / Latin-letter / digit characters and their fractions of
    the total length — the row-local evidence table behind
    :func:`lang_id`'s script shortcuts, and the standard mixed-script
    spam signal (e.g. Latin spam keywords injected into CJK pages).
    ONE zero-exchange projection; integer counts, one exact division
    per fraction.
    """
    n = F.length(text_col)

    def cnt(pattern: str) -> Column:
        return F.regexp_count(F.col(text_col), F.lit(pattern)).cast("bigint")

    han = cnt(r"\p{IsHan}")
    kana = cnt(r"[\p{IsHiragana}\p{IsKatakana}]")
    cyr = cnt(r"\p{IsCyrillic}")
    latin = cnt(r"[A-Za-z]")
    digit = cnt(r"[0-9]")

    def frac(c: Column) -> Column:
        return F.when(n > 0, F.round(c / n, 6)).otherwise(F.lit(0.0))

    return df.select(
        id_col,
        n.cast("bigint").alias("n_chars"),
        han.alias("n_han"),
        kana.alias("n_kana"),
        cyr.alias("n_cyrillic"),
        latin.alias("n_latin"),
        digit.alias("n_digit"),
        frac(han).alias("frac_han"),
        frac(latin).alias("frac_latin"),
    )
