"""Physical-plan regression tests: the properties that make these
queries survive a 100× scale-up, asserted on `.explain` output so a
refactor can't silently lose them.

- filters reach the parquet scan (PushedFilters non-empty)
- small dims join via BroadcastHashJoin (no shuffled join on dim side)
- aggregations have a map-side partial pass (partial_ functions)
- no CartesianProduct / BroadcastNestedLoopJoin outside the
  deliberately-cross kNN operators
- whole-stage codegen is present in the hot paths
"""

from __future__ import annotations

import pytest

from spaceparts_data_pipeline_spark.queries import core


def plan_of(spark, name, sf_dir):
    df = core.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", ["q01_pricing_summary", "q03_top_revenue_orders", "q04_flagship_sales_eur"])
def test_filters_push_to_scan_where_present(spark, sf_oracle, name):
    plan = plan_of(spark, name, sf_oracle)
    if name != "q04_flagship_sales_eur":  # q04 has no row filters
        assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan.split("PushedFilters: [")[0]
    assert "FileScan parquet" in plan


def test_dims_broadcast_in_flagship(spark, sf_oracle):
    plan = plan_of(spark, "q04_flagship_sales_eur", sf_oracle)
    assert plan.count("BroadcastHashJoin") >= 4      # supplier, nation, fx, doctype
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partial_aggregation_map_side(spark, sf_oracle):
    df = core.QUERIES["q01_pricing_summary"](spark, sf_oracle)
    df.collect()  # finalize THIS df's AQE plan (a .write spawns a separate execution)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan                         # map-side combine before the shuffle
    assert "*(1)" in plan                             # whole-stage codegen spans ("*(n)" markers)


def test_no_cartesian_outside_knn(spark, sf_oracle):
    for name in core.QUERIES:
        if name.startswith(("e0",)):
            continue
        plan = plan_of(spark, name, sf_oracle)
        assert "CartesianProduct" not in plan, name


def test_column_pruning_reaches_scan(spark, sf_oracle):
    plan = plan_of(spark, "q03_top_revenue_orders", sf_oracle)
    # lineitem scan must read only the 4 needed columns, not all 11
    scan = [l for l in plan.splitlines() if "lineitem" in l and "FileScan" in l][0]
    assert "ReadSchema: struct<l_orderkey" in scan
    assert "l_comment" not in scan and "l_partkey" not in scan


def test_semi_join_stays_semi(spark, sf_oracle):
    plan = plan_of(spark, "q11_changed_keys_semi", sf_oracle)
    assert "LeftSemi" in plan


def test_ivf_assignment_no_window_no_fanout_shuffle(spark, sf_oracle):
    """e04's corpus→cell assignment must aggregate (map-side combinable
    max_by), never window-sort the ×n_centroids fan-out."""
    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.operators.similarity import assign_cells
    from spaceparts_data_pipeline_spark.sources.parquet import load_table

    e = load_table(spark, sf_oracle, "embeddings")
    cents = e.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("__cv"))
    corpus = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__nv"))
    assigned = assign_cells(corpus, cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "max_by" in plan
    assert "partial_max_by" in plan   # map-side combine collapses the fan-out
    assert assigned.count() == e.count()  # exactly one cell per vector


def test_d11_aggs_are_combinable_and_never_shuffle_text(spark, sf_oracle):
    """The repetition profile must run as two map-side-combinable
    aggregations whose shuffle keys are (doc_id, token) then doc_id —
    never a window, never whole-document text."""
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES["d11_repetition_stats"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan and "partial_sum" in plan and "partial_max" in plan
    assert "Window" not in plan
    assert "hashpartitioning(text" not in plan


def test_d12_sample_filter_pushes_to_scan(spark, sf_oracle):
    """Stratified sampling must stay a narrow pushed-down filter: no
    shuffle, no join, hash predicate in the scan's data filters."""
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES["d12_stratified_sample"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "md5" in plan


def test_range_join_is_equi_hash_not_nested_loop(spark, sf_oracle):
    """x28's bounded range join must execute as an equi join on the
    gap-bucket key — a theta-only formulation degrades to
    BroadcastNestedLoopJoin and dies at scale."""
    plan = plan_of(spark, "x28_range_pairs", sf_oracle)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_asof_join_single_shuffle_window(spark, sf_oracle):
    """x27's as-of join is the union+window composition: exactly one
    Window over the union, no join operator at all."""
    plan = plan_of(spark, "x27_asof_join", sf_oracle)
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_d01_shuffles_hash_not_text(spark, sf_oracle):
    """d01's window partition key must be md5(text), not the document."""
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES["d01_dedup_exact"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "md5" in plan
    # the exchange must partition on the projected hash attr, not text
    assert "hashpartitioning(text" not in plan
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and all("text#" not in l for l in exch), exch


def test_x29_benchmark_broadcasts_and_text_never_shuffles(spark, sf_oracle):
    """Contamination check: the benchmark hash-set side must broadcast
    (it is small by contract), and no exchange may carry document text —
    both sides reduce to md5 hashes before any shuffle."""
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES["x29_contamination_check"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and all("text#" not in l for l in exch), exch


def test_x30_packing_is_one_window_one_exchange(spark, sf_oracle):
    """Sequence packing must stay one shard-partitioned running-sum
    window — a second exchange or window means the shard distribution
    broke and the op degenerated toward a global sort."""
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES["x30_sequence_packing"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan   # no global sort
    assert "Join" not in plan


def test_d13_semi_join_ships_ids_not_text(spark, sf_oracle):
    """Canonical-corpus keep-set joins back by id only: the survivor-id
    side of the semi join must not carry text columns."""
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES["d13_canonical_corpus"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_d15_anti_join_on_fingerprints_not_text(spark, sf_oracle):
    """Cross-run dedup: the store screen is a LeftAnti join on 16-byte
    md5 fingerprints; no exchange may carry document text (the batch
    reduces to (id, fingerprint) before any shuffle)."""
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES["d15_incremental_dedup"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert all("text#" not in l for l in exch), exch


def test_x31_bigram_count_is_partial_and_topk_window_is_vocab_sized(spark, sf_oracle):
    """Bigram heavy hitters: gram construction is a per-row projection
    (no pre-count exchange of raw text), the count has a map-side
    partial pass, and the only window runs over the counted table."""
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES["x31_bigram_topk"](spark, sf_oracle)
    df.collect()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # final plan only (AQE prints both)
    assert "partial_count" in plan
    window_ops = [l for l in plan.splitlines() if l.lstrip("+-* (012345)").startswith("Window ")]
    assert len(window_ops) == 1, window_ops
    # Spark's rank-limit pushdown: per-partition top-k before the final
    # window, so the exchange carries k rows per (lang) per task
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert all("text#" not in l for l in exch), exch


def test_x32_redaction_is_pure_projection(spark, sf_oracle):
    """The redaction chain must stay a codegen map over the scan: no
    exchange, no join, no python worker."""
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES["x32_pii_redact"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan
    assert "*(1)" in plan


def test_d23_d24_models_broadcast_no_window_text_never_shuffles(spark, sf_oracle):
    """The round-10 selection signals (charlm NLL, DSIR weights) must
    keep their 100-TB shape: the vocab²/B-bounded model tables join via
    BroadcastHashJoin, the gram stream partial-combines map-side before
    its exchange, no Window operator anywhere (the only full-corpus
    group key is doc_id), and no exchange carries document text."""
    from spaceparts_data_pipeline_spark.queries import llm

    for name in ("d23_charlm_quality", "d24_dsir_importance"):
        df = llm.QUERIES[name](spark, sf_oracle)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name
        assert "Window" not in plan, name
        assert "partial_count" in plan or "partial_sum" in plan, name
        # the 1-row smoothing-total frames ride deliberate broadcast
        # cross joins (BroadcastNestedLoopJoin Cross BuildRight on a
        # 1-row aggregate is fine); an unbroadcast cartesian is not
        assert "CartesianProduct" not in plan, name
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line, (name, line)
        exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
        assert exch and all("text#" not in l for l in exch), (name, exch)


def test_d25_c02_scale_shapes(spark, sf_oracle):
    """d25: the cell self-join must key on centroid_id (never a
    cartesian over embeddings), centroids broadcast, no per-vector
    Window in the assign path (max_by argmax). c02: the composed
    selection keeps its members' shapes — broadcast models, the only
    Windows are x35's per-(source, sub-shard) running sums, and no
    exchange carries document text."""
    from spaceparts_data_pipeline_spark.queries import llm

    plan = llm.QUERIES["d25_semdedup"](spark, sf_oracle) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # centroids ride deliberate broadcast crosses (assign_cells);
    # every BNLJ must be one of those, and the assign path must stay
    # the map-side-combinable argmax, not a per-vector window
    assert "BroadcastExchange" in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    assert "partial_max_by" in plan
    assert "Window" not in plan
    # the pair stage must be an EQUI join keyed on the cell
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and any("centroid_id" in l for l in exch), exch

    plan = llm.QUERIES["c02_selection_pipeline"](spark, sf_oracle) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    win = [l for l in plan.splitlines() if l.strip().startswith("Window")]
    assert all("__sub" in l or "source" in l for l in win), win
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and all("text#" not in l for l in exch), exch


def test_x37_bpe_round_shape(spark, sf_oracle):
    """One BPE training round's pair-count plan must partial-combine
    map-side (explode → partial_count before the exchange), carry no
    Window, and never shuffle word text beyond the vocab-bounded gram
    rows; the merge application must stay pure codegen (no Python, no
    join). Probed on the round-0 frames the operator actually builds."""
    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    t = F.trim(F.col("text"))
    words = (
        docs.filter(F.col("text").isNotNull() & (F.length(t) > 0))
        .select(F.explode(F.split(t, r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
        .select("w", "cnt", F.split("w", "").alias("syms"))
    )
    n_pairs = F.greatest(F.size("syms") - F.lit(1), F.lit(0))
    pair = F.zip_with(
        F.slice("syms", F.lit(1), n_pairs), F.slice("syms", F.lit(2), n_pairs),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")))
    top = (words.select("cnt", F.explode(pair).alias("p"))
           .groupBy("p.l", "p.r").agg(F.sum("cnt").alias("c"))
           .orderBy(F.desc("c"), "l", "r").limit(1))
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Window" not in plan and "Python" not in plan

    merged = words.withColumn("syms", F.aggregate(
        "syms", F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit("a")) & (s == F.lit("b")),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                     F.array(F.lit("ab")))).otherwise(F.concat(acc, F.array(s)))))
    mplan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in mplan and "Python" not in mplan


def test_e06_ivf_pq_scale_shape(spark, sf_oracle):
    """IVF-PQ's 100-TB contract: codebooks/probes/LUT broadcast (every
    BroadcastNestedLoopJoin a deliberate Cross against a bounded
    frame), the encode argmin partial-combines map-side (partial_max_by
    — never a per-(vector, subspace) window), no CartesianProduct, and
    the only Window is the final per-query top-k rank."""
    from spaceparts_data_pipeline_spark.queries import llm

    plan = llm.QUERIES["e06_knn_ivf_pq"](spark, sf_oracle) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "partial_max_by" in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    win = [l for l in plan.splitlines() if l.strip().startswith("Window")]
    assert all("query_id" in l for l in win), win


def test_e06b_residual_pq_scale_shape(spark, sf_oracle):
    """Residual IVF-PQ keeps e06's contract plus the extra residual
    broadcast: no CartesianProduct, encode argmin partial-combines
    map-side, every BNLJ a deliberate Cross, only the final per-query
    rank Window."""
    from spaceparts_data_pipeline_spark.queries import llm

    plan = llm.QUERIES["e06b_knn_ivf_pq_residual"](spark, sf_oracle) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "partial_max_by" in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    win = [l for l in plan.splitlines() if l.strip().startswith("Window")]
    assert all("query_id" in l for l in win), win


def test_stage_cut_leaves_a_leaf_plan(spark):
    """stage_cut (the named lineage-cut pattern — r11 verdict #6):
    downstream plans must see a LEAF (LogicalRDD / ExistingRDD), not
    the upstream tree — the property that keeps iterative loops O(1)
    in plan size and cached-frame unpersist at milliseconds. Also
    pins the unpersist bookkeeping: the previous stage's cache is
    released after the cut materializes."""
    from pyspark import StorageLevel

    from spaceparts_data_pipeline_spark.operators.lineage import stage_cut

    base = spark.range(100).selectExpr("id", "id * 2 AS v")
    prev = base.groupBy((base.id % 10).alias("k")).count().persist()
    prev.count()
    cut = stage_cut(prev.filter("count >= 0"), unpersist=prev)
    analyzed = cut._jdf.queryExecution().analyzed().toString()
    assert "ExistingRDD" in analyzed or "LogicalRDD" in analyzed
    assert "Aggregate" not in analyzed        # the upstream tree is gone
    assert prev.storageLevel == StorageLevel.NONE   # previous stage released
    assert cut.count() == 10


def test_e03c_det_lsh_scale_shape(spark, sf_oracle):
    """e03c (deterministic LSH, in-window r12): one signature pass
    (MapInPandas), one bucket-keyed exchange into the grouped verify
    kernel, candidate dedup partial-aggregates map-side (HashAggregate
    below the exchange), and no CartesianProduct anywhere — the
    LSH-not-all-pairs property, now pinned on the FULL-oracle variant."""
    from spaceparts_data_pipeline_spark.queries import llm

    plan = llm.QUERIES["e03c_similar_pairs_lsh_det"](spark, sf_oracle) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 1          # one signature pass
    assert "FlatMapGroupsInPandas" in plan         # bucket-grouped verify
    lines = plan.splitlines()
    # partial dedup below its exchange: HashAggregate appears on both
    # sides of the id_a/id_b hash exchange
    ex = [i for i, l in enumerate(lines)
          if "Exchange hashpartitioning(id_a" in l]
    assert ex, plan
    above = any("HashAggregate" in l for l in lines[:ex[0]])
    below = any("HashAggregate" in l for l in lines[ex[0]:])
    assert above and below


def test_semdedup_store_screen_is_store_side_exchange_free(spark, sf_small, tmp_path):
    """r13 (VERDICT r12 'What's wrong #1' closed — by measurement, not
    by the predicted bucketed index): the semantic-dedup screen's
    collision join never shuffles the store. It reads a PRUNED
    (id, sigs) store scan (the vector column must not ride the band
    explode), explodes map-side, and receives the batch's band triples
    by BROADCAST — no Exchange between that scan and its join; the
    exact verify reads a pruned (id, vector) scan of the same store.
    The (band, sig)-bucketed pre-exploded index this test originally
    pinned was measured at 1.7 GB of dedup shuffle (vs 45 MB) and
    rejected (SCALING.md)."""
    from spaceparts_data_pipeline_spark.operators import dedup, similarity

    e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    b1 = e.filter("vec_id % 2 = 0")
    _, rows1 = similarity.incremental_semdedup(b1, None)
    path = str(tmp_path / "sem_store")
    rows1.write.mode("append").parquet(path)
    store = dedup.read_store(spark, path)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        adm, _ = similarity.incremental_semdedup(
            e.filter("vec_id % 2 = 1"), store)
        plan = adm._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    lines = plan.splitlines()
    # the plan reads two sources, and the batch's is embeddings.parquet
    # (the store's Location may be abbreviated past recognition)
    scans = [i for i, l in enumerate(lines)
             if "Scan parquet" in l and "embeddings.parquet" not in l]
    assert len(scans) >= 2, plan                   # band scan + verify scan
    band_scans = [i for i in scans if "sigs" in lines[i]
                  and "embedding" not in lines[i].split("ReadSchema")[-1]]
    vec_scans = [i for i in scans if "embedding" in
                 lines[i].split("ReadSchema")[-1]]
    assert band_scans, plan          # pruned (id, sigs) scan exists
    assert vec_scans, plan           # pruned (id, vector) scan exists
    def depth(line):
        # the column of the operator name, past the tree-drawing prefix
        return len(line) - len(line.lstrip(" :+-"))

    for i in band_scans:
        # walk upward through this scan's operator chain: the nearest
        # enclosing join must arrive with no Exchange in between
        dep = depth(lines[i])
        j = i - 1
        while j >= 0:
            d = depth(lines[j])
            if d < dep:
                if "Exchange" in lines[j]:
                    raise AssertionError(
                        f"store-side Exchange above store scan:\n{lines[j]}")
                if "Join" in lines[j]:
                    break
                dep = d
            j -= 1


def _llm_plan(spark, name, sf_dir):
    from spaceparts_data_pipeline_spark.queries import llm

    df = llm.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_x40_chunking_is_zero_exchange_scan_rate(spark, sf_oracle):
    """Sliding-window chunking must stay a pure Generate over the scan:
    0 exchanges, the text filter pushed into the parquet scan."""
    plan = _llm_plan(spark, "x40_doc_chunking", sf_oracle)
    assert "Exchange" not in plan
    assert "Generate" in plan and "FileScan parquet" in plan
    assert "DataFilters: [isnotnull(text" in plan


def test_d27_line_dedup_two_linear_exchanges_on_hash_keys(spark, sf_oracle):
    """Corpus-wide line dedup: exactly its two linear exchanges — the
    canonical-occurrence window keyed by md5(line) (16-byte keys, never
    full line text) and the doc-keyed rebuild agg with a map-side
    partial pass."""
    plan = _llm_plan(spark, "d27_line_dedup_global", sf_oracle)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "md5(" in plan                      # window keyed by the hash
    assert "partial_count" in plan             # rebuild agg combines map-side
    # the window's exchange key must be the md5, not the raw line
    win_exchange = [l for l in plan.splitlines()
                    if "Exchange hashpartitioning(_w" in l or
                       ("Exchange hashpartitioning" in l and "md5" in l)]
    assert win_exchange, "canonical-occurrence exchange not keyed by a projected hash"


def test_x41_epoch_upsample_is_zero_exchange(spark, sf_oracle):
    """The epoch table compiles to when-chain literals: no join, no
    exchange — one Generate over the scan."""
    plan = _llm_plan(spark, "x41_epoch_upsample", sf_oracle)
    assert "Exchange" not in plan
    assert "Generate" in plan
    assert "Join" not in plan


def test_q25_scd2_single_exchange_reused_by_all_windows(spark, sf_oracle):
    """SCD2: the change-flag window, the validity lead, and the version
    row_number all ride ONE (key, order) exchange."""
    from spaceparts_data_pipeline_spark.queries import core as core_q

    df = core_q.QUERIES["q25_scd2_history"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") >= 2


def test_d07b_det_minhash_buckets_not_shingles_in_exchange(spark, sf_oracle):
    """The det MinHash pair join must exchange band buckets (md5
    strings), never shingle text: the only hashpartitioning keys are
    (band, bucket) and the id-pair agg."""
    plan = _llm_plan(spark, "d07b_minhash_lsh_det", sf_oracle)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "shingle" not in line and "__sh" not in line and "text" not in line
    # signature construction is map-side: no exchange before the band explode
    assert "Generate explode" in plan or "Generate posexplode" in plan


def test_scale_share_auto_flips_on_multifile_layout(spark, sf_oracle, tmp_path):
    """The scale-gated subtree shares that lose on a 1-2-split
    single-file scan flip ON once the input scan has >= 1 splittable
    unit per core (the measured crossover, SCALING.md "share
    crossover"). Same data written single-file vs one-file-per-core x2:
    the d23/d24 gram-kernel cuts and e06's codebook/centroid shares
    appear as RDD leaves only on the multi-file layout; e06b's
    intermediates are shared at both; rows are identical across the
    layouts (sorted lists: multiplicity drift must fail)."""
    import os

    from spaceparts_data_pipeline_spark.operators.lineage import scale_share
    from spaceparts_data_pipeline_spark.queries import llm

    cores = spark.sparkContext.defaultParallelism
    mf_dir = tmp_path / "sf_multifile"
    mf_dir.mkdir()
    for name in ("documents", "embeddings"):
        src = spark.read.parquet(os.path.join(sf_oracle, f"{name}.parquet"))
        src.repartition(cores * 2).write.parquet(str(mf_dir / f"{name}.parquet"))

    docs = spark.read.parquet(os.path.join(sf_oracle, "documents.parquet"))
    docs_mf = spark.read.parquet(str(mf_dir / "documents.parquet"))
    assert scale_share(docs) is False           # single file, many cores
    assert scale_share(docs_mf) is True         # >= 1 file per core

    def run(name, sf_dir):
        df = llm.QUERIES[name](spark, sf_dir)
        return (df._jdf.queryExecution().executedPlan().toString(),
                sorted(map(tuple, df.collect())))

    for name in ("d23_charlm_quality", "d24_dsir_importance",
                 "e06_knn_ivf_pq", "e06b_knn_ivf_pq_residual"):
        p_single, r_single = run(name, sf_oracle)
        p_multi, r_multi = run(name, str(mf_dir))
        shared_single = name == "e06b_knn_ivf_pq_residual"
        assert ("Scan ExistingRDD" in p_single) is shared_single, name
        assert "Scan ExistingRDD" in p_multi, name   # shares at scale
        if shared_single:                            # every corpus pass behind the cuts
            assert "Scan parquet" not in p_single and "Scan parquet" not in p_multi
        assert r_multi == r_single, name


def test_scale_share_reads_footers_under_escaped_paths(spark, tmp_path):
    """Below one file per core the signal counts parquet row groups
    from the footers. inputFiles() returns URIs, so a directory name
    with a space arrives as %20 and must be decoded before the footer
    is opened: one file with >= defaultParallelism row groups shares."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spaceparts_data_pipeline_spark.operators.lineage import scale_share

    cores = spark.sparkContext.defaultParallelism
    d = tmp_path / "dir with space"
    d.mkdir()
    pq.write_table(pa.table({"x": list(range(cores * 10))}),
                   str(d / "part.parquet"), row_group_size=10)
    df = spark.read.parquet(str(d))
    assert len(df.inputFiles()) == 1
    assert scale_share(df) is True


def test_share_once_reliable_routes_through_checkpoint_dir(spark, tmp_path):
    """_share_once(reliable=True) (r16 verdict next-round #7): the
    shared intermediate goes through the SparkContext checkpoint dir —
    recoverable on executor loss — instead of executor-local blocks;
    values and the leaf-cut property are unchanged."""
    from spaceparts_data_pipeline_spark.operators.similarity import _share_once

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    df = spark.range(10).selectExpr("id", "id * id AS sq")
    local = _share_once(df)
    rel = _share_once(df, reliable=True)
    want = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, rel.collect())) == want
    assert sorted(map(tuple, local.collect())) == want
    # both cut the plan to a leaf
    for cut in (local, rel):
        assert "Scan ExistingRDD" in \
            cut._jdf.queryExecution().executedPlan().toString()
    # the reliable variant wrote through the checkpoint dir
    import os

    assert any(os.scandir(str(tmp_path / "ckpt")))
