"""The composed training-corpus ingestion pipeline — every corpus
operator this engine ships, chained the way a production ingest runs
them. One call per arriving batch (a crawl dump, a landing drop):

    quality gate → PII redaction → cross-run EXACT dedup (fingerprint
    store) → cross-run NEAR-dup dedup (MinHash band store) →
    benchmark-contamination screen → corpus write + store updates +
    sequence-packing manifest

Stage order is cost-ordered: the cheap codegen gates (quality, redact)
run first over the full batch; each dedup stage shrinks the set the
next (more expensive) stage sees; contamination — the only stage that
touches a second dataset — sees only final candidates.

Exactness and replay: the corpus is committed by
:func:`operators.dedup.land_partition` into a per-run partition, and
every store append derives from the rows it returns, so a re-run after
a crash at any point, a partial store append included, rewrites its own
partition only and keeps every durable doc. The screen stores are
append-only with DISTINCT screen semantics, so duplicate appends change
no decision.

Scale shape: text is never a shuffle key anywhere in the chain — the
quality/redaction stages are pure projections, both dedup screens move
16-byte hashes or (band, bucket) longs, contamination moves distinct
md5(shingle) with the benchmark side broadcast, and packing is one
running-sum window per shard.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.operators import dedup, dedup_fuzzy, text


def run_corpus_ingest(
    spark: SparkSession,
    batch: DataFrame,
    out_dir: str,
    run_id: str,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "source",
    quality_gate: bool = True,
    quality_rules: str = "basic",
    blocklist_terms: tuple[str, ...] | None = None,
    charlm_ref: DataFrame | None = None,
    charlm_max_nll: float | None = None,
    dsir_target: DataFrame | None = None,
    dsir_min_logw: float | None = None,
    dsir_keep_frac: float = 0.5,
    token_budget: int | None = None,
    token_budgets: dict[str, int] | None = None,
    near_dedup: bool = True,
    semdedup_embeddings: DataFrame | None = None,
    semdedup_threshold: float = 0.35,
    semdedup_dim: int = 64,
    semdedup_n_planes: int = 4,
    semdedup_n_bands: int = 16,
    semdedup_vec_id_col: str = "vec_id",
    semdedup_vec_col: str = "embedding",
    contamination_threshold: int = 1,
    pack_capacity: int = 512,
    num_perm: int = 16,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.5,
    compact_files_threshold: int | None = 64,
    shuffle_seed: str | None = None,
    shuffle_shards: int = 8,
) -> dict:
    """Ingest one batch; returns per-stage counts (the funnel). Output
    layout under ``out_dir``::

        corpus/run_id=<run_id>/   admitted docs (redacted text)
        manifest/run_id=<run_id>/ sequence-packing placements
        fp_store/                 md5 fingerprint store (append-only)
        band_store/               MinHash band store (append-only)
        sem_store/                vector store (append-only, semdedup only)

    ``near_dedup=False`` skips the LSH stage (and its band store) for
    exact-only ingestion — cheaper, fully deterministic, and the shape
    the driver-oracle funnel query (c01) checks end-to-end.

    ``compact_files_threshold``: after the store appends, each store
    whose data-file count exceeds the threshold is distinct-rewritten
    in place by :func:`operators.dedup.compact_store` — append-only
    stores otherwise grow one file set per run forever (the reference
    runs its OPTIMIZE maintenance on every load). Compaction never
    changes admit/reject decisions, not even when it crashes: the
    screens read DISTINCT rows. ``None`` disables.

    ``quality_rules`` selects the gate ``quality_gate=True`` applies —
    the three rule modes are single-projection, shuffle-free, JVM-side
    gates; the model mode pays one doc-level exchange:

    - ``'basic'``: token-count band + stopword presence
      (:func:`operators.text.with_quality_score`, the c01-pinned gate);
    - ``'gopher'``: the seven published Gopher rules
      (:func:`operators.text.gopher_gate`, profiled by d17);
    - ``'c4'``: C4 line/document cleanup (d18) — a TRANSFORMATION:
      surviving docs continue with the CLEANED text (kept lines
      rejoined), so everything downstream — redaction, fingerprints,
      MinHash bands, packing — sees what training would see.
    - ``'charlm'``: the model-based gate (d23's
      :func:`operators.text.charlm_nll` as a funnel stage) — keep docs
      whose avg char-bigram NLL under a Laplace LM trained on
      ``charlm_ref`` (REQUIRED: an in-distribution reference corpus) is
      ``<= charlm_max_nll``; zero-gram docs are unscorable and
      rejected. The model broadcasts (vocab²-bounded); the doc grams
      partial-combine through one (doc, gram-type) exchange + a
      doc-level semi join.
      ``charlm_max_nll=None`` (the default) SELF-CALIBRATES: the
      threshold becomes the median of the ref slice's own avg-NLL
      distribution (:func:`operators.text.charlm_calibrate`) — a fixed
      constant cannot transfer across corpora or scales (the scale
      harness measured 1.797 at 1× vs 2.687 at 8× for the same keep
      behavior), so self-calibration is the production default; pass a
      float to pin it. The resolved value is reported in
      ``stats['charlm_max_nll']``.
    - ``'charlm+dsir'``: the full selection triad (c02's recipe as
      funnel stages) — the charlm gate above AND the DSIR
      distribution-matching gate (d24's
      :func:`operators.text.dsir_importance`): keep docs whose
      ``avg_logw`` against ``dsir_target`` (defaults to ``charlm_ref``)
      is ``>= dsir_min_logw``. ``dsir_min_logw=None`` (default)
      self-calibrates to keep the most-target-like ``dsir_keep_frac``
      of THIS batch's scorable docs
      (:func:`operators.text.dsir_calibrate`); resolved value in
      ``stats['dsir_min_logw']``. Combine with ``token_budget`` for
      the budget-capped triad.

    ``token_budget`` / ``token_budgets``: when set, a per-source
    token-budget cap (x35's two-phase
    :func:`operators.text.token_budget_mix`) runs over the ADMITTED
    set — after both dedup screens and the contamination check, so
    removed duplicates and contaminated docs never consume budget
    (c02, the standalone selection query, caps straight after its
    gates; the funnel's ordering is the ingest-correct one). Requires
    a numeric ``id_col``. Stage counts land in ``stats['after_budget']``.

    ``blocklist_terms``: the c4 mode's blocked-term list (real C4 used
    a public profanity list). Defaults to the neutral demo
    ``operators.text.DEFAULT_BLOCKLIST`` — production ingests pass
    their own via this parameter / the CLI ``--blocklist-term`` flag,
    since the demo marketing phrases would otherwise silently drop
    legitimate docs. Terms match literally (regex metacharacters are
    escaped). Ignored outside c4 mode.

    ``shuffle_seed``: when set, the packing manifest is built in the
    DETERMINISTIC SHUFFLED training order of :func:`operators.text.
    corpus_shuffle` (md5(seed:id) → (shard, position)) instead of
    (source, id) order — adjacent training sequences then mix sources
    instead of replaying one source's documents back to back. The
    manifest keeps the original ``id_col`` as a passthrough column;
    change the seed per epoch for an independent order.

    ``semdedup_embeddings``: when given (an embeddings frame whose
    ``semdedup_vec_id_col`` values are this corpus's ``id_col`` values),
    a cross-run SEMANTIC dedup screen (d26,
    :func:`operators.similarity.incremental_semdedup`) runs after the
    near-dup stage: a doc is rejected when its embedding has cosine ≥
    ``semdedup_threshold`` against a LOWER-id doc of the same batch or
    anything a prior run admitted — candidates from the deterministic
    banded LSH, every rejection verified with the exact cosine. The
    vector store is one ``(id, vector, sigs)`` row per admitted vector
    under ``sem_store/``, beside the other screen stores; the screen's
    band join reads it exchange-free (map-side signature explode,
    broadcast batch bands). Docs WITHOUT an embedding row pass the
    screen (no evidence, no rejection). Same crash ordering as the
    other stores: appends derive from the durable corpus, after it
    lands.
    """
    fp_store_path = os.path.join(out_dir, "fp_store")
    band_store_path = os.path.join(out_dir, "band_store")
    sem_store_path = os.path.join(out_dir, "sem_store")
    # Per-stage wall clock rides along as float "sec_<stage>" keys (the
    # persist+count at each stage boundary materializes that stage, so
    # the deltas are honest stage costs — SCALING.md's funnel table
    # reads them directly). Integer keys remain the funnel counts.
    _t = time.perf_counter()

    def _tick() -> float:
        nonlocal _t
        now = time.perf_counter()
        sec, _t = now - _t, now
        return round(sec, 3)

    stats: dict[str, float] = {"input": batch.count()}
    stats["sec_input"] = _tick()
    persisted: list = []
    # the finally-unpersist must cover the WHOLE funnel, not just the
    # output stage: a mid-funnel raise (numeric-id validation, a
    # read_store transient fault) after the early persists would
    # otherwise leak cache blocks into the long-lived session — found
    # by the r15 cache-emptiness pin leaking across test sessions
    try:

        # 1-2. quality gate + redaction: pure projections, one pass
        staged = batch
        if quality_gate:
            if quality_rules == "basic":
                staged = text.with_quality_score(staged, text_col).filter("is_quality")
                staged = staged.select(*batch.columns)
            elif quality_rules == "gopher":
                staged = staged.filter(text.gopher_gate(text_col))
            elif quality_rules == "c4":
                # full C4 §2.2 chain: line gate + document gates + the
                # blocked-term stage (list-parameterized via blocklist_terms;
                # DEFAULT_BLOCKLIST is the neutral demo fallback)
                terms = blocklist_terms if blocklist_terms else text.DEFAULT_BLOCKLIST
                kept = text.c4_kept_lines(text_col)
                staged = (
                    staged.filter(text.c4_doc_ok(text_col) & (F.size(kept) >= 3)
                                  & ~text.blocked_expr(text_col, terms=tuple(terms)))
                    .withColumn(text_col, F.array_join(kept, "\n"))
                )
            elif quality_rules in ("charlm", "charlm+dsir"):
                # model-based gate (d23's charlm_nll as a funnel stage):
                # keep docs whose avg char-bigram NLL under a model trained
                # on charlm_ref is <= charlm_max_nll. Unlike the rule gates
                # this is NOT shuffle-free — the doc grams partial-combine
                # through one (doc, gram-type) exchange, the model itself is
                # vocab²-bounded and broadcasts. Zero-gram docs (NULL/short
                # text) are UNSCORABLE and rejected; the threshold
                # self-calibrates to the ref slice's median avg-NLL unless
                # pinned (see docstring — fixed constants don't transfer).
                if charlm_ref is None:
                    raise ValueError(f"quality_rules={quality_rules!r} needs charlm_ref")
                if charlm_max_nll is None:
                    charlm_max_nll = text.charlm_calibrate(charlm_ref,
                                                           text_col=text_col)
                stats["charlm_max_nll"] = round(charlm_max_nll, 6)
                scored = text.charlm_nll(staged.select(id_col, text_col),
                                         charlm_ref, id_col=id_col,
                                         text_col=text_col)
                ok = scored.filter((F.col("n_grams") > 0)
                                   & (F.col("avg_nll") <= charlm_max_nll))
                if quality_rules == "charlm+dsir":
                    # DSIR distribution-matching gate (d24's body), ANDed
                    # with the charlm gate — c02's selection triad as
                    # funnel stages. Threshold self-calibrates to keep the
                    # most-target-like dsir_keep_frac of this batch's
                    # scorable docs unless pinned.
                    tgt = dsir_target if dsir_target is not None else charlm_ref
                    if dsir_min_logw is None:
                        dsir_min_logw = text.dsir_calibrate(
                            staged.select(text_col), tgt,
                            keep_frac=dsir_keep_frac, text_col=text_col)
                    stats["dsir_min_logw"] = round(dsir_min_logw, 6)
                    dscored = text.dsir_importance(
                        staged.select(id_col, text_col), tgt,
                        id_col=id_col, text_col=text_col)
                    dok = dscored.filter((F.col("n_feats") > 0)
                                         & (F.col("avg_logw") >= dsir_min_logw))
                    ok = ok.select(id_col).join(dok.select(id_col), id_col)
                staged = staged.join(ok.select(id_col), id_col, "left_semi")
            else:
                raise ValueError(f"unknown quality_rules: {quality_rules!r}")
        staged = staged.withColumn(text_col, text.redact_pii(text_col))
        if quality_gate and quality_rules in ("charlm", "charlm+dsir"):
            # the model gates nest corpus-scale aggregate subtrees (the LM
            # model / DSIR ratio chains) inside staged's logical plan;
            # every downstream stage frame inherits that tree, and
            # CacheManager's cascade walk at unpersist time re-canonicalizes
            # those trees against every cached entry — measured ~30 s of
            # pure DRIVER time per batch (probe: 4 frames × 1-12 s each).
            # stage_cut materializes the same data (it persists the RDD)
            # AND cuts the logical lineage to a leaf, so downstream plans
            # stay small and their cache ops stay milliseconds; replay
            # safety is unchanged (the funnel is idempotent per batch, so
            # losing checkpoint blocks means re-running the batch, not
            # corruption). The blocks are released by the ContextCleaner
            # once the frame goes out of scope.
            from spaceparts_data_pipeline_spark.operators.lineage import stage_cut

            staged = stage_cut(staged)
        else:
            staged = staged.persist()
            persisted.append(staged)
        stats["after_quality"] = staged.count()
        stats["sec_quality_redact"] = _tick()

        # 3. cross-run exact dedup on redacted text (redaction first, so two
        # docs differing only in a phone number dedup as the same doc).
        # read_store raises on any failure other than "never created" —
        # a transient fault must NOT read as an empty screen (it would
        # re-admit every duplicate).
        fp_store = dedup.read_store(spark, fp_store_path)
        exact_ids = dedup.incremental_dedup(staged, fp_store,
                                            id_col=id_col, text_col=text_col)
        exact_survivors = staged.join(exact_ids.select(id_col), id_col, "left_semi")
        exact_survivors = exact_survivors.persist()
        persisted.append(exact_survivors)
        stats["after_exact_dedup"] = exact_survivors.count()
        stats["sec_exact_dedup"] = _tick()

        # 4. cross-run near-dup dedup (within-batch LSH + band-store screen)
        if near_dedup:
            band_store = dedup.read_store(spark, band_store_path)
            # bands are recomputed from the durable corpus in step 6, so
            # the band half of the return is unused here
            admitted, _ = dedup_fuzzy.incremental_near_dedup(
                exact_survivors, band_store, id_col=id_col, text_col=text_col,
                num_perm=num_perm, rows_per_band=rows_per_band,
                threshold=jaccard_threshold,
            )
            admitted = admitted.persist()
            persisted.append(admitted)
            stats["after_near_dedup"] = admitted.count()
            stats["sec_near_dedup"] = _tick()
        else:
            admitted = exact_survivors

        # 4b. cross-run SEMANTIC dedup (d26): within-batch det-LSH min-id
        # survivors + vector-store screen, every rejection exact-cosine
        # verified. Runs on the NARROW (id, embedding) frame — document
        # text never rides the vector machinery — and only the rejected
        # ids come back. Docs without an embedding row pass through.
        if semdedup_embeddings is not None:
            from pyspark.sql.types import NumericType

            from spaceparts_data_pipeline_spark.operators import similarity

            if not isinstance(admitted.schema[id_col].dataType, NumericType):
                raise ValueError(
                    "semdedup_embeddings needs a numeric id_col — the screen's "
                    "min-id survivor decision and its Arrow kernels key on long "
                    f"ids (got {admitted.schema[id_col].dataType.simpleString()!r})")
            sem_store = dedup.read_store(spark, sem_store_path)
            bvecs = semdedup_embeddings.select(
                F.col(semdedup_vec_id_col), F.col(semdedup_vec_col),
            ).join(admitted.select(F.col(id_col).alias(semdedup_vec_id_col)),
                   semdedup_vec_id_col, "left_semi")
            adm_vecs, _ = similarity.incremental_semdedup(
                bvecs, sem_store, id_col=semdedup_vec_id_col,
                vec_col=semdedup_vec_col, dim=semdedup_dim,
                n_planes=semdedup_n_planes, n_bands=semdedup_n_bands,
                threshold=semdedup_threshold)
            sem_dup_ids = bvecs.select(semdedup_vec_id_col).join(
                adm_vecs.select(semdedup_vec_id_col), semdedup_vec_id_col,
                "left_anti")
            admitted = admitted.join(
                sem_dup_ids.withColumnRenamed(semdedup_vec_id_col, id_col),
                id_col, "left_anti").persist()
            persisted.append(admitted)
            stats["after_semdedup"] = admitted.count()
            stats["sec_semdedup"] = _tick()

        # 5. contamination screen (only if a benchmark is registered).
        # sec_contamination only exists when the screen actually RAN —
        # otherwise the admitted.count() materialization below would be
        # attributed to a stage that never executed (it lands in the
        # always-present sec_admitted_count instead).
        if benchmark is not None:
            flags = dedup_fuzzy.contamination_check(
                admitted, benchmark, id_col=id_col, text_col=text_col)
            clean_ids = flags.filter(
                F.col("n_shared_shingles") < contamination_threshold
            ).select(id_col)
            admitted = admitted.join(clean_ids, id_col, "left_semi").persist()
            persisted.append(admitted)
            stats["admitted"] = admitted.count()
            stats["sec_contamination"] = _tick()
        else:
            stats["admitted"] = admitted.count()
            stats["sec_admitted_count"] = _tick()

        # 5b. per-source token-budget cap (x35's two-phase token_budget_mix)
        # over the ADMITTED set — after the screens, so duplicates and
        # contaminated docs never consume budget. The selection frame is
        # narrow (id, source, token counts); only doc ids come back.
        if token_budget is not None:
            from pyspark.sql.types import NumericType
            if not isinstance(admitted.schema[id_col].dataType, NumericType):
                raise ValueError(
                    "token_budget needs a numeric, totally-ordered id_col "
                    f"(got {admitted.schema[id_col].dataType.simpleString()!r})")
            sel = text.token_budget_mix(
                admitted, default_budget=token_budget, budgets=token_budgets,
                shard_col=shard_col, id_col=id_col, text_col=text_col)
            admitted = admitted.join(sel.select(id_col), id_col, "left_semi").persist()
            persisted.append(admitted)
            stats["after_budget"] = admitted.count()
            stats["sec_budget"] = _tick()

        # 6. durable outputs FIRST, store updates after: land_partition
        # commits the run's corpus partition (replay-safe under a partial
        # store append) and every append below derives from what landed
        durable = dedup.land_partition(
            admitted, os.path.join(out_dir, "corpus"), {"run_id": run_id}, id_col)
        if durable is None:
            return stats
        if shuffle_seed is not None:
            order = text.corpus_shuffle(
                durable, shuffle_seed, n_shards=shuffle_shards, id_col=id_col)
            manifest = text.sequence_packing(
                durable.join(order, id_col),
                capacity=pack_capacity, shard_col="shard",
                id_col="position", text_col=text_col,
                keep_cols=(id_col,),
            )
        else:
            manifest = text.sequence_packing(
                durable, capacity=pack_capacity,
                shard_col=shard_col, id_col=id_col, text_col=text_col,
            )
        manifest.withColumn("run_id", F.lit(run_id)).write.mode(
            "overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
            "run_id").parquet(os.path.join(out_dir, "manifest"))
        stats["sec_write_pack"] = _tick()

        durable.select(F.md5(text_col).alias("fingerprint")).write.mode(
            "append").parquet(fp_store_path)
        store_paths = [fp_store_path]
        if near_dedup:
            dedup_fuzzy.band_table(
                durable, id_col=id_col, text_col=text_col,
                num_perm=num_perm, rows_per_band=rows_per_band,
            ).write.mode("append").parquet(band_store_path)
            store_paths.append(band_store_path)
        if semdedup_embeddings is not None:
            # derive from the DURABLE corpus like the other stores —
            # one signature pass over the admitted ids' embeddings
            from spaceparts_data_pipeline_spark.operators import similarity

            dvecs = semdedup_embeddings.select(
                F.col(semdedup_vec_id_col), F.col(semdedup_vec_col),
            ).join(durable.select(F.col(id_col).alias(semdedup_vec_id_col)),
                   semdedup_vec_id_col, "left_semi")
            similarity.det_lsh_signatures(
                dvecs, id_col=semdedup_vec_id_col,
                vec_col=semdedup_vec_col, dim=semdedup_dim,
                n_planes=semdedup_n_planes, n_bands=semdedup_n_bands,
            ).write.mode("append").parquet(sem_store_path)
            store_paths.append(sem_store_path)
        stats["sec_store_append"] = _tick()
        # 7. store maintenance: append-only stores grow a file set per
        # run; compact past the file-count threshold (decisions are
        # invariant — the screens read DISTINCT rows)
        if compact_files_threshold is not None:
            for sp in store_paths:
                c = dedup.maybe_compact_store(spark, sp, compact_files_threshold)
                if c is not None:
                    stats[f"compacted_{os.path.basename(sp)}"] = c["rows_after"]
            stats["sec_compact"] = _tick()
    finally:
        for df in persisted:
            df.unpersist()
        stats["sec_unpersist"] = _tick()
    return stats


def run_substring_dedup_pass(
    spark: SparkSession,
    out_dir: str,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 1,
    skew_safe: bool = False,
) -> dict:
    """Corpus-WIDE exact-substring dedup (d22, Lee et al. 2021) over the
    assembled corpus under ``out_dir`` — duplicated word-``k``-gram
    passages are cut from every document across ALL runs, and the
    cleaned corpus lands under ``corpus_clean/`` (same run_id
    partitioning; docs whose cleaned text drops below ``min_tokens``
    tokens are removed entirely).

    DELIBERATELY a separate pass, not a ``run_corpus_ingest`` stage:
    a document's cut spans depend on every OTHER document's grams, so
    per-batch cutting would make the admitted text — and therefore the
    md5 fingerprints the cross-run stores screen on — depend on batch
    composition: the same raw document arriving in two different
    batches would fingerprint differently and silently bypass the
    exact screen. The published pipeline has the same order (assemble
    the deduplicated corpus, then cut duplicated substrings globally),
    and the stores stay bound to the text the screens actually saw.
    Scale shape is d22's: one gram-scale md5 window (or the
    ``skew_safe=True`` groupBy-count route for zipfian corpora — see
    :func:`..operators.text.substring_dedup`); rerunning the pass
    overwrites ``corpus_clean/`` idempotently.

    Identity: the dedup and the join back key on the composite
    ``(run_id, doc_id)`` (see :func:`_corpus_wide_pass`), so two runs
    admitting different docs under one doc_id keep independent cut
    spans.
    """
    def rebuild(corpus: DataFrame) -> DataFrame:
        cleaned = text.substring_dedup(
            corpus, id_col="__uid", text_col=text_col, k=k, skew_safe=skew_safe)
        return (
            corpus.drop(text_col)
            .join(cleaned.withColumnRenamed("clean_text", text_col), "__uid")
            .filter((F.col("n_tokens") - F.col("n_removed_tokens")) >= min_tokens)
        )

    return _corpus_wide_pass(spark, out_dir, "corpus_clean", id_col, rebuild,
                             "tokens_removed", F.col("n_removed_tokens"))


def run_line_dedup_pass(
    spark: SparkSession,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Corpus-WIDE line-level dedup with document reconstruction (d27,
    C4's keep-one-occurrence rule) over the assembled corpus under
    ``out_dir``: a non-empty line survives iff it is the canonical
    (lexicographically-first ``(run_id\\x01doc_id, pos)``) occurrence of
    its exact text anywhere in the corpus; documents are rebuilt from
    surviving lines in order and docs whose lines all lose are removed.
    The cleaned corpus lands under ``corpus_lines_clean/`` (same run_id
    partitioning; rerunning overwrites idempotently).

    A separate pass for exactly :func:`run_substring_dedup_pass`'s
    reason: a line's survival depends on every OTHER document's lines,
    so per-batch cutting would make admitted text batch-dependent and
    bypass the cross-run fingerprint screens. Scale shape is d27's:
    one md5(line)-keyed window (16-byte exchange keys, line text never
    shuffles raw) + one doc-keyed rebuild agg, both linear (8.95×
    shuffle at 8× data — SCALING.md round 13).
    """
    def rebuild(corpus: DataFrame) -> DataFrame:
        rebuilt = text.global_line_dedup(corpus, id_col="__uid", text_col=text_col)
        # inner join: docs whose lines all lost drop out
        return corpus.drop(text_col).join(
            rebuilt.withColumnRenamed("text_dedup", text_col), "__uid")

    return _corpus_wide_pass(spark, out_dir, "corpus_lines_clean", id_col, rebuild,
                             "lines_removed", F.col("n_lines") - F.col("n_kept"))


def _corpus_wide_pass(spark: SparkSession, out_dir: str, name: str, id_col: str,
                      rebuild, removed_key: str, removed) -> dict:
    """The body both corpus-wide passes share: read every run's corpus
    under ``out_dir`` with a composite ``__uid`` key, ``rebuild`` it,
    overwrite ``out_dir/<name>`` partitioned by run_id, and read back
    ``{input, kept, <removed_key>: sum(removed), out}``.

    ``doc_id`` is unique only WITHIN a run (the cross-run screens
    dedupe by text fingerprint, not id), so the rebuild keys on
    ``(run_id, doc_id)``: two runs admitting different docs under one
    doc_id stay two documents, and the join back can never fan out."""
    corpus_root = os.path.join(out_dir, "corpus")
    clean_root = os.path.join(out_dir, name)
    if not dedup.has_data_files(spark, corpus_root):
        return {"input": 0, "kept": 0, removed_key: 0, "out": clean_root}
    # \x01 separator: absent from run_id/doc_id content, so the
    # composite key cannot collide across (run, doc) pairs
    corpus = spark.read.parquet(corpus_root).withColumn(
        "__uid", F.concat_ws("\x01", F.col("run_id"), F.col(id_col)))
    n_input = corpus.count()
    rebuild(corpus).drop("__uid").write.mode("overwrite").partitionBy(
        "run_id").parquet(clean_root)
    if not dedup.has_data_files(spark, clean_root):
        # the rebuild can drop every row (every text empty, or every doc
        # below the pass's keep rule); a data-file-less directory cannot
        # be read back for stats
        return {"input": n_input, "kept": 0, removed_key: 0, "out": clean_root}
    stats_row = spark.read.parquet(clean_root).agg(
        F.count(F.lit(1)).alias("kept"),
        F.coalesce(F.sum(removed), F.lit(0)).alias(removed_key),
    ).collect()[0]
    return {"input": n_input, "kept": stats_row["kept"],
            removed_key: stats_row[removed_key], "out": clean_root}
