#!/usr/bin/env python
"""Measured scale-up harness (SCALING.md's data source).

Synthesizes a 1x and an Nx (default 8x) copy of the scale-relevant
tables from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), both
written as 32 parquet files per table — the realistic multi-file layout
a production lake has — then runs the scale-path operators at both
sizes and records wall time, shuffle read/write bytes, and output rows
per op. Shuffle bytes come from the Spark status REST API (the same
numbers the Spark UI shows), so the scaling table in SCALING.md is a
measurement, not a shape argument.

Shard synthesis is designed so each op's WORK scales with data honestly:

- lineitem / orders / events: key-shifted unions (8x rows, 8x keys —
  per-key group sizes constant, as real growth behaves).
- documents: per-shard alphabet rotation via ``translate`` — shards are
  DISJOINT in shingle space, so the near-dup pair structure is exactly
  N copies of the 1x structure (appending a tag would instead make
  every doc a cross-shard near-dup of its 7 twins and measure the
  fixture, not the operator).
- embeddings: per-shard deterministic SIGN mask (orthogonal diagonal
  ±1 transform) — within-shard cosines are preserved EXACTLY, while
  cross-shard cosines collapse to ~0 (random-sign inner products), so
  the similar-pair structure is N copies of the 1x structure. A small
  multiplicative jitter instead leaves every vector a ~0.999-cosine
  twin of its 7 shard copies and the pair count explodes superlinearly
  (measured: e03 159 -> 931 pairs at 2x) — that measures the fixture,
  not the operator.

Usage:  python scale_harness.py [--factor 8] [--skip-build]
Prints one JSON line per (op, scale) plus a final markdown table.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_FILES = 32
ID_STRIDE = 10_000_000          # divisible by 20: doc_id%20 splits survive
KEY_STRIDE = 1_000_000_000
ALPHA = "abcdefghijklmnopqrstuvwxyz"

#: the five LLM-ops scale paths (round-5 verdict #1) + the relational
#: trio already measured in round 5, re-run for continuity.
OPS = [
    "q01_pricing_summary",
    "q05_dedup_latest_events",
    "p01_silver_events_pipeline",
    "d07_minhash_lsh_pairs",
    "d13_canonical_corpus",
    "d14_canonical_corpus_lsh",
    "x29_contamination_check",
    "e03_similar_pairs_lsh",
    "e04_knn_ivf",
    # round-6 late additions: cross-run dedup (fingerprint anti join),
    # bigram heavy hitters, cross-run near-dup (band-store screen)
    "d15_incremental_dedup",
    "x31_bigram_topk",
    "x31b_bigram_topk_twopass",
    "d16_incremental_near_dedup",
    # round-7 tail (round-6 verdict #6): the last LLM ops without an 8x
    # row — the pinned high-recall LSH profile, the Lloyd-refined IVF,
    # and the multimodal binary-bytes path. e03b's ≥0.9 recall floor is
    # re-asserted at 8x by --recall-e03b (shard construction makes the
    # 8x ground truth exactly 8 shifted copies of the 1x brute-force
    # truth — see recall_e03b's docstring).
    "e03b_similar_pairs_lsh_recall",
    "e04b_knn_ivf_refined",
    "m01_binary_bytes",
    # round-7 ops: the Gopher rule set (regex-heavy but scan-bound —
    # zero shuffle expected) and the duplicated-passage profile (every
    # word-5-gram leaves the row as an md5 hash — the heaviest linear
    # shuffle in the text family; the measurement to watch)
    "d17_gopher_quality",
    "d19_duplicate_passages",
    # round-9: the substring REMOVAL on d19's gram window — must ride
    # the same single gram-scale exchange (target ratio <= d19's)
    "d22_substring_dedup",
    # training-shaping pair: per-source budget window, per-shard
    # epoch-shuffle rank window — both one-exchange window plans
    "x35_token_budget_mix",
    "x36_corpus_shuffle",
    "d21_line_repetition",
    # round-10 selection signals: both are explode → map-side partial
    # combine → broadcast-model join → doc agg, so the expected 8x
    # shape is linear shuffle with no gram-scale window (no skewable
    # key: the only full-corpus group key is doc_id)
    "d23_charlm_quality",
    "d24_dsir_importance",
    # round-11: BPE merge training — ONE corpus-scale pass builds the
    # distinct-word table, then K rounds run vocab-bounded (pair agg +
    # 1-row argmax + fold merge), so the expected Nx shape is the
    # initial word-count exchange scaling ~linearly and the per-round
    # cost scaling with the word VOCABULARY (sublinear), not the corpus
    "x37_bpe_merges",
    # round-11: IVF-PQ — codebooks/LUT broadcast, encode collapses its
    # x k_pq fan-out map-side, scoring explodes only PROBED rows x m
    # and partial-combines to (query, neighbor); expected Nx shape is
    # the linear encode pass dominating
    "e06_knn_ivf_pq",
    "e06b_knn_ivf_pq_residual",
    # round-13 late additions: corpus-wide line dedup (one gram-scale
    # md5(line) window + doc-keyed rebuild — the d19/d01 economics, so
    # the expected Nx shape is d19's: a single linear line-scale
    # exchange) and sliding-window chunking (0-exchange Generate over
    # the scan — expected to scale at raw scan rate)
    "d27_line_dedup_global",
    "x40_doc_chunking",
]

TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def build_session():
    """Own builder (not session.get_spark): identical runtime confs but
    with the UI enabled so the status REST API serves shuffle metrics."""
    from pyspark.sql import SparkSession

    from spaceparts_data_pipeline_spark.session import RUNTIME_CONFS

    b = (
        SparkSession.builder.appName("spaceparts-scale-harness")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        # shuffle bytes are measured as before/after diffs of stage
        # totals from the status API — the iterative component-loop ops
        # run hundreds of stages per rep, and the default 1000-stage
        # retention evicts "before" stages mid-measurement (observed:
        # a negative shuffle diff for d16 at 16×); retain enough for
        # the longest op × reps
        .config("spark.ui.retainedStages", "50000")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse-scale")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _shard(df, table: str, shard: int):
    from pyspark.sql import functions as F

    if shard == 0:
        return df
    if table == "lineitem":
        return df.withColumn("l_orderkey", F.col("l_orderkey") + shard * KEY_STRIDE)
    if table == "orders":
        return df.withColumn("o_orderkey", F.col("o_orderkey") + shard * KEY_STRIDE)
    if table == "events":
        return (df.withColumn("event_id", F.col("event_id") + shard * KEY_STRIDE)
                  .withColumn("user_id", F.col("user_id") + shard * ID_STRIDE))
    if table == "documents":
        rot = ALPHA[shard % 26:] + ALPHA[: shard % 26]
        return (df.withColumn("doc_id", F.col("doc_id") + shard * ID_STRIDE)
                  .withColumn("text", F.translate("text", ALPHA + ALPHA.upper(),
                                                  rot + rot.upper())))
    if table == "embeddings":
        sign = lambda i: F.when(  # noqa: E731
            F.pmod(F.xxhash64(F.lit(shard), i), F.lit(2)) == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))
        return (df.withColumn("vec_id", F.col("vec_id") + shard * ID_STRIDE)
                  .withColumn("embedding",
                              F.transform("embedding",
                                          lambda x, i: (x * sign(i)).cast("float"))))
    raise ValueError(table)


def build_data(spark, src_dir: str, base: str, factor: int) -> None:
    for scale, n_shards in (("x1", 1), (f"x{factor}", factor)):
        out_dir = os.path.join(base, scale)
        if os.path.isdir(out_dir):
            shutil.rmtree(out_dir)
        for t in TABLES:
            src = spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
            parts = [_shard(src, t, s) for s in range(n_shards)]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            df.repartition(N_FILES).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"{t}.parquet"))
        print(f"built {out_dir}", file=sys.stderr)


def _stage_totals(spark) -> dict:
    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    tot = {"shuffle_read": 0, "shuffle_write": 0}
    for st in json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")):
        tot["shuffle_read"] += st.get("shuffleReadBytes", 0)
        tot["shuffle_write"] += st.get("shuffleWriteBytes", 0)
    return tot


def _max_stage_id(spark) -> int:
    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    ids = [st["stageId"] for st in json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages"))]
    return max(ids) if ids else -1


def _task_straggler(spark, since_stage: int) -> dict:
    """Per-task skew evidence for everything run after ``since_stage``:
    for each completed stage, the executorRunTime median and max across
    its tasks (status REST taskSummary), reporting the stage with the
    largest max — the straggler ratio max/median is the number that
    distinguishes 'one indivisible hot partition' from uniform load."""
    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    worst = {"stage": None, "task_median_ms": 0.0, "task_max_ms": 0.0,
             "straggler": 0.0}
    for st in json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete")):
        sid, att = st["stageId"], st["attemptId"]
        if sid <= since_stage or st.get("numCompleteTasks", 0) < 2:
            continue
        try:
            q = json.load(urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages/{sid}/{att}"
                f"/taskSummary?quantiles=0.5,1.0"))
        except Exception:
            continue
        med, mx = q["executorRunTime"]
        # worst RATIO wins (a uniform scan stage has the biggest max but
        # ratio ~1 — the skew evidence is the ratio); 100 ms floor so a
        # 2ms/40ms noise stage can't post a fake 20x
        ratio = mx / max(med, 1.0)
        if mx >= 100.0 and ratio > worst["straggler"]:
            worst = {"stage": sid, "task_median_ms": round(med, 1),
                     "task_max_ms": round(mx, 1), "straggler": round(ratio, 2)}
    return worst


def run_op(spark, queries, name: str, sf_dir: str, reps: int = 3) -> dict:
    spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    before = _stage_totals(spark)
    times = []
    for i in range(reps):
        # build INSIDE the timed region: the connected-components family
        # runs its iterative jobs eagerly at construction (localCheckpoint)
        # — building once outside the timer would exclude that work
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
        if i == 0:
            after = _stage_totals(spark)
    rows = df.count()
    return {
        "op": name,
        "sec": round(min(times), 3),
        "sec_all": [round(t, 3) for t in times],
        "rows_out": rows,
        "shuffle_read_mb": round((after["shuffle_read"] - before["shuffle_read"]) / 1e6, 2),
        "shuffle_write_mb": round((after["shuffle_write"] - before["shuffle_write"]) / 1e6, 2),
    }


FUNNEL_STAGES = ("sec_input", "sec_quality_redact", "sec_exact_dedup",
                 "sec_near_dedup", "sec_contamination", "sec_write_pack",
                 "sec_store_append", "sec_compact")


#: words the quality gates key on — the union of the Gopher rule set's
#: stopwords and the basic gate's English list. The GATED shard builder
#: below preserves these verbatim while rotating every other token, so
#: a shard>0 doc keeps its stopword signal and the gate does real work
#: at Nx (round-8 verdict #3: the plain alphabet rotation destroyed the
#: signal and silently ran the "8x" gated funnel at 1x volume).
GATE_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is",
                  "be", "that", "have", "with")


def _gated_docs(spark, base: str, scale: str, factor: int) -> str:
    """Build (once per scale) the documents variant the QUALITY-GATED
    funnel runs on, and return its path.

    Three deliberate differences from the standard shard synthesis:

    - SCATTERED stopword injection: the fixture's word-soup vocabulary
      contains only 'the' of the Gopher stopword set, so the gate's
      `>=2 distinct stopwords` rule rejects 100% of docs at EVERY
      scale and the gated funnel would measure an empty pipeline.
      Every 7th token is replaced (position-based, cycling the stop
      list) — replacement, not insertion, so word counts and the
      >=50-words rule (the REAL discriminator: ~55% pass) are
      untouched, and scattered single tokens (never a shared phrase)
      mean no two docs gain a common 3-gram that wasn't already
      common: the near-dup structure is preserved (a shared contiguous
      sentence would instead make every doc a band-collision candidate
      of every other — the 'tag' trap the module docstring documents);
    - multi-line derivation (every 8 tokens one '.'-terminated line —
      the same _multiline the d18/d21/c01b driver rows use): the raw
      fixture is single-line and punctuation-free, so the C4 line gate
      would reject 100% and measure nothing. \\s+ tokenizers see the
      SAME tokens either way, so every dedup/shingle structure
      downstream is unchanged by the derivation;
    - token-wise rotation that PRESERVES GATE_STOPWORDS (matched on
      the token's letters, so 'The,' survives too): gate decisions are
      then identical per shard copy and stage-1 rejections scale ~Nx.
      Cost: 3-grams of consecutive preserved stopwords are no longer
      shard-disjoint — rare with 7-apart injection and far below the
      0.5 Jaccard threshold, so the near-dup structure stays N copies;
      the contamination screen absorbs the few shared shingles inside
      its fixture-calibrated threshold (30).
    """
    from functools import reduce

    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.queries.llm import _multiline

    out = os.path.join(base, f"documents_gated_{scale}")
    if os.path.isdir(out):
        return out
    raw = spark.read.parquet(os.path.join(base, "x1", "documents.parquet"))
    stops = F.array(*[F.lit(w) for w in GATE_STOPWORDS])
    injected = F.array_join(
        F.transform(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda w, i: F.when(
                i % 7 == 0,
                F.element_at(stops, (F.floor(i / 7) % len(GATE_STOPWORDS))
                             .cast("int") + 1),
            ).otherwise(w)), " ")
    src = raw.withColumn(
        "text", F.when(F.col("text").isNotNull(), injected))

    def gated_shard(shard: int):
        df = src
        if shard:
            rot = ALPHA[shard % 26:] + ALPHA[: shard % 26]
            core = lambda w: F.regexp_replace(F.lower(w), "[^a-z]", "")  # noqa: E731
            rotated = F.array_join(
                F.transform(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda w: F.when(core(w).isin(*GATE_STOPWORDS), w)
                    .otherwise(F.translate(w, ALPHA + ALPHA.upper(),
                                           rot + rot.upper()))), " ")
            df = (df.withColumn("doc_id", F.col("doc_id") + shard * ID_STRIDE)
                    .withColumn("text", rotated))
        return _multiline(df, every=8)

    n = 1 if scale == "x1" else factor
    docs = reduce(lambda a, b: a.unionByName(b),
                  [gated_shard(s) for s in range(n)])
    docs.repartition(N_FILES).write.mode("overwrite").parquet(out)
    return out


def run_funnel(spark, base: str, scale: str, n_batches: int = 5,
               backend: str = "path", quality: str = "off",
               factor: int = 8, semdedup: bool = False) -> list[dict]:
    """Round-6 verdict next-round #3: measure the COMPOSED
    plans.corpus.run_corpus_ingest funnel — persist boundaries, store
    read-modify-write cycle, five chained stages — over a multi-batch
    sequence, not just its standalone member operators.

    Batch carve: benchmark = doc_id % 20 == 0 (x29's split), the rest
    split round-robin by doc_id % n_batches — ID_STRIDE is divisible by
    both, so every synthesized shard spreads evenly over the batches
    and each batch at Nx is N disjoint shard-copies of the 1x batch
    (same honest-growth property as the standalone ops). Store state
    ACCUMULATES across the sequence exactly as a production ingest's
    does: later batches screen against every earlier batch's
    fingerprints, and compaction triggers mid-sequence whenever the
    band store's per-run file sets cross the default threshold.

    Records per batch: per-stage wall (the funnel's own sec_* keys),
    shuffle-byte deltas, and store growth (files + rows per store).

    contamination_threshold is fixture-calibrated: the synthetic docs
    are template-generated, so EVERY doc shares word-3-gram shingles
    with the benchmark slice (measured x1 median 19, p99 43 — the
    default threshold 1 admits zero docs and the funnel's back half
    never runs). 30 rejects roughly the top quartile: the screen does
    real filtering while the write/store stages still see real volume.

    quality_gate=False: the shard synthesis rotates each shard's
    alphabet (the property that keeps shards shingle-disjoint), which
    also destroys the English stopwords the gate requires — with the
    gate on, every shard>0 doc is eliminated and the "8x" funnel runs
    at 1x volume past stage 1 (observed: identical after_quality
    counts at both scales). The gate is a scan-bound pure projection
    whose scaling d04/d17 measure standalone; disabling it here keeps
    the dedup/contamination/store stages at honest 8x volume.

    backend='table' runs the SAME sequence on the catalog-table screen
    stores (store_table_prefix; compaction = atomic view repoint) —
    the round-7 verdict #8 soak. Store growth is then reported from the
    table's resolved storage stats instead of the path listing.

    quality='gopher'|'c4' (round-8 verdict #3) runs the funnel WITH the
    quality gate doing real work at every scale: the input switches to
    the stopword-preserving multi-line shards of :func:`_gated_docs`
    (the plain rotation destroyed the stopword signal, so the gate
    rejected every shard>0 doc and the "Nx" run was 1x past stage 1),
    and run_corpus_ingest gets quality_gate=True with that rule set.

    semdedup=True (round 13) adds the cross-run SEMANTIC screen as a
    sixth live stage: each batch's embeddings (vec_id-aligned with the
    fixture's doc_id at every scale — both carry the same ID_STRIDE
    shard shifts) screen against the accumulated sem_store. The
    threshold is pinned at 0.70 ON THIS FIXTURE: the sign-flip shard
    twins sit around cosine 0.35-0.5, so the default 0.35 would reject
    ~everything after batch 1 and starve every later stage of Nx
    volume (the same honest-volume trap the quality gate hit on
    rotated shards) — at 0.70 the screen still pays its FULL
    banding-candidate verify cost (candidates come from the profile,
    not the threshold) while the admitted volume stays honest.
    Requires quality='off' (the _gated_docs synthesis re-keys doc ids,
    which would break the doc_id↔vec_id join).

    quality='charlm' (round 10) runs the model-based gate with the
    benchmark slice as charlm_ref and a PER-SCALE self-calibrated
    threshold: the ref slice is scored under its own model and the
    median avg-NLL becomes charlm_max_nll. A fixed threshold cannot
    transfer across scales on this fixture — at Nx the ref contains
    all N alphabet rotations, so every per-gram count stays ~the x1
    count while the Laplace denominator grows ~Nx, shifting every
    doc's NLL up by ~ln(N); the median-of-ref calibration is also the
    documented production practice (pick a percentile of the ref
    slice's own distribution), so the harness measures exactly what a
    real deployment would run, with the gate rejecting ~half of every
    batch at every scale.
    """
    import pyspark.sql.functions as F

    from spaceparts_data_pipeline_spark.operators import dedup, maintenance
    from spaceparts_data_pipeline_spark.operators import text as text_ops
    from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

    sf_dir = os.path.join(base, scale)
    out = os.path.join(base, f"funnel_{backend}_{quality}_{scale}"
                       if quality != "off" else f"funnel_{backend}_{scale}")
    if os.path.isdir(out):
        shutil.rmtree(out)
    table_prefix = None
    if backend == "table":
        table_prefix = f"scale_funnel_{scale}"
        for t in spark.catalog.listTables():
            if t.name.startswith(table_prefix):
                kind = "VIEW" if (t.tableType or "").upper() == "VIEW" else "TABLE"
                spark.sql(f"DROP {kind} IF EXISTS {t.name}")
    if quality != "off":
        docs = spark.read.parquet(_gated_docs(spark, base, scale, factor))
    else:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    benchmark = docs.filter(F.col("doc_id") % 20 == 0).select("doc_id", "text")
    rest = docs.filter(F.col("doc_id") % 20 != 0)
    sem_kwargs = {}
    if semdedup:
        if quality != "off":
            raise ValueError("--funnel-semdedup needs quality='off' — the "
                             "gated-doc synthesis re-keys doc ids away from "
                             "the embeddings' vec_id")
        sem_kwargs = {
            "semdedup_embeddings": spark.read.parquet(
                os.path.join(sf_dir, "embeddings.parquet")),
            "semdedup_threshold": 0.70,   # fixture calibration, see docstring
        }

    charlm_kwargs = {}
    if quality in ("charlm", "charlm+dsir"):
        # the library's own self-calibration (median-of-ref, exact
        # percentile) — computed ONCE here and pinned so the 5 batches
        # don't re-run the identical ref-scoring job (run_corpus_ingest
        # with charlm_max_nll=None computes the same number). The DSIR
        # threshold is batch-dependent and self-calibrates per batch.
        thr = text_ops.charlm_calibrate(benchmark)
        charlm_kwargs = {"charlm_ref": benchmark, "charlm_max_nll": float(thr)}
        print(json.dumps({"scale": scale, "charlm_max_nll": round(thr, 4)}),
              flush=True)
    if quality == "charlm+dsir":
        # the full c02 triad as funnel stages: both gates + the
        # token-budget cap. The budget is sized per scale from the
        # fixture's own token mass (10% of the per-source-per-batch
        # average) so the cap does real, scale-proportional work —
        # a fixed absolute budget would freeze admitted volume at 1x
        # and fake the Nx wall numbers downstream of it.
        tok = rest.agg(F.sum(F.coalesce(
            text_ops.token_count("text").cast("long"), F.lit(0)))).first()[0]
        nsrc = rest.select("source").distinct().count()
        budget = max(1, int(0.1 * tok / (max(nsrc, 1) * n_batches)))
        charlm_kwargs["token_budget"] = budget
        print(json.dumps({"scale": scale, "token_budget": budget}), flush=True)

    results = []
    for b in range(n_batches):
        batch = rest.filter(F.pmod(F.col("doc_id"), F.lit(n_batches)) == b)
        spark.catalog.clearCache()
        before = _stage_totals(spark)
        t0 = time.perf_counter()
        stats = run_corpus_ingest(spark, batch, out, f"b{b}", benchmark=benchmark,
                                  contamination_threshold=30,
                                  quality_gate=(quality != "off"),
                                  quality_rules=quality if quality != "off" else "basic",
                                  store_table_prefix=table_prefix,
                                  **charlm_kwargs, **sem_kwargs)
        wall = time.perf_counter() - t0
        after = _stage_totals(spark)
        row = {
            "scale": scale, "backend": backend, "batch": b, "sec": round(wall, 3),
            **{k: stats[k] for k in stats},
            "shuffle_read_mb": round((after["shuffle_read"] - before["shuffle_read"]) / 1e6, 2),
            "shuffle_write_mb": round((after["shuffle_write"] - before["shuffle_write"]) / 1e6, 2),
        }
        for store in ("fp_store", "band_store"):
            if table_prefix:
                tbl = f"{table_prefix}_{store}"
                sdf = dedup.read_store_table(spark, tbl)  # None until first admit
                row[f"{store}_files"] = (
                    maintenance.file_stats(spark, tbl)["n_files"] if sdf is not None else 0)
            else:
                p = os.path.join(out, store)
                sdf = dedup.read_store(spark, p)  # None until first admit
                row[f"{store}_files"] = dedup.data_file_count(spark, p) if sdf is not None else 0
            row[f"{store}_rows"] = sdf.count() if sdf is not None else 0
        if semdedup:
            from spaceparts_data_pipeline_spark.operators import vector_store

            sem_prefix = table_prefix if table_prefix else os.path.join(out, "sem_store")
            sdf = vector_store.read_semdedup_store(
                spark, sem_prefix, table_backend=bool(table_prefix))
            row["sem_store_rows"] = sdf.count() if sdf is not None else 0
        results.append(row)
        print(json.dumps(row), flush=True)
    return results


def print_funnel_tables(per_scale: dict[str, list[dict]], factor: int) -> None:
    print("\n| scale | batch | in | after_q | admitted | " +
          " | ".join(s[4:] for s in FUNNEL_STAGES) +
          " | total s | shuf W MB | band files | band rows |")
    print("|" + "---|" * (len(FUNNEL_STAGES) + 9))
    for scale, rows in per_scale.items():
        for r in rows:
            stage_cells = " | ".join(str(r.get(s, "-")) for s in FUNNEL_STAGES)
            print(f"| {scale} | {r['batch']} | {r['input']} | "
                  f"{r.get('after_quality', '-')} | {r['admitted']} | "
                  f"{stage_cells} | {r['sec']} | {r['shuffle_write_mb']} | "
                  f"{r['band_store_files']} | {r['band_store_rows']} |")
    scales = list(per_scale)
    if len(scales) == 2:
        a = sum(r["sec"] for r in per_scale[scales[0]])
        b = sum(r["sec"] for r in per_scale[scales[1]])
        wa = sum(r["shuffle_write_mb"] for r in per_scale[scales[0]])
        wb = sum(r["shuffle_write_mb"] for r in per_scale[scales[1]])
        print(f"\nfunnel sequence total: {scales[0]} {a:.1f}s / {scales[1]} {b:.1f}s "
              f"(ratio {b / a:.2f} at {factor}x data); shuffle W "
              f"{wa:.1f} -> {wb:.1f} MB (ratio {wb / wa:.2f})")


def _skewed_docs(spark, base: str, scale: str, repeat: int = 10) -> str:
    """Build (once per scale) the ZIPFIAN documents variant the gram-skew
    measurement runs on, and return its path.

    The standard shards are gram-uniform by construction (the alphabet
    rotation keeps shards shingle-disjoint), so the d19/d22 hot-gram
    hazard — one boilerplate gram occurring 10⁸-10⁹ times at 100 TB,
    serializing the window's single indivisible reducer — never fires
    on them. This variant injects a 5-token licence passage repeated
    ``repeat`` times contiguously at the head of 30% of docs
    (doc_id % 10 < 3 — ID_STRIDE-aligned, so the injected set scales
    with the factor): the contiguous repeat makes all 5 rotations of
    the passage hot grams, each with 0.3 · n_docs · repeat instances —
    at 8x that is ~120k rows per hot hash against a ~60k-row median
    shuffle partition, a genuine straggler for the window route while
    the groupBy route's map-side combine collapses each hot hash to
    one row per map task.
    """
    import pyspark.sql.functions as F

    out = os.path.join(base, f"documents_skew_{scale}")
    if os.path.isdir(out):
        return out
    docs = spark.read.parquet(os.path.join(base, scale, "documents.parquet"))
    passage = " ".join(f"lic{i}" for i in range(5))
    boiler = " ".join([passage] * repeat)
    skewed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 < 3,
               F.concat(F.lit(boiler + " "), F.coalesce(F.col("text"), F.lit(""))))
        .otherwise(F.col("text")))
    skewed.repartition(N_FILES).write.mode("overwrite").parquet(out)
    print(f"built {out}", file=sys.stderr)
    return out


def _hotgram_docs(spark, base: str, scale: str, per_doc: int = 100) -> str:
    """Build (once per scale) the ABSOLUTE-hot-gram documents variant:
    a single token repeated ``per_doc + 4`` times at the head of 10% of
    docs — ONE distinct word-5-gram ("hot hot hot hot hot") carrying
    0.1 · n_docs · per_doc instances. Unlike the zipfian fixture's
    5-rotation licence passage (5 hot hashes), ALL of this fixture's
    duplication lands on one hash — the indivisible-window-partition
    regime the ``skew_safe`` flag exists for."""
    import pyspark.sql.functions as F

    out = os.path.join(base, f"documents_hotgram_{scale}")
    if os.path.isdir(out):
        return out
    docs = spark.read.parquet(os.path.join(base, scale, "documents.parquet"))
    blob = " ".join(["hot"] * (per_doc + 4))
    skewed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.lit(blob + " "), F.coalesce(F.col("text"), F.lit(""))))
        .otherwise(F.col("text")))
    skewed.repartition(N_FILES).write.mode("overwrite").parquet(out)
    print(f"built {out}", file=sys.stderr)
    return out


def measure_hotgram(spark, base: str, factor: int) -> list[dict]:
    """Round-10 verdict #5: the absolute-hot-gram regime, instrumented
    at the TASK level. The zipfian fixture keeps every hot gram a
    constant FRACTION of the data, and with a FIXED shuffle-partition
    count the median partition grows exactly as fast as the hot one —
    the window route can never stall there by construction. This
    measurement removes both shields:

    - the fixture concentrates all duplication on ONE gram hash
      (``_hotgram_docs``), growing to ~10⁵-10⁶ instances at Nx — the
      small-scale image of the 10⁸-instance licence-boilerplate gram;
    - ``spark.sql.shuffle.partitions`` scales WITH the data (32·N at
      Nx), emulating the real deployment contract that per-task work
      stays constant as the cluster and data grow together. Under that
      contract the median task is flat across scales, while the window
      route's hot-gram partition is indivisible (a hash partition of a
      Window cannot be split by AQE) and grows linearly — so its
      max/median task ratio GROWS with scale, which is the measured
      trigger for switching ``skew_safe=True`` (whose groupBy route
      map-side-combines the hot hash to one row per map task).

    Reports per route/scale: wall seconds, shuffle bytes, and the
    worst stage's task median/max/straggler ratio (REST taskSummary).
    """
    from spaceparts_data_pipeline_spark.operators import text as T

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_adv = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                              "64MB")
    rows = []
    try:
        # AQE's 64MB advisory would coalesce this fixture's whole gram
        # exchange into a handful of partitions (total gram bytes at Nx
        # ≈ a few hundred MB), hiding the hot hash inside a uniform
        # 64MB bin. 1MB keeps the per-partition byte contract CONSTANT
        # while data grows — the same scale-model trick as scaling the
        # partition count — so the indivisible hot partition (≈24MB at
        # 16x) stands against a ~1MB median exactly as a 30GB hot gram
        # stands against 64MB partitions at 100 TB.
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
        for scale, mult in (("x1", 1), (f"x{factor}", factor)):
            path = _hotgram_docs(spark, base, scale)
            docs = spark.read.parquet(path)
            spark.conf.set("spark.sql.shuffle.partitions", str(32 * mult))
            for route, safe in (("window", False), ("skew_safe", True)):
                spark.catalog.clearCache()
                before = _stage_totals(spark)
                marker = _max_stage_id(spark)
                times = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    df = T.substring_dedup(docs, k=5, skew_safe=safe)
                    df.write.format("noop").mode("overwrite").save()
                    times.append(round(time.perf_counter() - t0, 3))
                after = _stage_totals(spark)
                row = {"check": "hotgram", "scale": scale, "route": route,
                       "shuffle_partitions": 32 * mult,
                       "sec": min(times), "sec_all": times,
                       "shuffle_read_mb": round(
                           (after["shuffle_read"] - before["shuffle_read"]) / 1e6 / 2, 2),
                       "shuffle_write_mb": round(
                           (after["shuffle_write"] - before["shuffle_write"]) / 1e6 / 2, 2),
                       **_task_straggler(spark, marker)}
                rows.append(row)
                print(json.dumps(row), flush=True)
        # semantic guard: identical results on the hot fixture at Nx
        big = spark.read.parquet(_hotgram_docs(spark, base, f"x{factor}"))
        a = T.substring_dedup(big, k=5, skew_safe=False)
        b = T.substring_dedup(big, k=5, skew_safe=True)
        diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        assert diff == 0, f"skew_safe diverged on the hot-gram fixture: {diff}"
        print(json.dumps({"check": "hotgram_equal", "factor": factor,
                          "diff": 0}), flush=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       prev_adv)
    by = {(r["scale"], r["route"]): r for r in rows}
    print("\n| route | scale | sec | task med ms | task max ms | straggler |")
    print("|---|---|---|---|---|---|")
    for route in ("window", "skew_safe"):
        for scale in ("x1", f"x{factor}"):
            r = by[(scale, route)]
            print(f"| {route} | {scale} | {r['sec']} | {r['task_median_ms']} "
                  f"| {r['task_max_ms']} | {r['straggler']} |")
    return rows


def measure_semdedup(spark, base: str, factor: int) -> list[dict]:
    """Round 10: SemDeDup's scale knob measured honestly. With k
    centroids FIXED, the within-cell pair space is n²/k — quadratic in
    the corpus, the wrong configuration at scale; growing k with n
    (the paper ran 11k clusters on LAION) keeps cells bounded, and
    k scaled LINEARLY with n keeps the total pair space linear
    (n²/(k·N) at N× data with k·N cells). Measures d25's operator at
    1× with k=16, then at N× BOTH ways — k=16 (fixed, expected
    ~N²/N=N× the 1× pair cost or worse) and k=16·N (scaled, expected
    the linear class) — so SCALING.md states the rule with numbers,
    not a rule of thumb."""
    from spaceparts_data_pipeline_spark.operators import similarity as S

    rows = []
    for scale, ks in (("x1", (16, "auto")),
                      (f"x{factor}", (16, 16 * factor, "auto"))):
        sf_dir = os.path.join(base, scale)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        for k in ks:
            spark.catalog.clearCache()
            before = _stage_totals(spark)
            times, dups = [], None
            for _ in range(3):
                t0 = time.perf_counter()
                out = S.semdedup(docs, embs, threshold=0.35,
                                 n_centroids=k, kmeans_iters=1)
                dups = out.filter("is_dup").count()
                times.append(round(time.perf_counter() - t0, 3))
            after = _stage_totals(spark)
            row = {"check": "semdedup", "scale": scale, "n_centroids": k,
                   "sec": min(times), "sec_all": times, "dups": dups,
                   "shuffle_read_mb": round(
                       (after["shuffle_read"] - before["shuffle_read"]) / 1e6 / 3, 2),
                   "shuffle_write_mb": round(
                       (after["shuffle_write"] - before["shuffle_write"]) / 1e6 / 3, 2)}
            rows.append(row)
            print(json.dumps(row), flush=True)
    return rows


def measure_semdedup_megacell(spark, base: str, factor: int) -> list[dict]:
    """Round-12 (r11 verdict #5): the mega-cell guard measured on its
    target hazard. Auto-k fixes the AVERAGE cell, but the cell
    self-join partitions by the data's OWN cluster structure: this
    fixture plants HALF the corpus mass inside one tight semantic
    cluster of IDENTICAL vectors — the duplicate-blob shape a crawl
    corpus actually produces (boilerplate pages share an embedding).
    Identity matters: a NOISY 50% cluster is handled by auto-k itself
    (hash-sampled seeds land inside the cluster proportional to its
    mass and split it — measured first: straggler 2.1, no hazard),
    but identical vectors give identical centroid scores and the
    deterministic argmax sends every copy to ONE cell — an indivisible
    n_cell² pair space AQE cannot split (it splits join rows, not the
    pair count). Measures semdedup at 1× and N× with auto-k, unguarded
    vs max_cell_size=2048, reporting wall + the worst per-task
    max/median straggler ratio — the bounded-task evidence — and the
    duplicate count (the guard catches all but one extra survivor per
    sub-block: each block's min-id element loses its lower-id
    neighbor; every other planted doc still pairs inside its block)."""
    import pyspark.sql.functions as F

    from spaceparts_data_pipeline_spark.operators import similarity as S

    rows = []
    for scale, n_shards in (("x1", 1), (f"x{factor}", factor)):
        src = os.path.join(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
        embs0 = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
        parts = [embs0.withColumn("vec_id", F.col("vec_id") + s * ID_STRIDE)
                 for s in range(n_shards)]
        embs = parts[0]
        for p in parts[1:]:
            embs = embs.unionByName(p)
        # plant: 50% of ids collapse onto ONE identical vector e0 — the
        # exact-duplicate blob that defeats centroid splitting
        e0 = F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, F.lit(1.0)).otherwise(F.lit(0.0))
            .cast("float"))
        embs = embs.withColumn(
            "embedding",
            F.when(F.pmod("vec_id", F.lit(2)) == 0, e0)
             .otherwise(F.col("embedding")))
        path = os.path.join(base, f"megacell_{scale}")
        if not os.path.isdir(path):
            embs.repartition(N_FILES).write.mode("overwrite").parquet(path)
        embs = spark.read.parquet(path)
        docs = embs.select(F.col("vec_id").alias("doc_id"))
        for cap in (None, 2048):
            spark.catalog.clearCache()
            since = _max_stage_id(spark)
            times, dups = [], None
            # the unguarded mega-cell rep IS the hazard (one quadratic
            # task); one rep suffices to demonstrate it
            for _ in range(1 if cap is None else 2):
                t0 = time.perf_counter()
                out = S.semdedup(docs, embs, threshold=0.35,
                                 n_centroids="auto", kmeans_iters=1,
                                 max_cell_size=cap)
                dups = out.filter("is_dup").count()
                times.append(round(time.perf_counter() - t0, 2))
            row = {"check": "semdedup_megacell", "scale": scale,
                   "max_cell_size": cap, "sec": min(times), "sec_all": times,
                   "dups": dups, **_task_straggler(spark, since)}
            rows.append(row)
            print(json.dumps(row), flush=True)
    return rows


def measure_semdedup_store(spark, base: str, factor: int) -> list[dict]:
    """Round 13 (r12 verdict #2 + #6): the PRODUCTIONIZED semantic-dedup
    vector store measured on its two claims.

    (a) SCREEN COST vs STORE SIZE — a fixed probe batch (shard 0's
    embeddings) is screened against the id-bucketed table-backend store
    as it grows from 1 to factor−1 appended shards. The shipped screen
    (map-side signature explode + BROADCAST batch bands + id-bucketed
    verify) keeps the store side of both joins exchange-free, so screen
    shuffle should stay ~flat while the store grows; the same screen
    with broadcast_screen=False (both band sides exchanged — the full
    store×n_bands shuffle the r12 verdict flagged) is measured at the
    largest store as the comparison row. This mode is also where the
    (band, sig)-bucketed pre-exploded index was FALSIFIED in r13:
    29M collision candidates at a 14k store (the 4-plane profile has a
    16-value signature space) scattered across bucket partitions cost
    1.7 GB of dedup shuffle vs 45 MB in scan order.

    (b) SCREEN RECALL on planted cross-batch duplicates — copies of
    stored vectors under fresh ids (half exact, half perturbed but kept
    ≥ threshold cosine): recall-of-screen = rejected fraction; the miss
    rate is the 4×16 banding miss rate, the same bound e03c pins
    within-batch. Exact copies must screen at 1.0 (identical vectors
    share every band signature)."""
    import numpy as np

    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.operators import similarity as S
    from spaceparts_data_pipeline_spark.operators import vector_store as VS

    sf_dir = os.path.join(base, f"x{factor}")
    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    shard_of = F.floor(F.col("vec_id") / F.lit(ID_STRIDE))
    probe = embs.filter(shard_of == 0)
    spark.sql("CREATE DATABASE IF NOT EXISTS semstore_scale")
    spark.sql("DROP TABLE IF EXISTS semstore_scale.grow_sem_store")
    pfx = "semstore_scale.grow"
    rows = []

    def _screen(store, label, store_rows, broadcast=True):
        spark.catalog.clearCache()
        before = _stage_totals(spark)
        times, admitted = [], None
        for _ in range(3):
            t0 = time.perf_counter()
            adm, _surv = S.incremental_semdedup(
                probe, store, broadcast_screen=broadcast)
            admitted = adm.count()
            times.append(round(time.perf_counter() - t0, 3))
        after = _stage_totals(spark)
        row = {"check": "semdedup_store", "layout": label,
               "store_rows": store_rows, "probe_rows": probe.count(),
               "sec": min(times), "sec_all": times, "admitted": admitted,
               "shuffle_read_mb": round(
                   (after["shuffle_read"] - before["shuffle_read"]) / 1e6 / 3, 2),
               "shuffle_write_mb": round(
                   (after["shuffle_write"] - before["shuffle_write"]) / 1e6 / 3, 2)}
        rows.append(row)
        print(json.dumps(row), flush=True)
        return row

    measure_at = {1, max(2, (factor - 1) // 2), factor - 1}
    for s in range(1, factor):
        batch = embs.filter(shard_of == s)
        sig = S.det_lsh_signatures(batch)
        VS.append_semdedup_store(spark, sig, pfx, table_backend=True)
        if s in measure_at:
            store = VS.read_semdedup_store(spark, pfx, table_backend=True)
            _screen(store, "broadcast_bucketed", store.count())

    # comparison at the largest store: both band sides exchanged — the
    # store×n_bands shuffle per screen the r12 verdict flagged
    store = VS.read_semdedup_store(spark, pfx, table_backend=True)
    _screen(store, "smj_full_shuffle", store.count(), broadcast=False)

    # (a2) the profile IS the selectivity knob: the 4×16 default is a
    # HIGH-RECALL profile for threshold-0.35 pair generation (16-value
    # band space → ~64% of random pairs collide somewhere). Production
    # semantic-dup screens run at high thresholds, where longer bands
    # buy exponential selectivity at the same recall: measure the same
    # store re-signed at 8 planes × 32 bands / threshold 0.7
    # (recall ≈ 0.96 at 0.7 by the banding law) and report candidate
    # mass + screen wall next to the default profile's.
    def _cand_mass(store_df, probe_df, n_planes, n_bands):
        sigp = S.det_lsh_signatures(probe_df, n_planes=n_planes,
                                    n_bands=n_bands)
        pbands = sigp.select(F.posexplode("sigs").alias("band", "sig")) \
            .groupBy("band", "sig").count().withColumnRenamed("count", "pc")
        sbands = store_df.select(F.posexplode("sigs").alias("band", "sig")) \
            .groupBy("band", "sig").count().withColumnRenamed("count", "sc")
        row = pbands.join(sbands, ["band", "sig"]) \
            .select(F.sum(F.col("pc") * F.col("sc"))).collect()[0][0]
        return int(row or 0)

    store = VS.read_semdedup_store(spark, pfx, table_backend=True)
    spark.sql("DROP TABLE IF EXISTS semstore_scale.p8_sem_store")
    for s in range(1, factor):
        batch = embs.filter(shard_of == s)
        VS.append_semdedup_store(
            spark, S.det_lsh_signatures(batch, n_planes=8, n_bands=32),
            "semstore_scale.p8", table_backend=True)
    store8 = VS.read_semdedup_store(spark, "semstore_scale.p8",
                                    table_backend=True)
    for label, st, np_, nb, thr in (
            ("default_4x16_t0.35", store, 4, 16, 0.35),
            ("screen_8x32_t0.70", store8, 8, 32, 0.70)):
        cand = _cand_mass(st, probe, np_, nb)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        adm, _surv = S.incremental_semdedup(
            probe, st, n_planes=np_, n_bands=nb, threshold=thr)
        n_adm = adm.count()
        sec = round(time.perf_counter() - t0, 3)
        row = {"check": "semdedup_store_profile", "profile": label,
               "store_rows": st.count(), "collision_rows": cand,
               "sec": sec, "admitted": n_adm}
        rows.append(row)
        print(json.dumps(row), flush=True)

    # (b) recall of the screen on planted cross-batch duplicates
    sv = store
    stored = sv.orderBy("vec_id").limit(200).collect()
    rng = np.random.RandomState(13)
    planted, exact_ids = [], set()
    for i, r in enumerate(stored):
        v = np.asarray(r["embedding"], dtype=np.float64)
        if i % 2 == 0:
            dup = v.copy()
            exact_ids.add(900_000_000 + i)
        else:
            dup = v + rng.normal(0, 0.02 * np.linalg.norm(v) / 8.0, v.shape)
            cos = float(np.dot(dup, v) / (np.linalg.norm(dup) * np.linalg.norm(v)))
            if cos < 0.35:
                continue
        planted.append((900_000_000 + i, [float(x) for x in dup]))
    pb = spark.createDataFrame(planted, "vec_id long, embedding array<double>")
    adm, _ = S.incremental_semdedup(pb, sv)
    admitted_ids = {r["vec_id"] for r in adm.collect()}
    caught = sum(1 for pid, _ in planted if pid not in admitted_ids)
    rrow = {"check": "semdedup_store_recall", "planted": len(planted),
            "caught": caught, "recall": round(caught / len(planted), 4),
            "exact_missed": len(exact_ids & admitted_ids)}
    rows.append(rrow)
    print(json.dumps(rrow), flush=True)
    spark.sql("DROP DATABASE IF EXISTS semstore_scale CASCADE")
    return rows


def measure_gold(spark, src_dir: str, base: str, factor: int) -> list[dict]:
    """Round 13 (r12 verdict #4): gold-layer throughput at Nx volume.
    bench.py's sf0.1 gold reading is fixed-overhead-dominated (a full
    pass lands only ~536k rows, so per-pass job latency sets the
    rate); this reruns the SAME protocol (bench.gold_throughput:
    synthesize silver domain untimed, 1 warm-up + 3 measured
    gold.run_full passes through the versioned-overwrite write path)
    on the Nx fact tables — if the rate climbs with volume the sf0.1
    number is overhead, not a throughput ceiling. Dimension tables
    are copied from the source sf dir (gold broadcasts them; fact
    volume is the knob)."""
    import bench

    rows = []
    for scale in ("x1", f"x{factor}"):
        sf_dir = os.path.join(base, scale)
        for dim in ("customer", "part", "nation", "region"):
            dst = os.path.join(sf_dir, f"{dim}.parquet")
            src = os.path.join(src_dir, f"{dim}.parquet")
            if not os.path.exists(dst):
                # testdata tables may be single parquet files or dirs
                (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)
        rate, disp = bench.gold_throughput(spark, sf_dir)
        row = {"check": "gold_throughput", "scale": scale,
               "rows_per_hour": rate, "dispersion": disp}
        rows.append(row)
        print(json.dumps(row), flush=True)
    return rows


def measure_silver_steps(spark, src_dir: str, base: str, factor: int) -> list[dict]:
    """Round 15 (r14 verdict next-round #4): step-attribute a silver
    pass BEFORE optimizing it — silver is the slowest layer at ~6.5×
    reference (bronze 13.3×, gold 14.6×) and the question is where the
    wall goes: the standardize→window-dedup compute (materialized at
    the quarantine count, ONE execution thanks to the cache), the
    quarantine side-sink append, the bucket-shuffle+sort+staged write,
    the staged-swap catalog overhead, or the final count.

    Same protocol as bench.layer_throughput's silver leg (bronze runs
    untimed as setup; 1 discarded warm-up + 2 measured passes over
    lineitem/orders/events), but each pass drives silver's REAL
    internals step by step (transform → quarantined.count() →
    _append_quarantine_dedup → _write_partitioned → table count — the
    exact run_full composition, kept in sync with plans/silver.py) with
    a timer around each step. ``plain_write`` is measured as an EXTRA
    separately-timed write of the same repartitioned+sorted frame to a
    throwaway table, so staged-swap overhead ≈ bucket_write −
    plain_write (the gold r14 method)."""
    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.operators.dedup import infer_keys
    from spaceparts_data_pipeline_spark.plans import bronze as bronze_plan
    from spaceparts_data_pipeline_spark.plans import silver as silver_plan

    rows = []
    for scale in ("x1", f"x{factor}"):
        sf_dir = os.path.join(base, scale)
        db = f"silver_prof_{scale}"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.sql(f"CREATE DATABASE {db}")
        prev = spark.catalog.currentDatabase()
        spark.catalog.setCurrentDatabase(db)
        try:
            tables = ["lineitem", "orders", "events"]
            n_rows = 0
            for t in tables:
                df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
                n_rows += df.count()
                bronze_plan.run_full(spark, df, t)     # setup, untimed
            for attempt in range(3):                   # pass 0 = warm-up
                spark.catalog.clearCache()
                steps = {k: 0.0 for k in (
                    "transform_cache_materialize", "quarantine_append",
                    "bucket_shuffle_sort_write", "plain_write_only",
                    "final_count", "log_append")}
                total0 = time.perf_counter()
                for t in tables:
                    src = spark.table(f"bronze_{t}")
                    clean, quarantined, parent = silver_plan.transform(
                        src, t, f"prof-{attempt}", persist=True)
                    try:
                        t0 = time.perf_counter()
                        n_q = quarantined.count()
                        steps["transform_cache_materialize"] += time.perf_counter() - t0
                        if n_q:
                            t0 = time.perf_counter()
                            silver_plan._append_quarantine_dedup(
                                spark, f"silver_quarantine_{t}", quarantined)
                            steps["quarantine_append"] += time.perf_counter() - t0
                        keys = infer_keys(clean.columns, "dwcreateddate")
                        # extra pass: the same shuffled+sorted frame to a
                        # throwaway table — attributes the swap overhead
                        out = clean.withColumn(
                            silver_plan.PARTITION_COL,
                            silver_plan._bucket_expr(keys, silver_plan.DEFAULT_N_BUCKETS))
                        out = (out.repartition(F.col(silver_plan.PARTITION_COL))
                               .sortWithinPartitions(silver_plan.PARTITION_COL, *keys))
                        t0 = time.perf_counter()
                        out.write.mode("overwrite") \
                            .partitionBy(silver_plan.PARTITION_COL) \
                            .saveAsTable(f"plainw_{t}")
                        steps["plain_write_only"] += time.perf_counter() - t0
                        spark.sql(f"DROP TABLE plainw_{t}")
                        t0 = time.perf_counter()
                        silver_plan._write_partitioned(
                            clean, f"silver_{t}", keys,
                            silver_plan.DEFAULT_N_BUCKETS, sort_by=keys)
                        steps["bucket_shuffle_sort_write"] += time.perf_counter() - t0
                    finally:
                        parent.unpersist()
                    t0 = time.perf_counter()
                    n = spark.table(f"silver_{t}").count()
                    steps["final_count"] += time.perf_counter() - t0
                    t0 = time.perf_counter()
                    silver_plan.logs.append_log(
                        spark, "silver_execution_log", "silver", t,
                        f"prof-{attempt}", "success", n)
                    steps["log_append"] += time.perf_counter() - t0
                # the timed total excludes the extra plain_write pass
                total = (time.perf_counter() - total0) - steps["plain_write_only"]
                if attempt == 0:
                    continue
                row = {"check": "silver_steps", "scale": scale, "pass": attempt,
                       "rows": n_rows, "total_sec": round(total, 2),
                       "rows_per_hour": round(n_rows / total * 3600),
                       "steps_sec": {k: round(v, 2) for k, v in steps.items()},
                       "swap_overhead_sec": round(
                           steps["bucket_shuffle_sort_write"]
                           - steps["plain_write_only"], 2)}
                rows.append(row)
                print(json.dumps(row), flush=True)
        finally:
            spark.catalog.setCurrentDatabase(prev)
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return rows


def measure_wide_layer_log(spark, n_tables: int = 50) -> list[dict]:
    """Round 16 (r15 verdict next-round #6): validate the LogBuffer
    claim at WIDTH. The r15 silver step profile measured ~0.4 s of
    fixed job latency per 1-row execution-log append on a 3-table layer
    and EXTRAPOLATED "~40 s of driver dead time per 100-table layer
    pass". This drives a synthetic wide layer — ``n_tables`` tiny
    tables through the REAL ``run_bronze_layer``/``run_silver_layer``
    — in both modes: ``batched`` (LogBuffer as shipped, one append per
    layer pass) vs ``per_row`` (the pre-r15 behavior, simulated by
    flushing after every add), and reports the measured per-pass append
    cost each way plus the per-table delta."""
    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.plans import runner
    from spaceparts_data_pipeline_spark.plans.logs import LogBuffer

    def sources(n):
        out = {}
        for i in range(n):
            out[f"wt{i:03d}"] = spark.range(2_000).select(
                F.col("id").alias("eventid"),
                (F.col("id") % 7).cast("string").alias("category"),
                F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
                .alias("dwcreateddate"))
        return out

    orig_add = LogBuffer.add

    def per_row_add(self, *a, **k):
        orig_add(self, *a, **k)
        self.flush()

    prev_db = spark.catalog.currentDatabase()
    # warm-up: a tiny 2-table layer in a scratch db amortizes cold
    # committer/codegen costs so mode order doesn't bias the comparison
    spark.sql("DROP DATABASE IF EXISTS wide_warm CASCADE")
    spark.sql("CREATE DATABASE wide_warm")
    spark.catalog.setCurrentDatabase("wide_warm")
    try:
        runner.run_bronze_layer(spark, sources(2))
        runner.run_silver_layer(spark)
    finally:
        spark.catalog.setCurrentDatabase(prev_db)
        spark.sql("DROP DATABASE IF EXISTS wide_warm CASCADE")

    rows, per_mode = [], {}
    for mode in ("batched", "per_row"):
        db = f"wide_layer_{mode}"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.sql(f"CREATE DATABASE {db}")
        spark.catalog.setCurrentDatabase(db)
        LogBuffer.add = per_row_add if mode == "per_row" else orig_add
        try:
            t0 = time.perf_counter()
            rb = runner.run_bronze_layer(spark, sources(n_tables))
            bronze_sec = time.perf_counter() - t0
            t0 = time.perf_counter()
            rs = runner.run_silver_layer(spark)
            silver_sec = time.perf_counter() - t0
            assert rb["status"] == "success" and rs["status"] == "success"
            log_rows = (spark.table("bronze_execution_log").count()
                        + spark.table("silver_execution_log").count())
            row = {"check": "wide_layer_log", "mode": mode,
                   "n_tables": n_tables,
                   "bronze_sec": round(bronze_sec, 2),
                   "silver_sec": round(silver_sec, 2),
                   "log_rows": log_rows}
            per_mode[mode] = row
            rows.append(row)
            print(json.dumps(row), flush=True)
        finally:
            LogBuffer.add = orig_add
            spark.catalog.setCurrentDatabase(prev_db)
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    if len(per_mode) == 2:
        b, p = per_mode["batched"], per_mode["per_row"]
        delta = {"check": "wide_layer_log_delta", "n_tables": n_tables,
                 "bronze_append_tax_sec": round(p["bronze_sec"] - b["bronze_sec"], 2),
                 "silver_append_tax_sec": round(p["silver_sec"] - b["silver_sec"], 2),
                 "per_table_append_sec": round(
                     (p["bronze_sec"] - b["bronze_sec"]
                      + p["silver_sec"] - b["silver_sec"]) / (2 * n_tables), 3)}
        rows.append(delta)
        print(json.dumps(delta), flush=True)
    return rows


def measure_bpe_train(spark, base: str, factor: int) -> list[dict]:
    """Round-12 (r11 verdict next-round #2): BPE trainer scaling.
    Sequential training is O(k) Spark rounds — one argmax collect + one
    word-table checkpoint per merge — so wall grows linearly in the
    vocabulary size regardless of cluster width; the greedy
    max-compatible-set batch (exact=False, batch_max=32) does ~k/32
    corpus passes. Measured at 1× and N× (alphabet-rotated shards
    multiply the word vocabulary, so the learnable-merge ceiling grows
    with scale): both modes at k=256, then greedy alone at k=1024 —
    the regime the sequential trainer cannot reasonably enter (1024
    sequential rounds ≈ 20× the greedy wall by the per-round cost
    measured here)."""
    from spaceparts_data_pipeline_spark.operators import text as T

    rows = []
    for scale in ("x1", f"x{factor}"):
        docs = spark.read.parquet(
            os.path.join(base, scale, "documents.parquet")).select("doc_id", "text")
        for mode, kw, k in (
            ("sequential", {"batch_max": 1}, 256),
            ("greedy_b32", {"exact": False}, 256),
            ("greedy_b32", {"exact": False}, 1024),
        ):
            if mode == "sequential" and k > 256:
                continue
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            m = T.bpe_train(docs, k=k, min_count=2, **kw).collect()
            sec = round(time.perf_counter() - t0, 1)
            row = {"check": "bpe_train", "scale": scale, "mode": mode,
                   "k_requested": k, "k_learned": len(m), "sec": sec,
                   "sec_per_merge": round(sec / max(len(m), 1), 3)}
            rows.append(row)
            print(json.dumps(row), flush=True)
    return rows


def measure_gram_skew(spark, base: str, factor: int) -> list[dict]:
    """Round-9 verdict #2: measure BOTH d22 routes (gram-count window
    vs skew_safe groupBy-count + join-back) at 1x and Nx on the zipfian
    fixture, plus a result-equality check between them at Nx. The
    window route pays the indivisible hot-gram partition; the safe
    route pays a second gram-scale exchange — this prints what each
    costs so SCALING.md documents the trade with numbers. d19 shares
    the identical stage (duplicate_passages is d22 minus the removal),
    so one op's measurement covers both."""
    from spaceparts_data_pipeline_spark.operators import text as T

    rows = []
    for scale in ("x1", f"x{factor}"):
        path = _skewed_docs(spark, base, scale)
        docs = spark.read.parquet(path)
        for route, safe in (("window", False), ("skew_safe", True)):
            spark.catalog.clearCache()
            before = _stage_totals(spark)
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                df = T.substring_dedup(docs, k=5, skew_safe=safe)
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.perf_counter() - t0, 3))
            after = _stage_totals(spark)
            row = {"check": "gram_skew", "scale": scale, "route": route,
                   "sec": min(times), "sec_all": times,
                   "shuffle_read_mb": round(
                       (after["shuffle_read"] - before["shuffle_read"]) / 1e6 / 3, 2),
                   "shuffle_write_mb": round(
                       (after["shuffle_write"] - before["shuffle_write"]) / 1e6 / 3, 2)}
            rows.append(row)
            print(json.dumps(row), flush=True)
    # semantic guard at Nx: both routes produce identical results on
    # the skewed fixture (the unit test pins small inputs; this pins
    # the measured one)
    big = spark.read.parquet(_skewed_docs(spark, base, f"x{factor}"))
    a = T.substring_dedup(big, k=5, skew_safe=False)
    b = T.substring_dedup(big, k=5, skew_safe=True)
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    assert diff == 0, f"skew_safe route diverged on the skewed fixture: {diff} rows"
    print(json.dumps({"check": "gram_skew_equal", "factor": factor, "diff": 0}),
          flush=True)
    by = {(r["scale"], r["route"]): r for r in rows}
    print("\n| route | 1x sec | %dx sec | ratio | %dx shuf W MB |" % (factor, factor))
    print("|---|---|---|---|---|")
    for route in ("window", "skew_safe"):
        a1, aN = by[("x1", route)], by[(f"x{factor}", route)]
        print(f"| {route} | {a1['sec']} | {aN['sec']} | "
              f"{round(aN['sec'] / a1['sec'], 2)} | {aN['shuffle_write_mb']} |")
    return rows


def measure_substring_pass(spark, base: str, factor: int, n_batches: int = 5) -> list[dict]:
    """Round-9 verdict #4: scale row for the corpus-WIDE substring pass
    (plans.corpus.run_substring_dedup_pass) — the join-back + rewrite of
    the ASSEMBLED multi-run corpus that the op-level d22 row excludes.
    Reuses (or builds) the 5-batch funnel corpus at each scale, then
    times the global pass over all runs."""
    from spaceparts_data_pipeline_spark.plans.corpus import run_substring_dedup_pass

    rows = []
    for scale in ("x1", f"x{factor}"):
        out = os.path.join(base, f"funnel_path_{scale}")
        if not os.path.isdir(os.path.join(out, "corpus")):
            run_funnel(spark, base, scale, n_batches, backend="path", factor=factor)
        # clear any prior pass output so the overwrite cost is identical
        clean = os.path.join(out, "corpus_clean")
        if os.path.isdir(clean):
            shutil.rmtree(clean)
        spark.catalog.clearCache()
        before = _stage_totals(spark)
        t0 = time.perf_counter()
        stats = run_substring_dedup_pass(spark, out, k=5)
        wall = time.perf_counter() - t0
        after = _stage_totals(spark)
        row = {"check": "substring_pass", "scale": scale, "sec": round(wall, 3),
               **stats,
               "shuffle_read_mb": round(
                   (after["shuffle_read"] - before["shuffle_read"]) / 1e6, 2),
               "shuffle_write_mb": round(
                   (after["shuffle_write"] - before["shuffle_write"]) / 1e6, 2)}
        rows.append(row)
        print(json.dumps(row, default=str), flush=True)
    a, b = rows[0], rows[1]
    print(f"\nsubstring pass: x1 {a['sec']}s / x{factor} {b['sec']}s "
          f"(ratio {round(b['sec'] / a['sec'], 2)}); tokens_removed "
          f"{a['tokens_removed']} -> {b['tokens_removed']}; shuffle W "
          f"{a['shuffle_write_mb']} -> {b['shuffle_write_mb']} MB")
    return rows


def recall_e03b(spark, base: str, factor: int) -> dict:
    """Re-assert e03b's ≥0.9 recall floor at Nx (round-6 verdict #6).

    Ground truth at Nx without an Nx brute force: the shard transform is
    a per-shard diagonal ±1 sign mask, which preserves within-shard
    cosines EXACTLY — so the within-shard true-pair set at Nx is
    precisely the 1x brute-force set shifted by s*ID_STRIDE per shard.
    Cross-shard cosines are random-sign inner products (concentrate
    near 0 for 64-dim; far below the 0.35 threshold), and because
    similar_pairs_lsh verifies candidates with exact cosine it emits NO
    false positives — any cross-shard pair it does emit is a true pair
    outside the replicated set, and the intersection-based recall below
    simply ignores it rather than crediting it.
    """
    import pyspark.sql.functions as F

    from spaceparts_data_pipeline_spark.operators import similarity

    one = spark.read.parquet(os.path.join(base, "x1", "embeddings.parquet"))
    truth_1x = similarity.similar_pairs_bruteforce(one, threshold=0.35) \
        .select("id_a", "id_b").collect()
    expected = {(r["id_a"] + s * ID_STRIDE, r["id_b"] + s * ID_STRIDE)
                for s in range(factor) for r in truth_1x}

    big = spark.read.parquet(os.path.join(base, f"x{factor}", "embeddings.parquet"))
    found_df = similarity.similar_pairs_lsh(
        big, threshold=0.35, n_hint=one.count() * factor,
        **similarity.HIGH_RECALL_LSH,
    ).select(F.least("id_a", "id_b").alias("a"),
             F.greatest("id_a", "id_b").alias("b")).persist()
    found = {(r["a"], r["b"]) for r in found_df.collect()}
    # Precision pin (round-9 verdict #7): the docstring's "no false
    # positives" claim is ASSERTED, not assumed — every emitted pair is
    # re-scored with the JVM-side `cosine` expression on a join back to
    # the embeddings table, independent of the pandas gram-matmul
    # kernel that produced it. A kernel regression that starts leaking
    # sub-threshold candidates fails HERE before SCALING.md's
    # found_pairs>expected caveat can silently rot.
    emb = big.select("vec_id", "embedding")
    rescored = (
        found_df
        .join(emb.select(F.col("vec_id").alias("a"),
                         F.col("embedding").alias("__ea")), "a")
        .join(emb.select(F.col("vec_id").alias("b"),
                         F.col("embedding").alias("__eb")), "b")
        .withColumn("__cos", similarity.cosine(F.col("__ea"), F.col("__eb")))
    )
    false_pos = rescored.filter(F.col("__cos") < 0.35 - 1e-9).count()
    found_df.unpersist()
    hit = len(found & expected)
    rec = hit / len(expected) if expected else float("nan")
    out = {"check": "e03b_recall", "factor": factor,
           "expected_pairs": len(expected), "found_pairs": len(found),
           "hit": hit, "recall": round(rec, 4), "false_positives": false_pos}
    print(json.dumps(out), flush=True)
    assert false_pos == 0, \
        f"e03b precision broken at {factor}x: {false_pos} sub-threshold pairs emitted"
    assert rec >= 0.9, f"e03b recall floor broken at {factor}x: {rec:.3f}"
    return out


#: queries whose construction is gated by lineage.scale_share — the
#: share-crossover measurement set (r16 change 5 / r17 verdict #1+#4)
SHARE_GATED_OPS = [
    "d23_charlm_quality",
    "d24_dsir_importance",
    "e06_knn_ivf_pq",
    "e06b_knn_ivf_pq_residual",
]


def measure_share_crossover(spark, base: str, factor: int,
                            names: list[str] | None = None,
                            reps: int = 4, rounds: int = 2,
                            control: str = "x29_contamination_check") -> dict:
    """Per-round re-measurement of the shared-subtree flip points (r16
    verdict next-round #4: the 16×-data / multi-file crossover legs were
    one-off session logs; this makes them a committed JSON artifact).

    Interleaved A/B at the x1 and xN multi-file layouts (the
    ``build_data`` 32-file scale layout a production lake has): per
    round, each gated query runs ``reps`` times with
    ``spark.spaceparts.shareSubtrees=off`` then ``reps`` times ``on``
    (same cache-clear+GC isolation as bench.py), a control query tags
    machine-noise windows, and values are equality-gated (sorted
    collect) once per (query, scale) before any timing. The artifact
    also records what ``auto`` RESOLVES to at each layout
    (lineage.scale_share's signal) so the adaptive default is checked
    against the measured winner, not assumed.

    Writes SHARE_CROSSOVER_r{N}.json at the repo root when
    $SPARK_GRAFT_ROUND is set (e.g. r17), else prints only.
    """
    from spaceparts_data_pipeline_spark.operators.lineage import scale_share
    from spaceparts_data_pipeline_spark.queries import all_queries

    queries = all_queries()
    names = names or SHARE_GATED_OPS

    def _isolate():
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    def timed(name: str, mode: str, sf_dir: str, n: int) -> list[float]:
        spark.conf.set("spark.spaceparts.shareSubtrees", mode)
        _isolate()
        out = []
        for _ in range(n):
            t0 = time.perf_counter()
            queries[name](spark, sf_dir) \
                .write.format("noop").mode("overwrite").save()
            out.append(round(time.perf_counter() - t0, 3))
        return out

    doc: dict = {"factor": factor, "reps": reps, "rounds": rounds,
                 "cores": spark.sparkContext.defaultParallelism,
                 "scales": {}}
    prev = spark.conf.get("spark.spaceparts.shareSubtrees", None)
    try:
        for scale in ("x1", f"x{factor}"):
            sf_dir = os.path.join(base, scale)
            docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            spark.conf.unset("spark.spaceparts.shareSubtrees")
            auto_signal = scale_share(docs)
            # equality gate: on ≡ off row lists (sorted — multiplicity
            # drift must fail too) before any timing at this scale
            for name in names:
                spark.conf.set("spark.spaceparts.shareSubtrees", "off")
                a = sorted(map(tuple, queries[name](spark, sf_dir).collect()))
                spark.conf.set("spark.spaceparts.shareSubtrees", "on")
                b = sorted(map(tuple, queries[name](spark, sf_dir).collect()))
                if a != b:
                    only_a = [r for r in a if r not in b][:3]
                    only_b = [r for r in b if r not in a][:3]
                    raise AssertionError(
                        f"{name}@{scale}: ON/OFF outputs differ "
                        f"({len(a)} vs {len(b)} rows; off-only sample "
                        f"{only_a}, on-only sample {only_b})")
                print(f"equality {name}@{scale}: {len(a)} rows identical",
                      flush=True)
            table: dict[str, dict] = {}
            ctrl: list[float] = []
            for rnd in range(rounds):
                for name in names:
                    for mode in ("off", "on"):
                        ts = timed(name, mode, sf_dir, reps)
                        table.setdefault(name, {}).setdefault(mode, []).extend(ts)
                        print(f"{scale} round {rnd} {name:28s} {mode:3s} "
                              f"min {min(ts):6.2f}  all {ts}", flush=True)
                if control:
                    ts = timed(control, "off", sf_dir, max(2, reps - 2))
                    ctrl.extend(ts)
                    print(f"{scale} round {rnd} {control:28s} ctl "
                          f"min {min(ts):6.2f}  all {ts}", flush=True)
            summary = {}
            for name, modes in table.items():
                row = {}
                for mode, ts in modes.items():
                    st = sorted(ts)
                    row[mode] = {"min": st[0], "median": st[len(st) // 2],
                                 "n": len(st)}
                row["auto_resolves_to"] = "on" if auto_signal else "off"
                summary[name] = row
            doc["scales"][scale] = {
                "auto_signal": auto_signal,
                "control": ({"min": min(ctrl), "median": sorted(ctrl)[len(ctrl) // 2],
                             "n": len(ctrl)} if ctrl else None),
                "queries": summary,
            }
    finally:
        if prev is None:
            spark.conf.unset("spark.spaceparts.shareSubtrees")
        else:
            spark.conf.set("spark.spaceparts.shareSubtrees", prev)
    print(json.dumps(doc), flush=True)
    round_tag = os.environ.get("SPARK_GRAFT_ROUND", "").strip()
    m = re.match(r"(r\d+)", round_tag)
    if m:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            f"SHARE_CROSSOVER_{m.group(1)}.json")
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
        print(f"artifact written: {path}", flush=True)
    return doc


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=8)
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--ops", nargs="*", default=OPS)
    ap.add_argument("--funnel", action="store_true",
                    help="measure the composed corpus-ingest funnel instead of the op list")
    ap.add_argument("--funnel-backend", choices=["path", "table"], default="path",
                    help="screen-store backend for --funnel: path-backed parquet dirs "
                         "(rename-swap compaction) or catalog tables (view-repoint "
                         "compaction, the object-store-safe backend)")
    ap.add_argument("--funnel-quality",
                    choices=["off", "gopher", "c4", "charlm", "charlm+dsir"],
                    default="off",
                    help="run --funnel WITH this quality gate over the stopword-"
                         "preserving multi-line shards (gate rejections scale with "
                         "data instead of eliminating every shard>0 doc); 'charlm' "
                         "self-calibrates its threshold per scale (ref-slice median "
                         "avg-NLL — see run_funnel's docstring for why a fixed "
                         "threshold cannot transfer across scales)")
    ap.add_argument("--batches", type=int, default=5)
    ap.add_argument("--recall-e03b", action="store_true",
                    help="re-assert e03b's recall floor at Nx against replicated 1x brute-force truth")
    ap.add_argument("--hot-gram", action="store_true",
                    help="measure d22's window vs skew_safe routes on the "
                         "ABSOLUTE-hot-gram fixture (one gram hash carrying all "
                         "duplication) with shuffle partitions scaled with the "
                         "data, reporting per-task max/median straggler ratios "
                         "— the measured trigger for skew_safe=True")
    ap.add_argument("--skew-gram", action="store_true",
                    help="measure d22's window vs skew_safe routes on the zipfian "
                         "boilerplate-gram fixture (hot-gram straggler evidence)")
    ap.add_argument("--substring-pass", action="store_true",
                    help="measure the corpus-WIDE substring dedup pass over the "
                         "assembled 5-batch funnel corpus at 1x and Nx")
    ap.add_argument("--semdedup-megacell", action="store_true",
                    help="measure the max_cell_size guard on a planted "
                         "50%%-mass mega-cluster at 1x and Nx (wall + task "
                         "straggler ratio, guarded vs unguarded)")
    ap.add_argument("--bpe-train", action="store_true",
                    help="measure BPE trainer wall at 1x and Nx: sequential "
                         "(one merge per round) vs greedy batch-32 at k=256, "
                         "plus greedy at k=1024 — the production-vocab regime")
    ap.add_argument("--semdedup", action="store_true",
                    help="measure d25 SemDeDup at Nx with k fixed (the wrong way: "
                         "n^2/k pair space) vs k scaled with n (the configuration "
                         "rule the paper implies) — see measure_semdedup")
    ap.add_argument("--funnel-semdedup", action="store_true",
                    help="run --funnel WITH the cross-run semantic screen as a "
                         "sixth live stage (embeddings vec_id-aligned with "
                         "doc_id; threshold 0.70 on this fixture — see "
                         "run_funnel's docstring); needs --funnel-quality off")
    ap.add_argument("--semdedup-store", action="store_true",
                    help="measure the productionized d26 vector store at Nx: "
                         "screen cost of a fixed probe batch as the bucketed "
                         "store grows (should stay ~flat), the legacy one-frame "
                         "layout as the comparison row, and the screen's recall "
                         "on planted cross-batch duplicates")
    ap.add_argument("--silver-profile", action="store_true",
                    help="step-attribute a silver pass (transform/cache, "
                         "quarantine append, bucket write, swap overhead, "
                         "final count) at 1x and Nx — r14 verdict #4: "
                         "profile before touching the slowest layer")
    ap.add_argument("--wide-layer", action="store_true",
                    help="validate the LogBuffer claim at WIDTH (r15 "
                         "verdict #6): a synthetic 50-table layer through "
                         "the real runners, batched vs per-row appends, "
                         "reporting the measured per-pass append tax")
    ap.add_argument("--wide-tables", type=int, default=50)
    ap.add_argument("--share-crossover", action="store_true",
                    help="re-measure the shareSubtrees flip points as a "
                         "per-round artifact (SHARE_CROSSOVER_r{N}.json "
                         "when $SPARK_GRAFT_ROUND is set): interleaved "
                         "off/on A/B over the scale-gated queries at the "
                         "x1 and xN multi-file layouts, equality-gated, "
                         "with the auto signal's resolution recorded")
    ap.add_argument("--crossover-reps", type=int, default=4)
    ap.add_argument("--crossover-rounds", type=int, default=2)
    ap.add_argument("--gold", action="store_true",
                    help="measure gold-layer throughput (bench.gold_throughput "
                         "protocol) at 1x and Nx fact volume — the sf0.1 bench "
                         "reading is fixed-overhead-dominated; the rate should "
                         "climb with volume")
    args = ap.parse_args()
    if args.factor < 2:
        # x1 and x{factor} share one data directory at factor 1, so the
        # scaled leg would overwrite the baseline it is compared against
        ap.error("--factor must be >= 2")

    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale")

    import __spark_entry__ as entry_mod

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    if not args.skip_build:
        build_data(spark, src_dir, base, args.factor)

    from spaceparts_data_pipeline_spark.queries import all_queries
    queries = all_queries()
    # Arrow/python-worker warmup (same rationale as bench.py)
    spark.range(1 << 14).repartition(spark.sparkContext.defaultParallelism) \
        .mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()

    if args.recall_e03b:
        recall_e03b(spark, base, args.factor)
        return

    if args.skew_gram:
        measure_gram_skew(spark, base, args.factor)
        return

    if args.hot_gram:
        measure_hotgram(spark, base, args.factor)
        return

    if args.substring_pass:
        measure_substring_pass(spark, base, args.factor, args.batches)
        return

    if args.semdedup_megacell:
        measure_semdedup_megacell(spark, base, args.factor)
        return

    if args.bpe_train:
        measure_bpe_train(spark, base, args.factor)
        return

    if args.semdedup:
        measure_semdedup(spark, base, args.factor)
        return

    if args.semdedup_store:
        measure_semdedup_store(spark, base, args.factor)
        return

    if args.wide_layer:
        measure_wide_layer_log(spark, args.wide_tables)
        return

    if args.share_crossover:
        measure_share_crossover(spark, base, args.factor,
                                reps=args.crossover_reps,
                                rounds=args.crossover_rounds)
        return

    if args.gold:
        measure_gold(spark, src_dir, base, args.factor)
        return

    if args.silver_profile:
        measure_silver_steps(spark, src_dir, base, args.factor)
        return

    if args.funnel:
        per_scale = {}
        for scale in ("x1", f"x{args.factor}"):
            per_scale[scale] = run_funnel(spark, base, scale, args.batches,
                                          backend=args.funnel_backend,
                                          quality=args.funnel_quality,
                                          factor=args.factor,
                                          semdedup=args.funnel_semdedup)
        print_funnel_tables(per_scale, args.factor)
        return

    results: dict[str, dict[str, dict]] = {}
    for scale in ("x1", f"x{args.factor}"):
        sf_dir = os.path.join(base, scale)
        for op in args.ops:
            r = run_op(spark, queries, op, sf_dir)
            results.setdefault(op, {})[scale] = r
            print(json.dumps({"scale": scale, **r}), flush=True)

    xN = f"x{args.factor}"
    print(f"\n| op | 1x sec | {args.factor}x sec | time ratio | 1x rows | {args.factor}x rows | "
          f"{args.factor}x shuffle W MB | shuffle W ratio |")
    print("|---|---|---|---|---|---|---|---|")
    for op in args.ops:
        a, b = results[op]["x1"], results[op][xN]
        tr = round(b["sec"] / a["sec"], 2) if a["sec"] else float("nan")
        wr = (round(b["shuffle_write_mb"] / a["shuffle_write_mb"], 2)
              if a["shuffle_write_mb"] > 0.01 else "-")
        print(f"| {op} | {a['sec']} | {b['sec']} | {tr} | {a['rows_out']} | {b['rows_out']} | "
              f"{b['shuffle_write_mb']} | {wr} |")


if __name__ == "__main__":
    main()
