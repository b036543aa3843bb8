#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE compact JSON line (≤1.9k chars so
the driver's 2000-char stdout tail parses it whole):
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "queries_corpus": {...}, "queries_twins": {...}, "sf": ...,
 "layer_rows_per_hour": {...}} — dispersion/vs_prev/notes land in the
full record appended to BENCH_LOCAL.jsonl.

Each query executes fully through the noop sink (no driver collect, no
result materialization cost) — the measured time is scan + compute +
shuffle, which is what scales.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: headline set: flagship + one representative per operator family whose
#: cost is scale-relevant (agg, join+topk, window dedup, cross-fact,
#: composite silver slice, minhash LSH, knn, text quality).
HEADLINE = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q04_flagship_sales_eur",
    "q05_dedup_latest_events",
    "q16_budget_variance_monthly",
    "p01_silver_events_pipeline",
    "d04_text_quality",
    "d07_minhash_lsh_pairs",
    "e01_knn_topk",
    "e05_knn_topk_vectorized",
    "e03_similar_pairs_lsh",
]

#: corpus-pipeline ops timed separately: NOT part of the headline total
#: (kept at the same 11 queries since round 1 for round-over-round
#: comparability) but recorded per round so drift in the LLM-data
#: family is visible without re-deriving it from scale_harness runs.
CORPUS = [
    "d13_canonical_corpus",
    "d14_canonical_corpus_lsh",
    "x29_contamination_check",
    # late round 6: the cross-run ingestion screens
    "d15_incremental_dedup",
    # NOTE d16 stepped ~4.0 -> ~5 s in round 9 BY DESIGN: its MinHash
    # profile doubled to 32 perms / 4 rows-per-band — the pinned
    # profile whose admit set is provably equal to an exact-Jaccard
    # screen, buying the FULL value-hash oracle (SCALING.md round-9).
    # Not a plan regression; the 8x scaling class is unchanged.
    "d16_incremental_near_dedup",
    # round 7: the COMPOSED ingest funnel (exact-only mode, the c01
    # driver query) — tracked per round so drift in the end-to-end
    # artifact is visible, not just its member stages — and the
    # duplicated-passage window plan (the heaviest linear text shuffle)
    "c01_corpus_funnel",
    "d19_duplicate_passages",
    # round 9: the substring REMOVAL built on d19's gram window — the
    # cleaned-corpus path a Lee-et-al dedup actually ships
    "d22_substring_dedup",
    # round 10: the model-based selection signals (char-bigram LM NLL,
    # DSIR importance weights) — both explode→partial-combine→broadcast
    # model join plans; tracked so the broadcast-model shape's cost
    # stays visible next to the rule gates they complement — and the
    # composed triad pipeline (both gates + the per-source token budget
    # as one Catalyst plan)
    "d23_charlm_quality",
    "d24_dsir_importance",
    "c02_selection_pipeline",
    # round 11: BPE merge training (K vocab-bounded rounds driven by
    # per-round argmax collects — eager, so rebuild-inside-timer) and
    # the IVF-PQ ANN path (codebook training + encode + ADC rank)
    "x37_bpe_merges",
    # round 17 (r16 verdict #5): the greedy-batched trainer — the
    # production-vocab path (k=32 in ~k/batch corpus passes) — gets its
    # own tracked line next to the exact trainer it relaxes. ADDED key;
    # nothing removed or renamed.
    "x37b_bpe_merges_greedy",
    "e06_knn_ivf_pq",
    "e06b_knn_ivf_pq_residual",
    # round 13 late: corpus-wide line dedup (heaviest new linear text
    # shuffle — same md5-keyed window class as d19) and sliding-window
    # chunking (0-exchange scan-rate Generate; tracked as the floor the
    # text family's shuffle plans are measured against)
    "d27_line_dedup_global",
    "x40_doc_chunking",
]

#: round 15 (r14 verdict "What's wrong #1" / next-round #3): the
#: deterministic-twin cost rows are published against the STANDARD
#: 32-file-per-table layout (the scale_harness layout a production
#: lake has), not the single-file testdata parquet — single-file
#: understates d07b ~5× because one input file serializes the md5
#: compute that the multi-file layout spreads over all cores. Timed
#: against a documents-only 32-file copy rebuilt per run (untimed);
#: keys carry the @multifile32 tag so round-over-round deltas never
#: mix layouts.
TWINS = [
    "d07_minhash_lsh_pairs",
    "d07b_minhash_lsh_det",
    "d08_simhash",
    "d08b_simhash_det",
]
TWIN_LAYOUT_FILES = 32
TWIN_TAG = f"@multifile{TWIN_LAYOUT_FILES}"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from spaceparts_data_pipeline_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="spaceparts-bench")
    spark.sparkContext.setLogLevel("ERROR")
    from spaceparts_data_pipeline_spark.queries import all_queries
    queries = all_queries()

    # JVM/codegen warmup on the smallest table so query 1 isn't penalized.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    # Python-worker + Arrow warmup: the vectorized kNN / LSH queries pay
    # worker spawn + Arrow codepath init on first use (~0.5s of noise on
    # whichever runs first); spin the pool up before any timing starts.
    spark.range(1 << 14).repartition(spark.sparkContext.defaultParallelism) \
        .mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()

    def time_query(name: str, rebuild: bool = False,
                   data_dir: str | None = None) -> tuple[float, dict]:
        # rebuild=True: build INSIDE the timed region — the
        # connected-components family (CORPUS list) runs its iterative
        # jobs eagerly at construction via localCheckpoint, so building
        # once outside the timer would exclude that work. The HEADLINE
        # set stays build-once (lazy plans; construction is driver-side
        # schema probing) to keep its total comparable with rounds 1-5.
        qdir = data_dir or sf_dir
        if rebuild:
            def df():
                return queries[name](spark, qdir)
        else:
            built = queries[name](spark, qdir)
            def df():
                return built
        # Isolate queries from each other: drop any cache blocks a prior
        # query left and let the JVM collect its garbage debt, so query N
        # isn't taxed for query N-1's allocations (observed: later
        # headline queries drifting +0.3-1.5s run-over-run with no code
        # change on those paths).
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        reps: list[float] = []
        for _ in range(3):  # min of 3: steady-state, amortizes codegen + GC noise
            start = time.perf_counter()
            df().write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - start)
        # Sub-second queries sit inside the ±0.4s same-code JVM noise
        # band, where min-of-3 can't tell real drift from variance —
        # extend those to min-of-5 and report median+spread so a future
        # regression is separable from noise (round-5 verdict #5).
        if min(reps) < 1.0:
            for _ in range(2):
                start = time.perf_counter()
                df().write.format("noop").mode("overwrite").save()
                reps.append(time.perf_counter() - start)
        reps.sort()
        return round(reps[0], 3), {
            "n": len(reps),
            "median": round(reps[len(reps) // 2], 3),
            "spread": round(reps[-1] - reps[0], 3),
        }

    timings: dict[str, float] = {}
    dispersion: dict[str, dict] = {}
    for name in HEADLINE:
        timings[name], dispersion[name] = time_query(name)
    corpus_timings: dict[str, float] = {}
    for name in CORPUS:
        corpus_timings[name], dispersion[name] = time_query(name, rebuild=True)

    # det-twin cost rows at the standard multi-file layout (see TWINS)
    twin_dir = _multifile_layout(spark, sf_dir, n_files=TWIN_LAYOUT_FILES)
    twin_timings: dict[str, float] = {}
    for name in TWINS:
        t, disp = time_query(name, data_dir=twin_dir)
        twin_timings[name + TWIN_TAG] = t
        dispersion[name + TWIN_TAG] = disp

    layer_rates, layer_dispersion = layer_throughput(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    doc = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_corpus": corpus_timings,
        "queries_twins": twin_timings,
        "twin_layout": f"{TWIN_LAYOUT_FILES}-file documents.parquet (scale_harness"
                       " layout), rebuilt per run, untimed setup",
        "query_dispersion": dispersion,
        "sf": float(sf),
        "layer_rows_per_hour": layer_rates,
        "layer_dispersion": layer_dispersion,
        "vs_prev": vs_previous_round({**timings, **corpus_timings, **twin_timings},
                                     layer_rates, sf=float(sf)),
        # the round-3 q03/d07 drift question, answered in round 5: five
        # same-code runs spread up to ±0.4s per query and ~2× on layer
        # rates (cold JVM/committer warmup + GC debt from earlier
        # queries), with no plan change — hence the per-query isolation
        # (clearCache+GC), min-of-3, worker-pool warmup, and the
        # median-of-3 + dispersion layer passes above.
        "notes": "per-query spread up to ±0.4s across same-code runs (JVM/GC + "
                 "cold-start variance, plans unchanged); bench isolates queries "
                 "via cache-clear+GC, min-of-3 (min-of-5 + median/spread under "
                 "1s — see query_dispersion; deltas inside a query's spread are "
                 "noise, not drift), Arrow-pool warmup; layer rates are "
                 "median-of-3 after a discarded warm-up pass with spread in "
                 "layer_dispersion (deltas inside the spread are noise); "
                 "queries_twins rows run against the standard 32-file layout "
                 "(single-file serializes the md5 compute ~5x on d07b — r14 "
                 "verdict #3), keys tagged @multifile32",
    }
    # stdout gets a COMPACT line: the driver's BENCH_r*.json wrapper
    # keeps only the last 2000 chars of stdout and records
    # "parsed": null when the final JSON line exceeds that (observed
    # r07 and again r13-r15) — so the stamped per-round artifact was a
    # left-truncated fragment. The compact line (~1.3k chars: every
    # timing + layer rates) parses in the wrapper; dispersion/vs_prev/
    # notes live in the full BENCH_LOCAL.jsonl record below.
    compact = {k: doc[k] for k in
               ("metric", "value", "unit", "queries", "queries_corpus",
                "queries_twins", "sf", "layer_rows_per_hour")}
    compact["detail"] = "BENCH_LOCAL.jsonl"
    # dispersion honesty (r16 verdict #8): this machine shows 2-2.5×
    # same-tree spreads, so a min-only archive can't tell drift from a
    # stall. Flag the SUSPECT readings — medians ≥25% (and ≥0.15 s)
    # above their min — in the compact line itself; a quiet run emits
    # an empty dict, a stall-hit run names the inflated queries. Full
    # per-query dispersion stays in BENCH_LOCAL.jsonl. Shed FIRST when
    # the line would overflow the driver wrapper's 2000-char tail.
    mins = {**timings, **corpus_timings, **twin_timings}
    compact["median_if_noisy"] = {
        name: dispersion[name]["median"] for name, mn in mins.items()
        if dispersion[name]["median"] >= 1.25 * mn
        and dispersion[name]["median"] - mn >= 0.15}
    line = json.dumps(compact)
    # never regress to an unparseable wrapper: shed optional sections
    # one at a time, re-checking the length after each pop
    for optional in ("median_if_noisy", "queries_twins", "queries_corpus",
                     "query_count"):
        if len(line) <= 1900:
            break
        compact.pop(optional, None)
        line = json.dumps(compact)
    # leading newline: terminates any \r-progress fragment a foreign
    # conf might have left on stdout, so the JSON is always its own line
    print("\n" + line)
    # Persist the FULL output to a repo-local history file — the source
    # of truth vs_previous_round diffs against (round-7 verdict #6).
    try:
        record = {"ts": time.time(), **doc}
        round_tag = os.environ.get("SPARK_GRAFT_ROUND")
        if round_tag:
            record["round"] = round_tag
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.jsonl"), "a") as fh:
            fh.write(json.dumps(record) + "\n")
    except OSError:
        pass


def _multifile_layout(spark, sf_dir: str, n_files: int = 32,
                      tables: tuple[str, ...] = ("documents",)) -> str:
    """Re-lay the named tables as ``n_files`` parquet files each under a
    /tmp dir and return it — the standard multi-file layout the TWINS
    rows are measured against. Rebuilt every run (one small table, a
    second or two, OUTSIDE any timed region) so a stale copy can never
    desync from the driver's testdata."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out = f"/tmp/bench_multifile_{tag}_{n_files}"
    for t in tables:
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")) \
            .repartition(n_files).write.mode("overwrite") \
            .parquet(os.path.join(out, f"{t}.parquet"))
    return out


HISTORY_FILE = "BENCH_LOCAL.jsonl"


def _previous_doc(sf: float | None = None) -> tuple[str, dict] | None:
    """Latest usable previous bench record: last valid line of the local
    history first (full-fidelity), else the newest driver BENCH_r*.json
    whose "parsed" payload survived capture (skip "parsed": null).
    Records at a DIFFERENT scale factor are skipped when ``sf`` is
    given — an ad-hoc sf0.01 surface check in the local history must
    not become the baseline that sf0.1 deltas read against."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    hist = os.path.join(here, HISTORY_FILE)
    if os.path.exists(hist):
        with open(hist) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        for ln in reversed(lines):
            try:
                doc = json.loads(ln)
            except json.JSONDecodeError:
                continue
            if doc.get("queries") and (sf is None or doc.get("sf") == sf):
                # Identify WHICH run the deltas are against — a bare
                # filename label can't distinguish the previous round
                # from an ad-hoc partial local run.
                tag = doc.get("round") or doc.get("ts")
                label = f"{HISTORY_FILE}@{tag}" if tag else HISTORY_FILE
                return label, doc
    rounds = sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
        reverse=True,
    )
    for path in rounds:
        try:
            with open(path) as fh:
                doc = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = doc.get("parsed", doc)  # driver wraps bench stdout under "parsed"
        if (isinstance(parsed, dict) and parsed.get("queries")
                and (sf is None or parsed.get("sf") == sf)):
            return os.path.basename(path), parsed
    return None


def vs_previous_round(timings: dict[str, float], layer_rates: dict | None = None,
                      sf: float | None = None) -> dict:
    """Per-query delta (sec, negative = faster) vs the latest usable
    bench record (local history first — see _previous_doc), plus
    layer-throughput deltas (rows/h, positive = faster), so a
    physical-layout regression in the write path is as visible
    round-over-round as a query regression. Layer rates are medians
    (of 3 post-warm-up passes) from round 11 on — the first new-format
    record's layer delta compares a median against the old best-pair
    sample and reads ~10-20% low; judge deltas against
    layer_dispersion's spread."""
    found = _previous_doc(sf)
    if found is None:
        return {}
    baseline, parsed = found
    prev = {**parsed.get("queries", {}), **parsed.get("queries_corpus", {}),
            **parsed.get("queries_twins", {})}
    prev_rates = parsed.get("layer_rows_per_hour", {})
    return {
        "baseline": baseline,
        "deltas": {q: round(t - prev[q], 3) for q, t in timings.items() if q in prev},
        "new": [q for q in timings if q not in prev],
        "layer_rows_per_hour_deltas": {
            k: round(v - prev_rates[k])
            for k, v in (layer_rates or {}).items()
            if k in prev_rates and k != "rows"
        },
    }


def layer_throughput(spark, sf_dir: str) -> tuple[dict, dict]:
    """Bronze/silver layer throughput (rows/hour incl. table writes) over
    the three biggest synthetic tables — directly comparable to the
    reference's recorded rates in BASELINE.md (bronze ≈61M rows/h,
    silver ≈78M rows/h on Fabric Spark).

    1 discarded warm-up pass + 3 measured passes, publishing per-layer
    MEDIAN rates plus a {n, median, spread} dispersion record exactly
    like query_dispersion (round-10 verdict #4: the old best-pair
    single sample sat inside its own ~2× same-code variance, so the
    2×-of-baseline regression bar had no usable signal — a −25%
    round-over-round reading was uninterpretable). The warm-up pass
    exists because a cold first pass understates steady-state by ~2×
    (first-run JVM/codegen/committer warmup — measured 336M vs 628M
    rows/h bronze back-to-back in one process), and steady-state is
    the number that predicts long-running cluster ingest, which is
    what the reference's Fabric rates describe too.

    Returns (rates, dispersion): rates = {rows, bronze, silver} with
    medians, dispersion = {bronze: {n, median, spread}, silver: ...}
    where spread = max−min rate across the measured passes.
    """
    from spaceparts_data_pipeline_spark.plans.runner import run_bronze_layer, run_silver_layer
    from spaceparts_data_pipeline_spark.sources.parquet import load_table

    n_rows = 0
    samples: dict[str, list[float]] = {"bronze": [], "silver": []}
    for attempt in range(4):                     # pass 0 = discarded warm-up
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        db = f"bench_layers_{attempt}"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.sql(f"CREATE DATABASE {db}")
        prev = spark.catalog.currentDatabase()
        spark.catalog.setCurrentDatabase(db)
        try:
            sources = {t: load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "events")}
            n_rows = sum(df.count() for df in sources.values())

            # the orchestrated layer passes the production CLI runs; the
            # log flush is inside the timed region, it IS part of the pass
            start = time.perf_counter()
            b = run_bronze_layer(spark, sources)
            bronze_sec = time.perf_counter() - start

            start = time.perf_counter()
            s = run_silver_layer(spark)
            silver_sec = time.perf_counter() - start
            assert all(r["status"] == "success" and "log_flush_error" not in r
                       for r in (b, s)), (b, s)
            if attempt > 0:
                samples["bronze"].append(n_rows / bronze_sec * 3600)
                samples["silver"].append(n_rows / silver_sec * 3600)
        finally:
            spark.catalog.setCurrentDatabase(prev)
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    rates = {"rows": n_rows}
    dispersion = {}
    for layer, vals in samples.items():
        vals.sort()
        med = vals[len(vals) // 2]
        rates[layer] = round(med)
        dispersion[layer] = {"n": len(vals), "median": round(med),
                             "spread": round(vals[-1] - vals[0])}
    gold_rate, gold_disp = gold_throughput(spark, sf_dir)
    rates["gold"] = gold_rate
    gold_disp["protocol"] = "8x_facts"   # round-14 protocol change; see gold_throughput
    dispersion["gold"] = gold_disp
    return rates, dispersion


def _synthesize_silver_domain(spark, sf_dir: str, fact_scale: int = 1) -> None:
    """Map the TPC-H-ish testdata into the silver domain tables the gold
    builders consume (same star schema the reference's Gold notebook
    reads) — lineitem → fact_invoices (600k rows at sf0.1), orders →
    fact_orders — so the measured gold rate reflects join+project+write.
    ``fact_scale`` replicates the FACT rows (deterministic explode with
    shifted document numbers; dims unchanged) so the gold pass can be
    measured at a volume where fixed per-table swap overhead stops
    dominating (round-13 verdict #2). Setup only; runs OUTSIDE the
    timed region."""
    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.sources.parquet import load_table

    def _xN(df):
        if fact_scale <= 1:
            return df.withColumn("__rep", F.lit(0))
        return df.withColumn(
            "__rep", F.explode(F.sequence(F.lit(0), F.lit(fact_scale - 1))))

    li_base = load_table(spark, sf_dir, "lineitem")
    orders_base = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # replica stride DERIVED from the data (next power of 10 above the
    # max order key), not a fixed constant: at sf≥~17 o_orderkey passes
    # 100M and a fixed 1e8 stride would collide replica k's shifted keys
    # with replica k+1's originals, corrupting the synthetic volume.
    # Max over the UN-exploded inputs (replication can't change a max;
    # scanning the ×N form would cost fact_scale× the rows), and over
    # orders alone: every l_orderkey is an o_orderkey in TPC-H data.
    if fact_scale > 1:
        max_key = orders_base.agg(F.max("o_orderkey")).collect()[0][0] or 0
        stride = 10 ** len(str(int(max_key)))
    else:
        stride = 0
    li = _xN(li_base)
    orders = _xN(orders_base)
    rep_shift = (F.col("__rep").cast("long") * F.lit(stride)).cast("long")

    price = F.col("l_extendedprice")
    li.select(
        F.pmod("l_orderkey", F.lit(15000)).alias("customer_key"),
        F.col("l_partkey").alias("product_key"),
        F.col("l_shipdate").alias("billing_date"),
        F.date_add(F.to_date("l_shipdate"), 5).alias("ship_date"),
        (F.col("l_orderkey") + rep_shift).alias("billing_document_number"),
        F.col("l_linenumber").alias("billing_document_line_item_number"),
        F.col("l_returnflag").alias("billing_document_type_code"),
        F.concat(F.lit("CUR"), F.pmod("l_suppkey", F.lit(25))).alias("local_currency"),
        price.alias("net_invoice_value"),
        (price * F.lit(0.8)).alias("net_invoice_cogs"),
        (price * F.lit(0.01)).alias("delivery_cost"),
        (price * F.lit(0.02)).alias("freight"),
        (price * F.col("l_tax")).alias("taxes_commercial_fees"),
        F.col("l_quantity").alias("net_invoice_quantity"),
        (F.pmod("l_orderkey", F.lit(10)) < 9).cast("int").alias("otd_indicator"),
    ).write.mode("overwrite").saveAsTable("silver_fact_invoices")

    orders.select(
        F.col("o_custkey").alias("customer_key"),
        (F.pmod("o_orderkey", F.lit(20000)) + 1).alias("product_key"),
        F.col("o_orderdate").alias("order_date"),
        F.date_add(F.to_date("o_orderdate"), 7).alias("ship_date"),
        F.date_add(F.to_date("o_orderdate"), 14).alias("request_goods_receipt_date"),
        (F.col("o_orderkey") + rep_shift).alias("sales_order_document_number"),
        F.lit(1).alias("sales_order_document_line_item_number"),
        F.col("o_orderstatus").alias("sales_order_document_line_item_status"),
        F.col("o_totalprice").alias("net_order_value"),
        F.lit(1.0).alias("net_order_quantity"),
        F.concat(F.lit("CUR"), F.pmod("o_custkey", F.lit(25))).alias("local_currency"),
    ).write.mode("overwrite").saveAsTable("silver_fact_orders")

    orders.select(
        F.col("o_custkey").alias("customer_key"),
        (F.pmod("o_orderkey", F.lit(20000)) + 1).alias("product_key"),
        F.when(F.pmod("o_orderkey", F.lit(50)) == 0, F.lit(None))
         .otherwise(F.trunc(F.to_date("o_orderdate"), "month")).alias("month"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("total_budget"),
    ).write.mode("overwrite").saveAsTable("silver_fact_budget")

    cust.select(
        F.col("c_custkey").alias("customer_key"),
        F.col("c_name").alias("customer_sold_to_name"),
        F.col("c_name").alias("account_name"),
        F.col("c_mktsegment").alias("key_account_name"),
        F.lit("Direct").alias("transaction_type"),
        F.col("c_mktsegment").alias("account_type"),
        F.concat(F.lit("AM-"), F.pmod("c_nationkey", F.lit(10))).alias("account_manager"),
        F.concat(F.lit("KAM-"), F.pmod("c_nationkey", F.lit(5))).alias("key_account_manager"),
        F.concat(F.lit("ST-"), F.col("c_nationkey")).alias("station"),
        F.lit("legacy").alias("system"),
    ).write.mode("overwrite").saveAsTable("silver_dim_customers")

    nation.join(region, nation["n_regionkey"] == region["r_regionkey"]).select(
        F.concat(F.lit("ST-"), F.col("n_nationkey")).alias("station"),
        F.col("n_name").alias("interplanetary_region"),
        F.col("r_name").alias("territory"),
    ).write.mode("overwrite").saveAsTable("silver_dim_regions")

    ams = [(f"AM-{i}", f"am{i}@example.test", "Account Manager") for i in range(10)]
    kams = [(f"KAM-{i}", f"kam{i}@example.test", "Key Account Manager") for i in range(5)]
    spark.createDataFrame(
        ams + kams, "employee_name string, employee_email string, role string"
    ).write.mode("overwrite").saveAsTable("silver_dim_employees")

    part.select(
        F.col("p_partkey").alias("product_key"),
        F.col("p_name").alias("product_name"),
        F.col("p_type").alias("type"),
        F.get(F.split("p_type", " "), 0).alias("subtype"),
        F.col("p_brand").alias("sub_brand_name"),
        (F.col("p_size") / F.lit(10.0)).alias("weight_tonnes"),
        F.get(F.split("p_name", " "), 0).alias("color"),
        F.get(F.split("p_type", " "), 1).alias("material"),
    ).write.mode("overwrite").saveAsTable("silver_dim_products")

    part.select(F.col("p_brand").alias("sub_brand")).distinct().select(
        "sub_brand",
        F.substring("sub_brand", 1, 7).alias("brand"),
        (F.length("sub_brand") % 2 == 0).alias("flagship"),
        F.lit("core").alias("class"),
        F.lit("VP Parts").alias("product_brand_vp"),
    ).write.mode("overwrite").saveAsTable("silver_dim_brands")

    nation.select(
        F.concat(F.lit("CUR"), F.col("n_nationkey")).alias("from_currency"),
        (F.lit(1.0) + F.col("n_nationkey") * F.lit(0.01)).alias("rate"),
    ).write.mode("overwrite").saveAsTable("silver_dim_budget_rate")

    spark.createDataFrame(
        [("A", "Invoice"), ("N", "Invoice"), ("R", "Adjustment")],
        "billing_document_type_code string, group_col string",
    ).write.mode("overwrite").saveAsTable("silver_dim_invoice_doctype")


def gold_throughput(spark, sf_dir: str, fact_scale: int = 8) -> tuple[int, dict]:
    """Gold layer throughput (rows/hour: 6 star-schema builders —
    broadcast joins + projections — through the versioned-overwrite
    write path, counts and execution-log rows included), comparable to
    BASELINE.md's gold effective rate ≈151M rows/h. Round-11 verdict
    gap #2: bronze/silver had measured rates, gold's evidence was a
    single gold-shaped query. Same protocol as layer_throughput:
    silver domain tables are synthesized ONCE (untimed), then 1
    discarded warm-up + 3 measured gold.run_full passes; rate = rows
    LANDED in gold tables per pass / pass seconds, published as the
    median with an {n, median, spread} dispersion record.

    ``fact_scale=8`` (round-13 verdict #2, round-14): the pass is
    measured at 8× fact volume — sf0.1's ~0.9M-row pass was short
    enough that fixed per-table swap latency (catalog ops, commit,
    MSCK) dominated the reading and its dispersion (r13: 78.8M ±31.6M
    rows/h — the protocol at the 2× floor while the 8× harness measured
    708M). The swap overhead itself was ALSO cut this round (batched
    log appends, writer-aligned partitioned writes: a warm sf0.1 pass
    went 25 s → 10 s), but the rate is published at the volume where it
    measures the design, not the fixed costs."""
    from spaceparts_data_pipeline_spark.plans import gold as gold_plan

    db = "bench_gold"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(db)
    vals: list[float] = []
    try:
        _synthesize_silver_domain(spark, sf_dir, fact_scale=fact_scale)
        for attempt in range(4):                 # pass 0 = discarded warm-up
            spark.catalog.clearCache()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            start = time.perf_counter()
            results = gold_plan.run_full(spark)
            sec = time.perf_counter() - start
            assert all(r.get("status") == "success" for r in results.values()), results
            n_gold = sum(r["records"] for r in results.values())
            if attempt > 0:
                vals.append(n_gold / sec * 3600)
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    vals.sort()
    med = vals[len(vals) // 2]
    return round(med), {"n": len(vals), "median": round(med),
                        "spread": round(vals[-1] - vals[0])}


if __name__ == "__main__":
    main()
