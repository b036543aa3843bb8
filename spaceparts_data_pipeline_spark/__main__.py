"""CLI: run the medallion pipeline over a landing directory.

Usage:
    python -m spaceparts_data_pipeline_spark --source-dir DIR [--mode full|incremental]
        [--ts-col dwcreateddate] [--database spaceparts] [--horizon YYYY-MM-DD]

    # training-corpus ingestion funnel over the landing dir's document
    # tables (quality -> redact -> dedup screens -> contamination ->
    # corpus + manifest + stores; see plans/corpus.py):
    python -m spaceparts_data_pipeline_spark --source-dir DIR \
        --corpus-out OUT --run-id RUN [--benchmark BENCH.parquet]

Each ``<table>.parquet`` / ``.jsonl`` / ``.json`` / ``.csv`` in
--source-dir becomes a source table; JSONL/CSV go through the
corrupt-capture readers, with malformed lines preserved raw in
``landing_quarantine_<table>`` instead of poisoning bronze. The pipeline
lands bronze_/silver_/gold_ tables in the session catalog and prints a
one-line JSON status report to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="spaceparts_data_pipeline_spark")
    p.add_argument("--source-dir", required=True, help="directory of <table>.parquet inputs")
    p.add_argument("--mode", choices=["full", "incremental"], default="full")
    p.add_argument("--ts-col", default="dwcreateddate", help="watermark column for incremental mode")
    p.add_argument("--database", default="spaceparts", help="catalog database for layer tables")
    p.add_argument("--horizon", default=None, help="quarantine future-date cutoff (default: today+730d)")
    p.add_argument("--skip-gold", action="store_true", help="run bronze+silver only")
    p.add_argument("--warehouse", default=None,
                   help="persistent warehouse dir (Hive/Derby catalog) so layer tables "
                        "survive across runs; default: in-memory catalog, single run")
    p.add_argument("--corpus-out", default=None,
                   help="run the training-corpus ingestion funnel (plans/corpus.py) over "
                        "the landing dir's document tables instead of the medallion "
                        "pipeline; output root for corpus/manifest/stores")
    p.add_argument("--run-id", default=None,
                   help="corpus mode: run identifier (corpus partition + replay scope)")
    p.add_argument("--benchmark", default=None,
                   help="corpus mode: parquet of benchmark docs for the contamination screen")
    p.add_argument("--store-compact-files", type=int, default=64,
                   help="corpus mode: compact each screen store when its data-file count "
                        "exceeds this (append-only stores grow per run; compaction is the "
                        "crash-safe distinct-rewrite and never changes admit decisions); "
                        "0 disables")
    p.add_argument("--shuffle-seed", default=None,
                   help="corpus mode: build the packing manifest in the deterministic "
                        "shuffled training order of corpus_shuffle(seed) instead of "
                        "(source, id) order; change per epoch for a new order")
    p.add_argument("--quality-rules",
                   choices=["basic", "gopher", "c4", "charlm", "charlm+dsir"],
                   default="basic",
                   help="corpus mode: quality gate — 'basic' (token band + stopwords), "
                        "'gopher' (the seven Gopher rules), 'c4' (line/document cleanup; "
                        "survivors continue with the CLEANED text), 'charlm' (model-based: "
                        "avg char-bigram NLL under an LM trained on --charlm-ref-parquet "
                        "must be <= --charlm-max-nll), 'charlm+dsir' (the selection "
                        "triad: charlm gate AND DSIR distribution-matching gate against "
                        "the same reference; add --token-budget for the budget cap)")
    p.add_argument("--charlm-ref-parquet", default=None,
                   help="corpus mode, charlm rules: parquet of in-distribution reference "
                        "docs (needs a text column) the char-bigram LM trains on; REQUIRED "
                        "with --quality-rules charlm / charlm+dsir")
    p.add_argument("--charlm-max-nll", type=float, default=None,
                   help="corpus mode, charlm rules: max avg NLL per char bigram; default "
                        "SELF-CALIBRATES to the median of the reference slice's own "
                        "distribution (charlm_calibrate — fixed constants don't transfer "
                        "across corpora or scales); pass a float to pin")
    p.add_argument("--dsir-keep-frac", type=float, default=0.5,
                   help="corpus mode, charlm+dsir rules: fraction of the batch's scorable "
                        "docs the self-calibrated DSIR gate keeps (dsir_calibrate)")
    p.add_argument("--token-budget", type=int, default=None,
                   help="corpus mode: per-source token budget applied to the ADMITTED set "
                        "(after dedup/contamination, so duplicates never consume budget); "
                        "two-phase token_budget_mix, requires numeric doc ids")
    p.add_argument("--substring-dedup-k", type=int, default=None,
                   help="corpus mode: after the ingest, run the corpus-WIDE exact-"
                        "substring dedup pass (Lee et al.; d22) at this word-k-gram "
                        "size over ALL runs under --corpus-out, landing the cleaned "
                        "corpus in corpus_clean/. A separate global pass by design — "
                        "per-batch cutting would make fingerprints batch-dependent "
                        "and bypass the cross-run screens")
    p.add_argument("--line-dedup", action="store_true",
                   help="corpus mode: after the ingest, run the corpus-WIDE line "
                        "dedup pass (C4 keep-one-occurrence; d27) over ALL runs "
                        "under --corpus-out, landing rebuilt docs in "
                        "corpus_lines_clean/. Global by design, like the substring "
                        "pass")
    p.add_argument("--substring-dedup-skew-safe", action="store_true",
                   help="corpus mode: run the substring pass on the zipfian-safe "
                        "groupBy-count plan (no per-gram window partition — use when "
                        "boilerplate grams dominate, e.g. licence blocks on web crawl)")
    p.add_argument("--semdedup-screen", default=None,
                   help="corpus mode: parquet of embeddings (vec_id, embedding) keyed by "
                        "this corpus's numeric doc_id — runs the cross-run SEMANTIC dedup "
                        "screen (d26) after near-dedup, with the vector store under "
                        "--corpus-out/sem_store; docs without an embedding pass through")
    p.add_argument("--semdedup-threshold", type=float, default=0.35,
                   help="corpus mode: cosine threshold for the semantic screen "
                        "(default 0.35)")
    p.add_argument("--blocklist-term", action="append", default=None,
                   help="corpus mode, c4 rules: blocked word/phrase (repeatable; matched "
                        "literally, word-boundary, case-insensitive). Replaces the demo "
                        "DEFAULT_BLOCKLIST — real c4 ingests should always pass their own "
                        "list, the demo marketing phrases are placeholders")
    p.add_argument("--notify-file", default=None,
                   help="on a failed layer, append a failure notification (JSON line: "
                        "layer, execution id, timestamp, details — the reference's "
                        "Email_Notificacion_Error_* body fields) to this path")
    p.add_argument("--notify-webhook", default=None,
                   help="on a failed layer, POST the failure notification JSON to this "
                        "URL (Slack/Teams/SMTP-bridge shape); delivery errors are "
                        "reported in the summary, never fail the run")
    args = p.parse_args(argv)

    if args.corpus_out:
        return _corpus_main(args)

    from spaceparts_data_pipeline_spark.session import get_spark
    from spaceparts_data_pipeline_spark.plans import runner
    from spaceparts_data_pipeline_spark.streaming.incremental import run_incremental_pipeline

    spark = get_spark(app_name="spaceparts-pipeline", persistent_warehouse=args.warehouse)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {args.database}")
    spark.catalog.setCurrentDatabase(args.database)

    # crash-state sweep at the entrypoint (the contract SCALING.md
    # documents): with --warehouse a killed PREVIOUS run can leave
    # versioned-swap states on tables this run only reads — most visibly
    # the view-missing state, where the table name doesn't resolve at
    # all. Catalog ops only; no data reads. The library path
    # (plans.runner.run_pipeline) runs the same sweep itself, but this
    # CLI composes the layers directly and must open with it too.
    from spaceparts_data_pipeline_spark.operators.maintenance import recover_all

    recovered = recover_all(spark)

    from spaceparts_data_pipeline_spark.sources.files import load_landing_dir

    sources, landing_quarantined, parents = load_landing_dir(spark, args.source_dir)
    if not sources:
        print(json.dumps({
            "status": "failed",
            "error": f"no *.parquet/*.jsonl/*.csv in {args.source_dir}",
        }))
        return 2

    if args.mode == "incremental":
        result = run_incremental_pipeline(spark, sources, ts_col=args.ts_col, skip_gold=args.skip_gold)
        for p in parents:
            p.unpersist()
        statuses = [t.get("status") for layer in ("bronze", "silver") for t in result[layer].values()]
        statuses += [t.get("status") for t in result["gold"].values()]
        status = "success" if all(x == "success" for x in statuses) else (
            "failed" if all(x != "success" for x in statuses) else "completed_with_errors")
    else:
        b = runner.run_bronze_layer(spark, sources)
        for p in parents:
            p.unpersist()
        s = runner.run_silver_layer(spark, horizon=args.horizon)
        g = {"status": "skipped"} if args.skip_gold else runner.run_gold_layer(spark)
        result = {"bronze": b, "silver": s, "gold": g}
        statuses = [b["status"], s["status"]] + ([] if args.skip_gold else [g["status"]])
        status = "success" if all(x == "success" for x in statuses) else (
            "failed" if all(x == "failed" for x in statuses) else "completed_with_errors")

    # the reference's per-layer failure-alert chain (Lookup_Error_* →
    # Email_Notificacion_Error_*): one notification per FAILED layer,
    # rendered from that layer's latest execution-log failure row
    notified: list[str] = []
    notify_errors: dict[str, str] = {}
    notifier = _build_notifier(args)
    if notifier is not None:
        from spaceparts_data_pipeline_spark.plans.notify import notify_failed_layers

        def _layer_failed(info) -> bool:
            # 'skipped' never alerts: a silver stage skipped because its
            # bronze failed has written NO failure row this run — an
            # unscoped lookup would resurrect a PREVIOUS run's failure.
            # The root cause (bronze) alerts on its own.
            if not isinstance(info, dict):
                return False
            if "status" in info:       # full mode: layer-level status
                return info["status"] in ("failed", "completed_with_errors")
            return any(                # incremental mode: per-table dicts
                isinstance(t, dict) and t.get("status") == "failed"
                for t in info.values())

        def _layer_execution_id(info) -> str | None:
            # full mode carries it per layer; incremental mode shares
            # ONE id across all three layers (result['execution_id'])
            if isinstance(info, dict) and "execution_id" in info:
                return info["execution_id"]
            return result.get("execution_id")

        layer_status = {
            "bronze": result["bronze"], "silver": result["silver"],
            **({} if args.skip_gold else {"gold": result["gold"]}),
        }
        # scope each lookup to THIS run's execution id so an old
        # failure row can never re-alert on a later healthy run
        notified, notify_errors = notify_failed_layers(
            spark,
            {layer: _layer_execution_id(info)
             for layer, info in layer_status.items() if _layer_failed(info)},
            notifier,
        )

    summary = {
        "status": status,
        "database": args.database,
        **({"notified_layers": notified} if notified else {}),
        **({"notify_errors": notify_errors} if notify_errors else {}),
        **({"landing_quarantined": landing_quarantined} if landing_quarantined else {}),
        "tables": {
            layer: {
                t: r.get("records") for t, r in info.get("tables", {}).items()
            } if "tables" in info else info.get("status", info)
            for layer, info in result.items()
            # only real layers: both result shapes also carry dict-valued
            # bookkeeping keys ('recovered' in full mode,
            # 'log_flush_errors' in incremental) that must not render as
            # pipeline layers in the machine-readable summary
            if layer in ("bronze", "silver", "gold") and isinstance(info, dict)
        },
        **({"recovered": recovered} if recovered else {}),
        **({"log_flush_errors": result["log_flush_errors"]}
           if result.get("log_flush_errors") else {}),
    }
    print(json.dumps(summary, default=str))
    return 0 if status == "success" else 1


def _build_notifier(args):
    """--notify-file / --notify-webhook → a (possibly composite)
    transport, or None when neither flag is set."""
    from spaceparts_data_pipeline_spark.plans.notify import (
        CompositeNotifier, FileNotifier, WebhookNotifier,
    )

    parts = []
    if args.notify_file:
        parts.append(FileNotifier(args.notify_file))
    if args.notify_webhook:
        parts.append(WebhookNotifier(args.notify_webhook))
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else CompositeNotifier(parts)


def _corpus_main(args) -> int:
    """Corpus-ingest mode: every landing table with (doc_id, text)
    columns is one batch source; a missing ``source`` column defaults
    to the table name (it is the packing shard key)."""
    import pyspark.sql.functions as F

    from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest
    from spaceparts_data_pipeline_spark.session import get_spark
    from spaceparts_data_pipeline_spark.sources.files import load_landing_dir

    if not args.run_id:
        print(json.dumps({"status": "failed", "error": "--run-id is required with --corpus-out"}))
        return 2
    spark = get_spark(app_name="spaceparts-corpus-ingest",
                      persistent_warehouse=args.warehouse)
    spark.sparkContext.setLogLevel("ERROR")
    sources, landing_quarantined, parents = load_landing_dir(spark, args.source_dir)
    doc_tables = {
        name: df for name, df in sources.items()
        if {"doc_id", "text"} <= set(df.columns)
    }
    if not doc_tables:
        print(json.dumps({
            "status": "failed",
            "error": f"no table in {args.source_dir} has (doc_id, text) columns",
        }))
        return 2
    # With several landing tables, a doc_id is only unique WITHIN its
    # table — two tables reusing an id with different text would both
    # survive the fingerprint screen and the left-semi join-back on
    # doc_id would then admit BOTH rows (duplicate ids in the corpus
    # and manifest). Namespace ids as '<table>:<id>' whenever more than
    # one table feeds the batch; a single table keeps its native id
    # type. Don't mix single- and multi-table landings into the same
    # --corpus-out (the corpus column type differs).
    namespace_ids = len(doc_tables) > 1
    batch = None
    for name, df in doc_tables.items():
        part = df if "source" in df.columns else df.withColumn("source", F.lit(name))
        if namespace_ids:
            part = part.withColumn(
                "doc_id", F.concat_ws(":", F.lit(name), F.col("doc_id").cast("string")))
        part = part.select("doc_id", "text", "source")
        batch = part if batch is None else batch.unionByName(part)
    benchmark = spark.read.parquet(args.benchmark) if args.benchmark else None
    charlm_ref = None
    if args.quality_rules in ("charlm", "charlm+dsir"):
        if not args.charlm_ref_parquet:
            print(json.dumps({"status": "failed",
                              "error": f"--quality-rules {args.quality_rules} "
                                       "needs --charlm-ref-parquet"}))
            return 2
        charlm_ref = spark.read.parquet(args.charlm_ref_parquet)
    semdedup_embeddings = None
    if args.semdedup_screen:
        if namespace_ids:
            print(json.dumps({
                "status": "failed",
                "error": "--semdedup-screen needs a single landing table: the "
                         "multi-table '<table>:<id>' namespacing breaks the "
                         "numeric doc_id <-> vec_id join the screen keys on",
            }))
            return 2
        semdedup_embeddings = spark.read.parquet(args.semdedup_screen)

    stats = run_corpus_ingest(
        spark, batch, args.corpus_out, args.run_id, benchmark=benchmark,
        compact_files_threshold=(args.store_compact_files or None),
        quality_rules=args.quality_rules,
        blocklist_terms=(tuple(args.blocklist_term) if args.blocklist_term else None),
        charlm_ref=charlm_ref, charlm_max_nll=args.charlm_max_nll,
        dsir_keep_frac=args.dsir_keep_frac, token_budget=args.token_budget,
        semdedup_embeddings=semdedup_embeddings,
        semdedup_threshold=args.semdedup_threshold,
        shuffle_seed=args.shuffle_seed)
    substring_stats = None
    if args.substring_dedup_k:
        from spaceparts_data_pipeline_spark.plans.corpus import run_substring_dedup_pass
        substring_stats = run_substring_dedup_pass(
            spark, args.corpus_out, k=args.substring_dedup_k,
            skew_safe=args.substring_dedup_skew_safe)
    line_dedup_stats = None
    if args.line_dedup:
        from spaceparts_data_pipeline_spark.plans.corpus import run_line_dedup_pass
        line_dedup_stats = run_line_dedup_pass(spark, args.corpus_out)
    for p in parents:
        p.unpersist()
    print(json.dumps({
        "status": "success",
        "run_id": args.run_id,
        "out": args.corpus_out,
        **({"landing_quarantined": landing_quarantined} if landing_quarantined else {}),
        "funnel": stats,
        **({"substring_dedup": substring_stats} if substring_stats else {}),
        **({"line_dedup": line_dedup_stats} if line_dedup_stats else {}),
    }, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
