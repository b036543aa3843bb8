"""End-to-end medallion pipeline tests on SpaceParts-shaped fixtures
(FIXTURES.md): full load, invariants from the reference's recorded
behavior, then an incremental round with updates + inserts."""

from __future__ import annotations

import datetime as dt
import json
import uuid

import pytest
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.plans import gold, logs, runner, silver
from tests.fixtures import EPOCH_2025_NS, T1, build_fixtures

#: soak tier (r16 verdict #2): excluded from the default
#: driver-facing run (see pytest.ini); run with -m soak / -m ""
pytestmark = pytest.mark.soak

HORIZON = "2027-01-01"


@pytest.fixture(scope="module")
def pipeline_result(spark):
    # Unique per-run database: a crashed earlier process can orphan the
    # fixed-name warehouse dir (LOCATION_ALREADY_EXISTS on the next CREATE),
    # so the name must never repeat across runs.
    db = f"e2e_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    spark.catalog.setCurrentDatabase(db)
    sources = build_fixtures(spark)
    result = runner.run_pipeline(spark, sources, horizon=HORIZON)
    yield result
    spark.catalog.setCurrentDatabase("default")
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_full_pipeline_status(pipeline_result):
    assert pipeline_result["status"] == "success"
    assert pipeline_result["gold"]["status"] == "success"


def test_silver_dedup_and_quarantine(spark, pipeline_result):
    inv = spark.table("silver_fact_invoices")
    # dup business key (inv1 line 1) resolved keep-latest: value 999 survives
    v = inv.filter(F.col("billing_document_number") == "inv1").select("net_invoice_value").collect()
    assert [r[0] for r in v] == [999.0]
    # future-date + extreme-value rows quarantined
    quar = spark.table("silver_quarantine_fact_invoices")
    reasons = {r["billing_document_number"]: r["quarantine_reason"] for r in quar.collect()}
    assert reasons["inv4"].startswith("future_date:")
    assert reasons["inv5"].startswith("extreme_value:")
    # NaN scrubbed to null, row kept
    nan_row = inv.filter(F.col("billing_document_number") == "inv6").collect()[0]
    assert nan_row["net_invoice_value"] is None


def test_silver_ship_before_order_preserved(spark, pipeline_result):
    orders = spark.table("silver_fact_orders")
    inverted = orders.filter(F.col("ship_date") < F.col("order_date")).count()
    assert inverted == 1  # README.md:487 finding: preserved, NOT quarantined


def test_gold_dim_customer_double_self_join(spark, pipeline_result):
    dc = {r["customer_key"]: r for r in spark.table("gold_dim_customer").collect()}
    assert dc["C1"]["account_manager_email"] == "ada@x.io"
    assert dc["C1"]["key_account_manager_email"] == "grace@x.io"
    assert dc["C1"]["customer_system"] == "Sys-A"
    assert dc["C2"]["key_account_manager_email"] is None  # Linus is not a KAM
    assert dc["C3"]["customer_system"] is None            # station miss -> left join null


def test_gold_fact_sales_eur_and_categorization(spark, pipeline_result):
    fs = {(r["billing_document_number"]): r for r in spark.table("gold_fact_sales").collect()}
    # USD rate 0.9 applied to the keep-latest row (999)
    assert fs["inv1"]["sales_eur"] == pytest.approx(999.0 * 0.9)
    assert fs["inv1"]["document_category"] == "Sale"
    # GBP rate 1.15, Adjustment category, seconds-epoch date decoded
    assert fs["inv2"]["cogs_eur"] == pytest.approx(150.0 * 1.15)
    assert fs["inv2"]["document_category"] == "Adjustment"
    assert fs["inv2"]["billing_date"] == dt.date(2025, 3, 1)
    # unknown currency -> rate 1.0; unknown doctype -> Unclassified
    assert fs["inv3"]["sales_eur"] == pytest.approx(50.0)
    assert fs["inv3"]["document_category"] == "Unclassified"
    assert fs["inv1"]["on_time_delivery"] is True


def test_gold_fact_budget_month_filter(spark, pipeline_result):
    fb = spark.table("gold_fact_budget").collect()
    assert len(fb) == 1  # null month filtered
    assert fb[0]["budget_month"] == dt.date(2025, 4, 1)


def test_execution_logs_written(spark, pipeline_result):
    log = spark.table("gold_execution_log")
    assert log.filter(F.col("status") == "success").count() == len(gold.MODELS)
    assert logs.latest_failures(spark, "gold_execution_log").count() == 0


def test_gold_incremental_merge(spark, pipeline_result):
    # new silver rows: update inv3 (value 60 -> sales 54 EUR) + insert inv9
    upd = spark.createDataFrame(
        [("c2", "p1", EPOCH_2025_NS, EPOCH_2025_NS, "inv3", "1", "F2", 60.0, 40.0, 1.0, 1.0, 0.5, 2.0, "USD", 1, T1),
         ("c3", "p2", EPOCH_2025_NS, EPOCH_2025_NS, "inv9", "1", "G2", 10.0, 5.0, 1.0, 1.0, 0.5, 1.0, "GBP", 0, T1)],
        spark.table("bronze_fact_invoices").drop("load_date", "source_system").schema,
    )
    silver.run_incremental(spark, "fact_invoices", upd, horizon=HORIZON)
    wm = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) - dt.timedelta(minutes=5)
    res = gold.run_incremental(spark, wm)
    assert res["gold_fact_sales"]["mode"] == "incremental"
    fs = {r["billing_document_number"]: r for r in spark.table("gold_fact_sales").collect()}
    assert fs["inv3"]["sales_eur"] == pytest.approx(60.0 * 0.9)   # updated (now known USD)
    assert fs["inv9"]["document_category"] == "Adjustment"         # inserted
    assert fs["inv1"]["sales_eur"] == pytest.approx(999.0 * 0.9)   # untouched rows survive


def test_gold_incremental_nonmidnight_timestamp_update(spark, pipeline_result):
    """Regression (round-1 advice): a silver billing timestamp with a
    time-of-day component must still match its gold DATE merge key in
    the changed-keys semi-join. Before the cast fix, DATE = TIMESTAMP
    coerced the gold date to midnight, so a 14:30 update was silently
    dropped from the delta — and every fixture epoch was midnight, so
    only this test can catch it."""
    ns_1430 = EPOCH_2025_NS + (14 * 3600 + 30 * 60) * 1_000_000_000
    upd = spark.createDataFrame(
        [("c3", "p1", ns_1430, EPOCH_2025_NS, "inv5", "1", "F2",
          70.0, 60.0, 2.0, 1.0, 0.5, 1.0, "USD", 0, T1)],
        spark.table("bronze_fact_invoices").drop("load_date", "source_system").schema,
    )
    silver.run_incremental(spark, "fact_invoices", upd, horizon=HORIZON)
    wm = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) - dt.timedelta(minutes=5)
    res = gold.run_incremental(spark, wm)
    assert res["gold_fact_sales"]["status"] == "success"
    fs = {r["billing_document_number"]: r for r in spark.table("gold_fact_sales").collect()}
    assert fs["inv5"]["sales_eur"] == pytest.approx(70.0 * 0.9)


def test_gold_incremental_builds_delta_once(spark, pipeline_result, monkeypatch):
    """Regression (round-2 verdict #6): the per-model record count used to
    re-execute the builder joins AFTER the merge had already consumed the
    delta. Pin that the merge now reads a cached (persisted) delta — one
    build of the builder plan per model per incremental run."""
    from pyspark.storagelevel import StorageLevel

    seen = []
    real = gold.merge_into_table

    def spy(spark_, table, source, keys, **kw):
        seen.append(source.storageLevel != StorageLevel.NONE)
        return real(spark_, table, source, keys, **kw)

    monkeypatch.setattr(gold, "merge_into_table", spy)
    upd = spark.createDataFrame(
        [("c2", "p1", EPOCH_2025_NS, EPOCH_2025_NS, "inv3", "1", "F2",
          61.0, 40.0, 1.0, 1.0, 0.5, 2.0, "USD", 1, T1)],
        spark.table("bronze_fact_invoices").drop("load_date", "source_system").schema,
    )
    silver.run_incremental(spark, "fact_invoices", upd, horizon=HORIZON)
    wm = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) - dt.timedelta(minutes=5)
    res = gold.run_incremental(spark, wm)
    assert all(v["status"] == "success" for v in res.values())
    assert seen and all(seen)   # every merge consumed a persisted delta


def test_precondition_gate(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS empty_db")
    spark.catalog.setCurrentDatabase("empty_db")
    try:
        ok, share = runner.check_gold_preconditions(spark)
        assert not ok and share == 0.0
        out = runner.run_gold_layer(spark)
        assert out["status"] == "skipped"
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP DATABASE empty_db CASCADE")


def test_cli_landing_dir_with_corrupt_lines(spark, sf_small, tmp_path, capsys):
    """Round-5 verdict next-round #7: a landing directory holding parquet
    AND a JSONL drop with corrupt lines flows landing → bronze → silver
    through the CLI entrypoint, with the corrupt lines preserved raw in
    landing_quarantine_<table> — never silently dropped, never poisoning
    bronze."""
    import shutil
    import uuid as _uuid

    from spaceparts_data_pipeline_spark.__main__ import main

    landing = tmp_path / "landing"
    landing.mkdir()
    # parquet source straight from testdata
    shutil.copy(f"{sf_small}/region.parquet", landing / "regions.parquet")
    # JSONL drop: 3 good lines, 2 corrupt
    (landing / "docs.jsonl").write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        '{"doc_id": 2, "text": "beta"}\n'
        'not json at all\n'
        '{"doc_id": 3, "text": "gamma"}\n'
        '{"doc_id": 4, "text": "broken", }\n'
    )
    # CSV drop: 2 good rows, 1 structurally malformed (extra column)
    (landing / "rates.csv").write_text(
        "rate_id,fx\n1,1.25\n2,0.8\n3,0.9,unexpected_extra\n"
    )

    db = f"cli_{_uuid.uuid4().hex[:8]}"
    prev_db = spark.catalog.currentDatabase()
    try:
        rc = main([
            "--source-dir", str(landing), "--database", db, "--skip-gold",
        ])
        out = capsys.readouterr().out.strip().splitlines()[-1]
        import json as _json

        summary = _json.loads(out)
        assert rc == 0 and summary["status"] == "success"
        spark.catalog.setCurrentDatabase(db)
        # clean sides flowed to bronze and silver
        assert spark.table("bronze_docs").count() == 3
        assert spark.table("silver_docs").count() == 3
        assert spark.table("silver_regions").count() == 5
        assert spark.table("bronze_rates").count() == 2
        # corrupt lines preserved raw, stamped with their file of origin
        q = spark.table("landing_quarantine_docs").collect()
        assert {r["raw_record"] for r in q} >= {"not json at all"}
        assert len(q) == 2 and all(r["landing_file"].endswith("docs.jsonl") for r in q)
        assert spark.table("landing_quarantine_rates").count() == 1
        assert summary["landing_quarantined"] == {"docs": 2, "rates": 1}
        # idempotent on re-ingestion of the same landing files
        rc2 = main(["--source-dir", str(landing), "--database", db, "--skip-gold"])
        assert rc2 == 0
        assert spark.table("landing_quarantine_docs").count() == 2
        assert spark.table("landing_quarantine_rates").count() == 1
    finally:
        spark.catalog.setCurrentDatabase(prev_db)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


class TestCorpusIngestPipeline:
    """End-to-end for plans/corpus.py: the composed quality → redact →
    exact-dedup → near-dedup → contamination → write+stores funnel,
    across two runs and a crash replay."""

    LONG = ("the quick brown fox jumps over the lazy dog near the river bank "
            "today while careful analysts study spark query plans and shuffle "
            "metrics in the warehouse " * 2)

    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_two_runs_and_replay(self, spark, tmp_path):
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        out = str(tmp_path / "corpus_out")
        bench = spark.createDataFrame(
            [(900, "benchmark eval question about ancient rivers and banks flowing")],
            "doc_id long, text string")

        b1 = self._batch(spark, [
            (1, self.LONG, "s1"),
            (2, self.LONG.replace("lazy", "sleepy"), "s1"),   # near-dup of 1
            (3, "too short", "s1"),                           # quality-gated
            (4, "call 555 123 4567 today because the adaptive engine is rewriting "
                "shuffle partitions and the broadcast thresholds of a gold layer "
                "while analysts wait for the morning load to finish in time", "s2"),
        ])
        s1 = run_corpus_ingest(spark, b1, out, "r1", benchmark=bench)
        assert s1["input"] == 4
        assert s1["after_quality"] == 3            # doc 3 gated
        assert s1["after_exact_dedup"] == 3
        assert s1["after_near_dedup"] == 2         # 2 collapsed into 1
        assert s1["admitted"] == 2                 # no contamination
        run1 = spark.read.parquet(out + "/corpus").filter("run_id = 'r1'")
        texts = {r["doc_id"]: r["text"] for r in run1.collect()}
        assert set(texts) == {1, 4}
        assert "<PHONE>" in texts[4] and "555" not in texts[4]   # redacted
        manifest = spark.read.parquet(out + "/manifest").filter("run_id = 'r1'")
        assert {r["doc_id"] for r in manifest.collect()} == {1, 4}
        assert all(r["n_tokens"] > 0 for r in manifest.collect())

        b2 = self._batch(spark, [
            (10, self.LONG, "s1"),                               # exact dup of run1 doc
            (11, self.LONG.replace("quick", "rapid"), "s1"),     # near-dup of run1 doc
            (12, "benchmark eval question about ancient rivers and banks flowing plus "
                 "enough extra tokens to pass the quality gate with stopwords the and "
                 "of to a in is repeated the and of to a in is", "s2"),  # contaminated
            (13, "a completely fresh document the and of to a in is with plenty of "
                 "unique content about catalyst optimizers and adaptive execution", "s2"),
        ])
        s2 = run_corpus_ingest(spark, b2, out, "r2", benchmark=bench)
        assert s2["after_exact_dedup"] == 3         # 10 screened by fp store
        assert s2["after_near_dedup"] == 2          # 11 screened by band store
        assert s2["admitted"] == 1                  # 12 contaminated
        run2 = spark.read.parquet(out + "/corpus").filter("run_id = 'r2'")
        assert {r["doc_id"] for r in run2.collect()} == {13}

        # crash replay of run 2: same run_id, stores already updated —
        # admits nothing, and run 2's corpus partition survives
        s2b = run_corpus_ingest(spark, b2, out, "r2", benchmark=bench)
        assert s2b["admitted"] == 0
        corpus = spark.read.parquet(out + "/corpus")
        assert corpus.count() == 3
        assert {r["doc_id"] for r in corpus.filter("run_id = 'r2'").collect()} == {13}

    def test_multi_batch_compaction_invariance(self, spark, tmp_path):
        """Store compaction wired into the ingest lifecycle (VERDICT r06
        next-round #2): over a 5-batch sequence with a tiny file-count
        threshold, compaction triggers mid-sequence — and every admit/
        reject decision plus the final corpus is identical to a
        never-compacted twin sequence (the screens read DISTINCT
        fingerprints, so a distinct-rewrite is invisible to them)."""
        from spaceparts_data_pipeline_spark.operators import dedup
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        # Fixture design: distinct docs share ZERO word-3-gram shingles
        # (stopwords for the quality gate are interleaved with per-doc
        # unique tokens, so every 3-gram contains a unique token), while
        # a one-token mutation of the same doc keeps Jaccard ~0.85 —
        # the band-store screen is a no-text conservative screen, so
        # any shared shingles across distinct docs would make its
        # false-positive band collisions part of the fixture. Unique
        # tokens are LETTERS only: the funnel redacts before
        # fingerprinting, and digit tokens would all collapse to
        # '<NUM>' under PII redaction.
        alpha = "abcdefghijklmnopqrstuvwxyz"
        stops = ["the", "and", "of", "to", "a", "in", "is"]

        def doc(i, mutate=False):
            toks = []
            for j in range(30):
                toks.append(f"w{alpha[i % 26]}{alpha[j // 26]}{alpha[j % 26]}")
                toks.append(stops[j % len(stops)])
            if mutate:
                toks[0] = "mutated"
            return " ".join(toks)

        batches = [
            [(1, doc(1), "s"), (2, doc(2), "s"), (3, doc(3), "s")],
            [(4, doc(4), "s"), (5, doc(1), "s"),                  # exact dup of 1
             (6, doc(2, mutate=True), "s")],                      # near-dup of 2
            [(7, doc(7), "s"), (8, doc(4), "s")],                 # exact dup of 4
            [(9, doc(9), "s"), (10, doc(7, mutate=True), "s")],   # near-dup of 7
            [(11, doc(11), "s"), (12, doc(9), "s")],              # exact dup of 9
        ]

        results = {}
        for label, threshold in (("compacted", 2), ("plain", None)):
            out = str(tmp_path / label)
            raw_seq, stats_seq = [], []
            for i, rows in enumerate(batches):
                s = run_corpus_ingest(
                    spark, self._batch(spark, rows), out, f"r{i}",
                    compact_files_threshold=threshold)
                raw_seq.append(s)
                # decisions only: drop maintenance bookkeeping and the
                # per-stage wall-clock keys (timings differ run to run)
                stats_seq.append({k: v for k, v in s.items()
                                  if not k.startswith(("compacted_", "sec_"))})
            corpus = {(r["doc_id"], r["text"])
                      for r in spark.read.parquet(out + "/corpus").collect()}
            results[label] = (raw_seq, stats_seq, corpus)

        comp_raw, comp_stats, comp_corpus = results["compacted"]
        _, plain_stats, plain_corpus = results["plain"]
        # compaction DID trigger mid-sequence (not only on the last run)
        triggered = [i for i, s in enumerate(comp_raw)
                     if any(k.startswith("compacted_") for k in s)]
        assert triggered and triggered[0] < len(batches) - 1
        assert comp_stats == plain_stats          # every funnel decision identical
        assert comp_corpus == plain_corpus        # final corpus identical
        assert {d for d, _ in comp_corpus} == {1, 2, 3, 4, 7, 9, 11}
        # the compacted run's stores hold fewer files than the plain run's
        assert dedup.data_file_count(spark, str(tmp_path / "compacted") + "/fp_store") < \
            dedup.data_file_count(spark, str(tmp_path / "plain") + "/fp_store")

    def test_compaction_every_run_matches_never(self, spark, tmp_path):
        """The funnel with a forced in-place compaction of every store
        after every run makes the SAME admit/reject decisions as a
        never-compacted twin, run for run — including a crash replay."""
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        b1 = self._batch(spark, [
            (1, self.LONG, "s1"),
            (2, self.LONG.replace("lazy", "sleepy"), "s1"),   # near-dup of 1
            (3, "too short", "s1"),                           # quality-gated
        ])
        b2 = self._batch(spark, [
            (10, self.LONG, "s1"),                            # exact dup of run1
            (11, self.LONG.replace("quick", "rapid"), "s1"),  # near-dup of run1
            (12, "a completely fresh document the and of to a in is with plenty "
                 "of unique content about catalyst optimizers and execution", "s2"),
        ])

        out_c = str(tmp_path / "compacted")
        # threshold 0 forces a compaction after every run — it must be
        # invisible to the next run's screens
        kw = dict(compact_files_threshold=0)
        s1 = run_corpus_ingest(spark, b1, out_c, "r1", **kw)
        s2 = run_corpus_ingest(spark, b2, out_c, "r2", **kw)
        s2b = run_corpus_ingest(spark, b2, out_c, "r2", **kw)  # replay

        out_p = str(tmp_path / "plain")
        p1 = run_corpus_ingest(spark, b1, out_p, "r1", compact_files_threshold=None)
        p2 = run_corpus_ingest(spark, b2, out_p, "r2", compact_files_threshold=None)

        strip = lambda s: {k: v for k, v in s.items()  # noqa: E731
                           if not k.startswith(("compacted_", "sec_"))}
        assert strip(s1) == strip(p1)
        assert strip(s2) == strip(p2)
        assert s2b["admitted"] == 0                   # replay idempotent
        assert "compacted_fp_store" in s1
        comp_corpus = {(r["doc_id"], r["text"])
                       for r in spark.read.parquet(out_c + "/corpus").collect()}
        plain_corpus = {(r["doc_id"], r["text"])
                        for r in spark.read.parquet(out_p + "/corpus").collect()}
        assert comp_corpus == plain_corpus

    def test_first_run_admits_zero(self, spark, tmp_path):
        """ADVICE r06 (medium): a first-ever run admitting ZERO docs —
        all quality-gated here; same shape as "all screened against a
        retained store with a fresh corpus path" — used to crash with
        UNABLE_TO_INFER_SCHEMA, because the empty dynamic overwrite
        still CREATES the corpus directory and the bare fs.exists guard
        then read an empty dir. Must return the funnel stats instead,
        and a later admitting run over the same out dir must proceed
        normally."""
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        out = str(tmp_path / "corpus_out")
        s0 = run_corpus_ingest(
            spark, self._batch(spark, [(1, "tiny", "s1")]), out, "r0")
        assert s0["input"] == 1 and s0["admitted"] == 0
        s1 = run_corpus_ingest(
            spark, self._batch(spark, [(2, self.LONG, "s1")]), out, "r1")
        assert s1["admitted"] == 1
        corpus = spark.read.parquet(out + "/corpus")
        assert {r["doc_id"] for r in corpus.collect()} == {2}

    def test_semdedup_screen_two_runs_and_replay(self, spark, tmp_path):
        """r13 funnel wiring (VERDICT r12 next-round #2): the semantic
        screen rejects a later run's embedding near-copy of an
        ADMITTED doc even when its TEXT passes every other screen;
        docs without an embedding pass through; a crash replay admits
        zero and the stores stay consistent."""
        from pyspark.sql import functions as F

        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        t1 = self.LONG
        t2 = ("completely different prose about distributed query engines "
              "and the optimizer choosing broadcast joins over sort merge "
              "when one side of the relation is small enough to replicate")
        v = [float((i * 37) % 19 - 9) for i in range(64)]
        novel = [0.0] * 64
        novel[3] = 11.0
        embs = spark.createDataFrame(
            [(1, v), (2, [x * 1.001 for x in v]), (3, novel)],
            "vec_id long, embedding array<double>")
        out = str(tmp_path / "corpus_out")
        s1 = run_corpus_ingest(
            spark, self._batch(spark, [(1, t1, "s1")]), out, "r1",
            semdedup_embeddings=embs)
        assert s1["admitted"] == 1
        # run 2: doc 2's text is novel but its embedding ~= doc 1's
        # (cosine ~1) -> semantic screen rejects; doc 3's embedding is
        # near-orthogonal -> admitted; doc 4 has NO embedding -> passes
        s2 = run_corpus_ingest(
            spark, self._batch(
                spark, [(2, t2, "s1"), (3, t2.replace("prose", "essay"), "s1"),
                        (4, t2.replace("prose", "notes"), "s1")]),
            out, "r2", semdedup_embeddings=embs, jaccard_threshold=0.95)
        assert s2["after_near_dedup"] - s2["after_semdedup"] == 1
        corpus = spark.read.parquet(out + "/corpus")
        ids = {r["doc_id"] for r in corpus.collect()}
        assert 2 not in ids and {3, 4} <= ids
        # replay run 2: the store screens its own durable rows
        s2r = run_corpus_ingest(
            spark, self._batch(
                spark, [(2, t2, "s1"), (3, t2.replace("prose", "essay"), "s1"),
                        (4, t2.replace("prose", "notes"), "s1")]),
            out, "r2", semdedup_embeddings=embs, jaccard_threshold=0.95)
        assert s2r["admitted"] == 0
        assert spark.read.parquet(out + "/corpus").count() == len(ids)
        # the vector store holds exactly the admitted-with-embedding ids
        vecs = spark.read.parquet(out + "/sem_store")
        assert {r["vec_id"] for r in vecs.collect()} == {1, 3}

    def test_semdedup_requires_numeric_id(self, spark, tmp_path):
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        embs = spark.createDataFrame(
            [(1, [1.0] * 64)], "vec_id long, embedding array<double>")
        batch = spark.createDataFrame(
            [("a", self.LONG, "s1")], "doc_id string, text string, source string")
        with pytest.raises(ValueError, match="numeric id_col"):
            run_corpus_ingest(spark, batch, str(tmp_path / "o"), "r1",
                              semdedup_embeddings=embs)
        # the mid-funnel raise happens AFTER the quality/exact-dedup
        # stages persisted their frames — the funnel's finally must
        # unpersist them on the error path too (r15: the leak polluted
        # every later cache-emptiness assertion in the session)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_substring_dedup_pass_over_assembled_corpus(spark, tmp_path):
    """run_substring_dedup_pass (d22's funnel hook): after two ingest
    runs, the corpus-WIDE pass cuts passages duplicated ACROSS runs —
    which per-batch cutting could never see — lands corpus_clean/, and
    drops docs cleaned below min_tokens."""
    from spaceparts_data_pipeline_spark.plans.corpus import (
        run_corpus_ingest, run_substring_dedup_pass)

    out = str(tmp_path / "corpus_out")
    boiler = "standard license header all rights reserved by the foundation"
    uniq1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
            "covering joins shuffles windows and adaptive execution plans " \
            "with the usual stopwords of to a in is and more distinct tokens"
    uniq2 = "one two three four five six seven eight nine ten eleven twelve " \
            "thirteen fourteen fifteen sixteen seventeen eighteen nineteen " \
            "twenty is a number to count in and every gram here stays fresh " \
            "because that vocabulary never repeats run one phrasing at all"
    b1 = spark.createDataFrame([(1, f"{boiler} {uniq1}", "s1")],
                               "doc_id long, text string, source string")
    b2 = spark.createDataFrame([(2, f"{boiler} {uniq2}", "s1")],
                               "doc_id long, text string, source string")
    # the 32/4 band profile (d16/s05's pinned precision point): at the
    # default 16/2, doc 2's ~0.12 boilerplate Jaccard has an ~11%
    # band-collision chance and deterministically screens here
    prof = {"num_perm": 32, "rows_per_band": 4}
    assert run_corpus_ingest(spark, b1, out, "r1", **prof)["admitted"] == 1
    assert run_corpus_ingest(spark, b2, out, "r2", **prof)["admitted"] == 1

    stats = run_substring_dedup_pass(spark, out, k=5)
    assert stats["input"] == 2 and stats["kept"] == 2
    assert stats["tokens_removed"] >= 18          # both boilerplate copies cut
    clean = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(out + "/corpus_clean").collect()}
    assert "license header" not in clean[1] and "license header" not in clean[2]
    assert "alpha beta gamma" in clean[1]         # unique text survives
    assert "one two three" in clean[2]
    # idempotent overwrite
    stats2 = run_substring_dedup_pass(spark, out, k=5)
    assert stats2["kept"] == 2


def test_substring_dedup_pass_composite_key_no_collision(spark, tmp_path):
    """The corpus-wide pass keys on concat_ws("\\x01", run_id, doc_id):
    (run_id='run1', doc_id=23) and (run_id='run12', doc_id=3) — whose
    EMPTY-separator concatenations are the identical string 'run123' —
    stay two documents with independent cut spans, and the back-join
    cannot fan out (ADVICE r10)."""
    from spaceparts_data_pipeline_spark.plans.corpus import (
        run_substring_dedup_pass)

    out = str(tmp_path / "corpus_out")
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [("run1", 23, t1, "s1"), ("run12", 3, t2, "s1")],
        "run_id string, doc_id long, text string, source string")
    df.write.mode("overwrite").partitionBy("run_id").parquet(out + "/corpus")
    stats = run_substring_dedup_pass(spark, out, k=5)
    assert stats["input"] == 2 and stats["kept"] == 2
    assert stats["tokens_removed"] == 0            # no shared k-grams
    rows = spark.read.parquet(out + "/corpus_clean").collect()
    assert len(rows) == 2                          # no fan-out
    got = {(r["run_id"], r["doc_id"]): r["text"] for r in rows}
    assert got[("run1", 23)] == t1 and got[("run12", 3)] == t2


def test_cli_corpus_ingest_mode(spark, tmp_path):
    """python -m spaceparts_data_pipeline_spark --corpus-out: the funnel
    driven through the CLI over a landing dir (in-process main() call —
    same session, same entry point the subprocess would take)."""
    import json

    from spaceparts_data_pipeline_spark.__main__ import main

    landing = tmp_path / "landing"
    landing.mkdir()
    base = ("a long enough document about the engine and the corpus with the "
            "usual stopwords of to a in is and plenty of distinct tokens "
            "covering joins shuffles windows and adaptive execution plans")
    spark.createDataFrame(
        [(1, base), (2, base.replace("engine", "motor")), (3, "tiny")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(landing / "documents.parquet"))

    out = str(tmp_path / "corpus_out")
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--source-dir", str(landing), "--corpus-out", out, "--run-id", "cli1"])
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["status"] == "success"
    assert report["funnel"]["input"] == 3
    assert report["funnel"]["after_quality"] == 2      # "tiny" gated
    assert report["funnel"]["admitted"] == 1           # near-dup collapsed
    corpus = spark.read.parquet(out + "/corpus")
    assert corpus.count() == 1
    assert corpus.collect()[0]["source"] == "documents"


def test_cli_corpus_semdedup_screen(spark, tmp_path):
    """--semdedup-screen through the CLI: embedding near-copies are
    rejected with the vector store landing under --corpus-out, and the
    multi-table namespaced-id landing is a clean CLI error (the screen
    keys on numeric ids)."""
    import contextlib
    import io
    import json

    from spaceparts_data_pipeline_spark.__main__ import main

    landing = tmp_path / "landing"
    landing.mkdir()
    base = ("a long enough document about the engine and the corpus with the "
            "usual stopwords of to a in is and plenty of distinct tokens "
            "covering joins shuffles windows and adaptive execution plans")
    spark.createDataFrame(
        [(1, base), (2, base.replace("engine and the corpus", "optimizer and the planner")
                     .replace("joins shuffles windows", "scans prunes buckets"))],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(landing / "documents.parquet"))
    v = [float((i * 13) % 11 - 5) for i in range(64)]
    spark.createDataFrame(
        [(1, v), (2, [x * 0.999 for x in v])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.parquet(str(tmp_path / "embs.parquet"))

    out = str(tmp_path / "corpus_out")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--source-dir", str(landing), "--corpus-out", out,
                   "--run-id", "cli1",
                   "--semdedup-screen", str(tmp_path / "embs.parquet")])
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["funnel"]["after_semdedup"] == 1      # near-copy screened
    assert spark.read.parquet(out + "/sem_store").count() == 1

    # multi-table landing: namespaced string ids -> clean error
    spark.createDataFrame([(7, base)], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(landing / "extra.parquet"))
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        rc2 = main(["--source-dir", str(landing), "--corpus-out", out,
                    "--run-id", "cli2",
                    "--semdedup-screen", str(tmp_path / "embs.parquet")])
    assert rc2 == 2
    assert "single landing table" in json.loads(
        buf2.getvalue().strip().splitlines()[-1])["error"]


def test_cli_corpus_charlm_gate(spark, tmp_path):
    """--quality-rules charlm through the CLI: the model-based gate
    trains on --charlm-ref-parquet and rejects OOD text; missing the
    ref parquet is a clean CLI error, not a traceback."""
    import contextlib
    import io
    import json

    from spaceparts_data_pipeline_spark.__main__ import main

    landing = tmp_path / "landing"
    landing.mkdir()
    ref_text = "the quick brown fox jumps over the lazy dog and runs on"
    spark.createDataFrame(
        [(1, "the quick dog runs over the fox"),
         (2, "zzxqj wqkz jjqx zzzq xqzj zqzq")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(landing / "documents.parquet"))
    ref = str(tmp_path / "ref.parquet")
    spark.createDataFrame([(i, ref_text) for i in range(5)],
                          "doc_id long, text string").coalesce(1).write.parquet(ref)

    out = str(tmp_path / "corpus_out")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--source-dir", str(landing), "--corpus-out", out,
                   "--run-id", "cm1", "--quality-rules", "charlm",
                   "--charlm-ref-parquet", ref, "--charlm-max-nll", "2.5"])
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["funnel"]["input"] == 2
    assert report["funnel"]["after_quality"] == 1      # OOD doc gated
    assert report["funnel"]["admitted"] == 1

    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        rc2 = main(["--source-dir", str(landing), "--corpus-out",
                    str(tmp_path / "c2"), "--run-id", "cm2",
                    "--quality-rules", "charlm"])
    assert rc2 == 2
    assert "charlm-ref-parquet" in json.loads(buf2.getvalue().strip().splitlines()[-1])["error"]


def test_cli_corpus_multi_table_id_collision(spark, tmp_path):
    """ADVICE r06 (low): two landing tables reusing doc_id=1 with
    DIFFERENT text — without namespacing, both fingerprints survive the
    screen and the left-semi join-back on doc_id admits BOTH rows under
    one id (duplicate doc_ids in corpus and manifest). Multi-table
    landings namespace ids as '<table>:<id>'."""
    import json

    from spaceparts_data_pipeline_spark.__main__ import main

    landing = tmp_path / "landing"
    landing.mkdir()
    text_a = ("the first corpus document is about broadcast joins and the "
              "shuffle partitions of a gold layer with plenty of stopwords "
              "of to a in is and tokens about catalyst plans")
    text_b = ("a second entirely different body of words concerning minhash "
              "signatures banding buckets near duplicate detection with the "
              "usual stopwords of to in is and many fresh terms")
    spark.createDataFrame([(1, text_a)], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(landing / "tab_a.parquet"))
    spark.createDataFrame([(1, text_b)], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(landing / "tab_b.parquet"))

    out = str(tmp_path / "corpus_out")
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--source-dir", str(landing), "--corpus-out", out, "--run-id", "cli2"])
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["status"] == "success"
    corpus = spark.read.parquet(out + "/corpus")
    rows = corpus.collect()
    assert {r["doc_id"] for r in rows} == {"tab_a:1", "tab_b:1"}
    assert len(rows) == 2  # exactly one row per namespaced id
    manifest = spark.read.parquet(out + "/manifest")
    assert {r["doc_id"] for r in manifest.collect()} == {"tab_a:1", "tab_b:1"}


class TestFunnelQualityRules:
    """quality_rules switch on run_corpus_ingest: the published rule
    sets (d17 Gopher / d18 C4) as the funnel's gate, not just as
    standalone profile queries. C4 is a TRANSFORMATION — survivors
    continue with the cleaned text, so fingerprints/corpus hold what
    training would see."""

    GOPHER_OK = ("the quick brown fox jumps over that lazy dog and runs with "
                 "great speed across a wide field " * 4)

    def test_gopher_gate(self, spark, tmp_path):
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        batch = spark.createDataFrame(
            [(1, self.GOPHER_OK, "s1"),
             (2, "way too short to pass", "s1"),
             (3, " ".join(["12345"] * 60), "s1")],   # no alphabetic words
            "doc_id long, text string, source string")
        s = run_corpus_ingest(spark, batch, str(tmp_path / "g"), "r1",
                              near_dedup=False, quality_rules="gopher")
        assert s["after_quality"] == 1 and s["admitted"] == 1
        corpus = spark.read.parquet(str(tmp_path / "g" / "corpus"))
        assert {r["doc_id"] for r in corpus.collect()} == {1}

    def test_c4_gate_transforms_text(self, spark, tmp_path):
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        good = "\n".join([
            "this is a proper sentence with enough words.",
            "another complete line that also ends with punctuation!",
            "a third qualifying line with a phone 555 123 4567 ends here.",
            "dangling line with no terminal punctuation at all",
        ])
        batch = spark.createDataFrame(
            [(1, good, "s1"),
             (2, good + "\nfunction foo() { return 1; }", "s1"),   # '{' gate
             (3, good.replace("proper", "Buy Now proper"), "s1")], # blocklist gate
            "doc_id long, text string, source string")
        s = run_corpus_ingest(spark, batch, str(tmp_path / "c"), "r1",
                              near_dedup=False, quality_rules="c4")
        assert s["after_quality"] == 1 and s["admitted"] == 1
        row = spark.read.parquet(str(tmp_path / "c" / "corpus")).collect()[0]
        assert row["doc_id"] == 1
        # cleaned: the dangling line is gone; redaction ran AFTER the
        # cleanup, on the kept lines
        assert "dangling" not in row["text"]
        assert row["text"].count("\n") == 2
        assert "<PHONE>" in row["text"] and "555" not in row["text"]

    def test_charlm_gate(self, spark, tmp_path):
        """Model-based gate: docs in the reference distribution pass,
        OOD text (unseen char bigrams -> high Laplace NLL) and
        unscorable docs (NULL / single-char text) are rejected."""
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        ref = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog and runs on")
             for i in range(5)], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(1, "the quick dog runs over the fox", "s1"),
             (2, "zzxqj wqkz jjqx zzzq xqzj zqzq", "s1"),  # OOD bigrams
             (3, None, "s1"),                               # unscorable
             (4, "a", "s1")],                               # 0 grams
            "doc_id long, text string, source string")
        s = run_corpus_ingest(spark, batch, str(tmp_path / "m"), "r1",
                              near_dedup=False, quality_rules="charlm",
                              charlm_ref=ref, charlm_max_nll=2.5)
        assert s["after_quality"] == 1 and s["admitted"] == 1
        corpus = spark.read.parquet(str(tmp_path / "m" / "corpus"))
        assert {r["doc_id"] for r in corpus.collect()} == {1}

    def test_charlm_gate_self_calibrates(self, spark, tmp_path):
        """charlm_max_nll=None (the new default): the threshold
        self-calibrates to the ref slice's median avg-NLL
        (charlm_calibrate) — text identical to the ref scores exactly
        the median and passes, OOD text is rejected, and the resolved
        threshold is reported in stats (r10 verdict #2: NO explicit
        threshold anywhere)."""
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        sent = "the quick brown fox jumps over the lazy dog and runs on"
        ref = spark.createDataFrame(
            [(i, sent) for i in range(5)], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(1, sent, "s1"),                               # scores == median
             (2, "zzxqj wqkz jjqx zzzq xqzj zqzq", "s1"),   # OOD bigrams
             (3, None, "s1")],                              # unscorable
            "doc_id long, text string, source string")
        s = run_corpus_ingest(spark, batch, str(tmp_path / "sc"), "r1",
                              near_dedup=False, quality_rules="charlm",
                              charlm_ref=ref)
        assert s["after_quality"] == 1 and s["admitted"] == 1
        assert s["charlm_max_nll"] > 0      # resolved + reported
        corpus = spark.read.parquet(str(tmp_path / "sc" / "corpus"))
        assert {r["doc_id"] for r in corpus.collect()} == {1}

    def test_triad_gate_with_budget(self, spark, tmp_path):
        """quality_rules='charlm+dsir' + token_budget: the c02 triad as
        funnel stages — both gates live (both self-calibrated), then
        the per-source token-budget cap over the ADMITTED set; each
        source's corpus token mass stays within budget and every stage
        count is monotone. charlm is pinned (its self-calibration is
        the previous test); DSIR self-calibrates to keep ~half of this
        batch's scorable docs."""
        from spaceparts_data_pipeline_spark.operators.text import token_count
        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        base = ("the quick brown fox jumps over the lazy dog and then "
                "walks back home through the quiet green field at dusk")
        ref = spark.createDataFrame(
            [(i, base) for i in range(5)], "doc_id long, text string")
        rows = [(i, f"{base} extra words number {i} close the loop", "s1")
                for i in range(1, 7)]
        rows += [(i, f"{base} and some more filler text {i} here too", "s2")
                 for i in range(10, 16)]
        rows += [(99, "zzxqj wqkz jjqx zzzq xqzj zqzq", "s1"),   # OOD
                 (98, None, "s2")]                               # unscorable
        batch = spark.createDataFrame(
            rows, "doc_id long, text string, source string")
        s = run_corpus_ingest(spark, batch, str(tmp_path / "tri"), "r1",
                              near_dedup=False, quality_rules="charlm+dsir",
                              charlm_ref=ref, charlm_max_nll=2.5,
                              token_budget=60)
        assert "charlm_max_nll" in s and "dsir_min_logw" in s
        assert s["input"] == 14
        assert s["after_quality"] <= 12            # OOD + NULL gone
        assert s["after_budget"] <= s["admitted"]
        assert s["after_budget"] >= 1
        corpus = spark.read.parquet(str(tmp_path / "tri" / "corpus"))
        per_src = {r["source"]: r["toks"] for r in corpus.groupBy("source")
                   .agg(F.sum(token_count("text")).alias("toks")).collect()}
        assert per_src and all(v <= 60 for v in per_src.values())

    def test_token_budget_requires_numeric_id(self, spark, tmp_path):
        import pytest as _pytest

        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        batch = spark.createDataFrame([("a:1", "x y z", "s")],
                                      "doc_id string, text string, source string")
        with _pytest.raises(ValueError, match="numeric"):
            run_corpus_ingest(spark, batch, str(tmp_path / "nb"), "r1",
                              near_dedup=False, quality_gate=False,
                              token_budget=10)

    def test_charlm_gate_requires_ref(self, spark, tmp_path):
        import pytest as _pytest

        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        batch = spark.createDataFrame([(1, "x y", "s")],
                                      "doc_id long, text string, source string")
        with _pytest.raises(ValueError, match="charlm_ref"):
            run_corpus_ingest(spark, batch, str(tmp_path / "nr"), "r1",
                              quality_rules="charlm")

    def test_unknown_rules_raise(self, spark, tmp_path):
        import pytest as _pytest

        from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

        batch = spark.createDataFrame([(1, "x", "s")], "doc_id long, text string, source string")
        with _pytest.raises(ValueError, match="quality_rules"):
            run_corpus_ingest(spark, batch, str(tmp_path / "u"), "r1",
                              quality_rules="nope")


def test_funnel_shuffled_manifest(spark, tmp_path):
    """shuffle_seed on run_corpus_ingest: the packing manifest is built
    in corpus_shuffle's deterministic epoch order — every admitted doc
    placed exactly once, original doc_id carried through, running sums
    consistent within each shuffle shard, and the order differs from
    plain (source, id) packing."""
    from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

    def doc(i):
        # letters, not digits: the funnel fingerprints REDACTED text, and
        # redact_pii maps digit runs to <NUM> — numeric differentiators
        # would make every doc an exact dup of every other
        tag = "".join(chr(ord("a") + int(c)) for c in str(i))
        return (f"document tag {tag} with the and of to a in is plus enough "
                f"unique words alpha{tag} beta{tag} gamma{tag} delta{tag} "
                f"epsilon{tag} zeta{tag} eta{tag} theta{tag} iota{tag} "
                f"kappa{tag} filler filler")

    batch = spark.createDataFrame(
        [(i, doc(i), f"s{i % 3}") for i in range(1, 41)],
        "doc_id long, text string, source string")
    out = str(tmp_path / "shuf")
    s = run_corpus_ingest(spark, batch, out, "r1", near_dedup=False,
                          shuffle_seed="epoch0", shuffle_shards=4)
    assert s["admitted"] == 40
    man = spark.read.parquet(out + "/manifest").collect()
    assert len(man) == 40
    assert {r["doc_id"] for r in man} == set(range(1, 41))
    # running sums are consistent within each shuffle shard
    by_shard = {}
    for r in man:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["position"])
        cum = 0
        for r in rows:
            assert r["start_seq"] * 512 + r["start_offset"] == cum
            cum += r["n_tokens"]
    # shuffled order differs from id order in at least one shard
    assert any(
        [r["doc_id"] for r in sorted(rows, key=lambda r: r["position"])]
        != sorted(r["doc_id"] for r in rows)
        for rows in by_shard.values() if len(rows) > 2
    )
    # replay with the same seed is byte-identical
    s2 = run_corpus_ingest(spark, batch, out, "r1", near_dedup=False,
                           shuffle_seed="epoch0", shuffle_shards=4)
    assert s2["admitted"] == 0   # all screened
    man2 = {(r["doc_id"], r["shard"], r["position"])
            for r in spark.read.parquet(out + "/manifest").collect()}
    assert man2 == {(r["doc_id"], r["shard"], r["position"]) for r in man}


def test_funnel_all_options_composed(spark, tmp_path):
    """Kitchen-sink composition: gopher gate + NEAR-dup screening +
    contamination screen + epoch-shuffled manifest, across two runs
    and a crash replay — the configuration a
    real deployment turns on all at once, pinned as one path rather
    than per-feature."""
    from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest

    LONG = ("the quick brown fox jumps over that lazy dog and runs with "
            "great speed across a wide field near the river bank today " * 3)
    FRESH = ("an entirely different document about catalyst optimizers and "
             "adaptive query execution rewriting join strategies with the "
             "runtime of large clusters that have many cores " * 3)

    bench = spark.createDataFrame(
        [(900, "benchmark eval question about ancient rivers and banks flowing "
               "with the waters of that wide field")],
        "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(1, LONG, "s1"),
         (2, LONG.replace("lazy", "sleepy"), "s1"),     # near-dup of 1
         (3, "too short", "s1"),                        # gopher-gated
         (4, FRESH, "s2")],
        "doc_id long, text string, source string")
    NEW = ("fresh content concerning broadcast thresholds and partition "
           "pruning behavior under dynamic overwrite modes in production "
           "pipelines that have the operators everywhere " * 3)
    b2 = spark.createDataFrame(
        [(10, LONG, "s1"),                              # exact dup of 1
         (11, LONG.replace("quick", "rapid"), "s1"),    # near-dup of 1
         (12, NEW, "s2")],                              # genuinely fresh
        "doc_id long, text string, source string")

    out = str(tmp_path / "allopt")
    kw = dict(benchmark=bench, quality_rules="gopher",
              shuffle_seed="epoch0", contamination_threshold=30)
    s1 = run_corpus_ingest(spark, b1, out, "r1", **kw)
    assert s1["after_quality"] == 3            # doc 3 gopher-gated
    assert s1["after_near_dedup"] == 2         # 2 collapsed into 1
    assert s1["admitted"] == 2                 # threshold 30: none contaminated
    s2 = run_corpus_ingest(spark, b2, out, "r2", **kw)
    assert s2["after_exact_dedup"] == 2        # 10 screened by fp store
    assert s2["after_near_dedup"] == 1         # 11 screened by band store
    assert s2["admitted"] == 1                 # 12 fresh -> admitted
    corpus = spark.read.parquet(out + "/corpus")
    ids = {r["doc_id"] for r in corpus.collect()}
    assert 1 in ids and 4 in ids and len(ids) == 3
    man = spark.read.parquet(out + "/manifest")
    assert set(man.columns) >= {"doc_id", "shard", "position",
                                "n_tokens", "start_seq", "run_id"}
    # replay run 2: stores retained -> admits nothing, corpus stable
    s2b = run_corpus_ingest(spark, b2, out, "r2", **kw)
    assert s2b["admitted"] == 0
    assert spark.read.parquet(out + "/corpus").count() == 3


def test_line_dedup_pass_over_assembled_corpus(spark, tmp_path):
    """run_line_dedup_pass (d27's funnel hook): after two ingest runs,
    the corpus-WIDE pass removes lines duplicated ACROSS runs (which
    per-batch dedup could never see), rebuilds docs in original line
    order into corpus_lines_clean/, and drops docs whose lines all
    lose. Idempotent overwrite on rerun."""
    from spaceparts_data_pipeline_spark.plans.corpus import run_line_dedup_pass

    out = str(tmp_path / "corpus_out")
    shared = "standard footer all rights reserved by the publishing house"
    u1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    u2 = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [("r1", 1, f"{u1}\n{shared}", "s1"),
         ("r2", 2, f"{shared}\n{u2}", "s1"),
         ("r2", 3, shared, "s1")],
        "run_id string, doc_id long, text string, source string")
    df.write.mode("overwrite").partitionBy("run_id").parquet(out + "/corpus")

    stats = run_line_dedup_pass(spark, out)
    # doc 3 was ONLY the shared line -> all lines lose -> dropped
    assert stats["input"] == 3 and stats["kept"] == 2
    # lines_removed counts cuts from KEPT docs (doc 2's footer); doc 3
    # losing its only line shows up as input - kept, not here
    assert stats["lines_removed"] == 1
    clean = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(out + "/corpus_lines_clean").collect()}
    # canonical occurrence keeps the lexicographically-first (uid, pos):
    # r1's doc 1 keeps the shared footer; r2's docs lose it
    assert clean[1] == f"{u1}\n{shared}"
    assert clean[2] == u2
    assert 3 not in clean
    stats2 = run_line_dedup_pass(spark, out)       # idempotent rerun
    assert stats2["kept"] == 2
    assert stats2["out"] == out + "/corpus_lines_clean"


def test_line_dedup_pass_all_text_empty_returns_zero_stats(spark, tmp_path):
    """round-13 ADVICE: a corpus whose every document is null/whitespace
    text rebuilds to an EMPTY output — the stats read must not die on
    the data-file-less directory, and every return shape (empty input,
    empty output, normal) must carry the 'out' key."""
    from spaceparts_data_pipeline_spark.plans.corpus import run_line_dedup_pass

    out = str(tmp_path / "corpus_out")
    df = spark.createDataFrame(
        [("r1", 1, None, "s1"), ("r1", 2, "   \n  ", "s1")],
        "run_id string, doc_id long, text string, source string")
    df.write.mode("overwrite").partitionBy("run_id").parquet(out + "/corpus")
    stats = run_line_dedup_pass(spark, out)
    assert stats == {"input": 2, "kept": 0, "lines_removed": 0,
                     "out": out + "/corpus_lines_clean"}
    # no-input shape carries 'out' too
    empty = str(tmp_path / "never_ingested")
    stats0 = run_line_dedup_pass(spark, empty)
    assert stats0 == {"input": 0, "kept": 0, "lines_removed": 0,
                      "out": empty + "/corpus_lines_clean"}


def test_cli_summary_keeps_bookkeeping_out_of_tables(spark, tmp_path, capsys, monkeypatch):
    """r16 review finding: the incremental summary's 'tables' map
    rendered the result's 'log_flush_errors' bookkeeping entry as if it
    were a pipeline layer. It must surface as its own top-level key in
    the machine-readable summary instead."""
    import datetime as dt
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spaceparts_data_pipeline_spark import __main__ as cli
    from spaceparts_data_pipeline_spark.streaming import incremental as inc_mod

    landing = tmp_path / "landing"
    landing.mkdir()
    pq.write_table(pa.table({
        "order_number": ["a"], "amount": [1.0],
        "dwcreateddate": [dt.datetime(2025, 1, 1, 10, 0)],
    }), landing / "ordersy.parquet")

    def fake_incremental(spark_, sources, ts_col="dwcreateddate", skip_gold=False):
        return {
            "bronze": {"ordersy": {"table": "ordersy", "status": "success"}},
            "silver": {"ordersy": {"table": "ordersy", "status": "success"}},
            "gold": {},
            "execution_id": "e-synthetic",
            "log_flush_errors": {"bronze": "synthetic flush failure"},
        }

    monkeypatch.setattr(inc_mod, "run_incremental_pipeline", fake_incremental)
    db = f"cli_book_{_uuid.uuid4().hex[:8]}"
    prev_db = spark.catalog.currentDatabase()
    try:
        rc = cli.main([
            "--source-dir", str(landing), "--database", db, "--skip-gold",
            "--mode", "incremental",
        ])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0 and summary["status"] == "success"
        assert set(summary["tables"]) == {"bronze", "silver", "gold"}
        assert summary["log_flush_errors"] == {"bronze": "synthetic flush failure"}
    finally:
        spark.catalog.setCurrentDatabase(prev_db)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_cli_opens_with_crash_recovery_sweep(spark, sf_small, tmp_path, capsys):
    """The CLI composes layers directly (not via run_pipeline), so it
    must open with its own recover_all sweep: a crashed staged swap
    from a killed previous run — view missing, version table present —
    is repaired before the layers run, and reported in the summary."""
    import shutil
    import uuid as _uuid

    from spaceparts_data_pipeline_spark.__main__ import main
    from spaceparts_data_pipeline_spark.operators.maintenance import _mark_managed

    db = f"cli_rec_{_uuid.uuid4().hex[:8]}"
    prev_db = spark.catalog.currentDatabase()
    spark.sql(f"CREATE DATABASE {db}")
    try:
        # a "previous run" killed before its view repoint
        spark.createDataFrame([(7,)], "id long").write.saveAsTable(f"{db}.legacy__v2")
        _mark_managed(spark, f"{db}.legacy__v2")

        landing = tmp_path / "landing"
        landing.mkdir()
        shutil.copy(f"{sf_small}/region.parquet", landing / "regions.parquet")
        rc = main(["--source-dir", str(landing), "--database", db, "--skip-gold"])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0
        assert summary["recovered"] == {"legacy": "promoted_version"}
        assert "recovered" not in summary["tables"]
        assert [r["id"] for r in spark.table(f"{db}.legacy").collect()] == [7]
    finally:
        spark.catalog.setCurrentDatabase(prev_db)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_get_spark_warns_when_persistent_warehouse_not_applied(spark, tmp_path, caplog):
    """r16 review finding: getOrCreate silently ignores every builder
    config when a session already exists — get_spark(persistent_
    warehouse=...) then returns a session whose in-memory catalog dies
    with the process, discovered only on the next run. The mismatch
    must at least be loudly logged."""
    import logging

    from spaceparts_data_pipeline_spark.session import get_spark

    with caplog.at_level(logging.WARNING,
                         logger="spaceparts_data_pipeline_spark.session"):
        got = get_spark(persistent_warehouse=str(tmp_path / "wh"))
    assert got is spark   # the pre-existing test session was reused
    assert any("NOT applied" in r.message for r in caplog.records)
