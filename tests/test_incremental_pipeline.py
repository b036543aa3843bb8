"""Cross-layer batch-incremental driver (streaming/incremental.py):
first run falls back to full extraction, control tables record
watermarks, the bronze append + silver union-dedup interplay keeps
silver exactly-once even though bronze re-appends the overlap window."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from spaceparts_data_pipeline_spark.plans import logs
from spaceparts_data_pipeline_spark.streaming.incremental import run_incremental_pipeline
from tests.fixtures import mini_gold_model

#: soak tier (r16 verdict #2): excluded from the default
#: driver-facing run (see pytest.ini); run with -m soak / -m ""
pytestmark = pytest.mark.soak

SCHEMA = StructType([
    StructField("order_number", StringType()),
    StructField("amount", DoubleType()),
    StructField("dwcreateddate", TimestampType()),
])

T0 = dt.datetime(2025, 1, 1, 10, 0)
T1 = dt.datetime(2025, 1, 1, 12, 0)


@pytest.fixture()
def inc_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS inc_db")
    spark.catalog.setCurrentDatabase("inc_db")
    yield
    spark.catalog.setCurrentDatabase("default")
    spark.sql("DROP DATABASE inc_db CASCADE")


def test_two_rounds_with_watermark_overlap(spark, inc_db):
    src1 = spark.createDataFrame([("o1", 10.0, T0), ("o2", 20.0, T0)], SCHEMA)
    r1 = run_incremental_pipeline(spark, {"fact_mini": src1})
    assert r1["bronze"]["fact_mini"]["records"] == 2        # first run: full fallback
    assert spark.table("silver_fact_mini").count() == 2
    wm = logs.last_watermark(spark, "bronze_incremental_control", "fact_mini")
    assert wm == T0

    # round 2: one updated row (o2 v2) + one new (o3); o1 is older than
    # watermark-overlap and must NOT be re-extracted
    src2 = spark.createDataFrame(
        [("o1", 10.0, T0 - dt.timedelta(hours=3)),          # stale: below wm-overlap
         ("o2", 25.0, T1), ("o3", 30.0, T1)],
        SCHEMA,
    )
    r2 = run_incremental_pipeline(spark, {"fact_mini": src2})
    assert r2["bronze"]["fact_mini"]["records"] == 2        # only o2', o3 (wm-1h cutoff)
    # bronze is append-only: original 2 + 2 incremental
    assert spark.table("bronze_fact_mini").count() == 4
    # silver stays exactly-once with the latest version winning
    silver = {r["order_number"]: r["amount"] for r in
              spark.table("silver_fact_mini").select("order_number", "amount").collect()}
    assert silver == {"o1": 10.0, "o2": 25.0, "o3": 30.0}
    # watermark advanced
    assert logs.last_watermark(spark, "bronze_incremental_control", "fact_mini") == T1


def test_overlap_reappend_is_idempotent_in_silver(spark, inc_db):
    src = spark.createDataFrame([("a", 1.0, T0), ("b", 2.0, T0)], SCHEMA)
    run_incremental_pipeline(spark, {"fact_idem": src})
    # identical second run: rows sit exactly at the watermark; the 1-hour
    # overlap re-extracts them into bronze, silver dedup collapses them
    run_incremental_pipeline(spark, {"fact_idem": src})
    assert spark.table("bronze_fact_idem").count() == 4     # append kept the overlap dupes
    assert spark.table("silver_fact_idem").count() == 2     # silver exactly-once


def test_quarantine_does_not_reaccumulate_across_rounds(spark, inc_db):
    """Regression (round-1 advice): silver must receive only the bronze
    slice above its control watermark — otherwise every incremental run
    re-derives quarantine rows from full history and the side-sink
    grows without bound."""
    qschema = "order_number string, order_value double, dwcreateddate timestamp"
    src1 = spark.createDataFrame(
        [("o1", 10.0, T0), ("oBAD", 9e9, T0)], qschema)  # extreme value → quarantined
    run_incremental_pipeline(spark, {"fact_q": src1})
    assert spark.table("silver_quarantine_fact_q").count() == 1
    src2 = spark.createDataFrame([("o2", 20.0, T1)], qschema)
    run_incremental_pipeline(spark, {"fact_q": src2})
    assert spark.table("silver_quarantine_fact_q").count() == 1    # not re-derived
    assert spark.table("silver_fact_q").count() == 2


def test_quarantine_anti_join_is_single_column(spark, inc_db, monkeypatch):
    """Round-3 verdict 'what's wrong' #3: the exactly-once identity used
    to be a null-safe conjunction over EVERY column (full wide-sink
    shuffle per run). Pin that the quarantine anti-join now keys on the
    single stored identity_hash column."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    qschema = "order_number string, order_value double, dwcreateddate timestamp"
    src1 = spark.createDataFrame([("o1", 10.0, T0), ("oBAD", 9e9, T0)], qschema)
    run_incremental_pipeline(spark, {"fact_qj": src1})

    anti_keys = []
    real = ClassicDF.join

    def spy(self, other, on=None, how=None):
        if how == "left_anti":
            anti_keys.append(on)
        return real(self, other, on, how)

    monkeypatch.setattr(ClassicDF, "join", spy)
    src2 = spark.createDataFrame([("oBAD", 9e9, T0), ("o2", 20.0, T1)], qschema)
    run_incremental_pipeline(spark, {"fact_qj": src2})
    quarantine_joins = [k for k in anti_keys if k == ["identity_hash"]]
    assert quarantine_joins, f"no single-column quarantine anti-join seen: {anti_keys}"
    assert spark.table("silver_quarantine_fact_qj").count() == 1  # still exactly-once
    # stored identity rides on the sink for future narrow scans
    assert "identity_hash" in spark.table("silver_quarantine_fact_qj").columns


def test_quarantine_identity_distinguishes_null_positions(spark, inc_db):
    """Spark's xxhash64 SKIPS null arguments, so without per-position
    null encoding (null,'x') and ('x',null) across same-typed columns
    collide and the anti-join silently drops one distinct bad row from
    the audit sink. Quarantine rows are exactly the null-heavy
    population — pin that both rows survive."""
    from spaceparts_data_pipeline_spark.plans.silver import (
        _append_quarantine_dedup, _identity_hash,
    )

    df = spark.createDataFrame(
        [(None, "x", "r"), ("x", None, "r")], "a string, b string, quarantine_reason string"
    )
    hashes = [r["h"] for r in df.select(_identity_hash(df.columns).alias("h")).collect()]
    assert hashes[0] != hashes[1]

    sink = "silver_quarantine_nullpos"
    spark.sql(f"DROP TABLE IF EXISTS {sink}")
    _append_quarantine_dedup(spark, sink, df)
    assert spark.table(sink).count() == 2
    # idempotent on re-derivation, still
    _append_quarantine_dedup(spark, sink, df)
    assert spark.table(sink).count() == 2


def test_bronze_schema_evolution(spark, inc_db):
    from spaceparts_data_pipeline_spark.plans import bronze
    src1 = spark.createDataFrame([("o1", 10.0, T0)], SCHEMA)
    bronze.run_incremental(spark, src1, "fact_evolve")
    # round 2 adds a column the source didn't have before
    schema2 = StructType(SCHEMA.fields + [StructField("channel", StringType())])
    src2 = spark.createDataFrame([("o2", 20.0, T1, "web")], schema2)
    bronze.run_incremental(spark, src2, "fact_evolve")
    t = spark.table("bronze_fact_evolve")
    assert "channel" in t.columns
    rows = {r["order_number"]: r["channel"] for r in t.collect()}
    assert rows == {"o1": None, "o2": "web"}       # old rows NULL-filled
    # round 3 back to the narrow schema: append with NULL for the new col
    src3 = spark.createDataFrame([("o3", 30.0, T1 + dt.timedelta(hours=2))], SCHEMA)
    bronze.run_incremental(spark, src3, "fact_evolve")
    t = spark.table("bronze_fact_evolve")
    assert {r["order_number"] for r in t.collect()} == {"o1", "o2", "o3"}


def _table_location(spark, table: str) -> str:
    # resolves through the version view to the physical table's dir
    from spaceparts_data_pipeline_spark.operators.maintenance import table_location

    return table_location(spark, table)


def _parquet_files(table_dir: str) -> dict[str, float]:
    import os
    out = {}
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
    return out


def test_silver_incremental_rewrites_only_touched_buckets(spark, inc_db):
    """The partition-scoped upsert must leave untouched bucket dirs'
    files byte-for-byte alone (same paths, same mtimes) — O(delta
    buckets) I/O, not a full-table rewrite."""
    from spaceparts_data_pipeline_spark.plans import bronze, silver
    from spaceparts_data_pipeline_spark.plans.silver import N_BUCKETS, PARTITION_COL

    rows = [(f"o{i}", float(i), T0) for i in range(200)]
    bronze.run_full(spark, spark.createDataFrame(rows, SCHEMA), "fact_part")
    silver.run_full(spark, "fact_part")
    tdir = _table_location(spark, "silver_fact_part")
    before = _parquet_files(tdir)
    assert before, tdir

    # one updated key → exactly one touched bucket
    inc = spark.createDataFrame([("o5", 999.0, T1)], SCHEMA)
    silver.run_incremental(spark, "fact_part", inc)

    t = spark.table("silver_fact_part")
    touched = t.filter(F.col("order_number") == "o5").select(PARTITION_COL).collect()[0][0]
    assert 0 <= touched < N_BUCKETS
    got = {r["order_number"]: r["amount"] for r in t.collect()}
    assert got["o5"] == 999.0 and len(got) == 200
    after = _parquet_files(tdir)
    untouched_before = {p: m for p, m in before.items()
                        if f"{PARTITION_COL}={touched}" not in p}
    untouched_after = {p: m for p, m in after.items()
                       if f"{PARTITION_COL}={touched}" not in p}
    assert untouched_before == untouched_after   # bytes on disk unchanged
    # and the touched bucket WAS rewritten
    assert {p for p in before if f"{PARTITION_COL}={touched}" in p} != \
           {p for p in after if f"{PARTITION_COL}={touched}" in p}
    # writer alignment (r14): the rewritten bucket gets ~one file, not
    # tasks × buckets tiny files accumulating run over run
    touched_files = [p for p in after if f"{PARTITION_COL}={touched}" in p]
    assert len(touched_files) <= 2, touched_files


def test_gold_incremental_rewrites_only_touched_months(spark, inc_db):
    """Gold fact merge with a delta confined to one month must rewrite
    only that month's partition (dynamic partition overwrite)."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.operators.merge import merge_into_table

    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.to_date(F.lit("2025-01-15")).alias("billing_date"),
        (F.col("id") * 1.0).alias("v"),
    ).union(spark.range(100, 200).select(
        F.col("id").alias("k"),
        F.to_date(F.lit("2025-02-15")).alias("billing_date"),
        (F.col("id") * 1.0).alias("v"),
    )).withColumn("p_month", F.trunc("billing_date", "month"))
    base.write.mode("overwrite").partitionBy("p_month").saveAsTable("gold_mini")
    tdir = _table_location(spark, "gold_mini")
    before = _parquet_files(tdir)

    delta = spark.createDataFrame(
        [(5, dtm.date(2025, 1, 20), 555.0)], "k long, billing_date date, v double"
    ).withColumn("p_month", F.trunc("billing_date", "month"))
    merge_into_table(spark, "gold_mini", delta, ["k"], partition_col="p_month")

    after = _parquet_files(tdir)
    feb_before = {p: m for p, m in before.items() if "p_month=2025-02" in p}
    feb_after = {p: m for p, m in after.items() if "p_month=2025-02" in p}
    assert feb_before and feb_before == feb_after   # February untouched on disk
    t = spark.table("gold_mini")
    assert t.count() == 200
    assert t.filter(F.col("k") == 5).collect()[0]["v"] == 555.0
    # writer alignment (r14): the rewritten month lands as ~one file
    jan_after = [p for p in after if "p_month=2025-01" in p]
    assert len(jan_after) <= 2, jan_after


def test_silver_full_single_transform_execution(spark, inc_db, monkeypatch):
    """Round-3 verdict #3: run_full used to execute the heavy
    standardize→window-dedup plan three times (quarantine count,
    quarantine append, clean write). Pin that the quarantine split now
    consumes a PERSISTED parent (so downstream counts/writes are cache
    scans, not recomputes) and that the cache is released afterwards."""
    from pyspark.storagelevel import StorageLevel

    from spaceparts_data_pipeline_spark.plans import bronze, silver

    seen = []
    real = silver.quarantine_split

    def spy(df, **kw):
        seen.append(df.storageLevel != StorageLevel.NONE)
        return real(df, **kw)

    monkeypatch.setattr(silver, "quarantine_split", spy)
    rows = [(f"o{i}", float(i), T0) for i in range(50)]
    bronze.run_full(spark, spark.createDataFrame(rows, SCHEMA), "fact_once")
    silver.run_full(spark, "fact_once")
    assert seen and all(seen)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_silver_incremental_single_transform_execution(spark, inc_db, monkeypatch):
    """run_incremental has three consumers of the transform (touched-bucket
    collect, merge write, quarantine anti-join append) — same
    persisted-parent contract as run_full."""
    from pyspark.storagelevel import StorageLevel

    from spaceparts_data_pipeline_spark.plans import bronze, silver

    bronze.run_full(spark, spark.createDataFrame([("o1", 1.0, T0)], SCHEMA), "fact_once2")
    silver.run_full(spark, "fact_once2")

    seen = []
    real = silver.quarantine_split

    def spy(df, **kw):
        seen.append(df.storageLevel != StorageLevel.NONE)
        return real(df, **kw)

    monkeypatch.setattr(silver, "quarantine_split", spy)
    inc = spark.createDataFrame([("o1", 2.0, T1), ("o2", 3.0, T1)], SCHEMA)
    silver.run_incremental(spark, "fact_once2", inc)
    assert seen and all(seen)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert spark.table("silver_fact_once2").count() == 2


def test_silver_sorted_write(spark, inc_db):
    from spaceparts_data_pipeline_spark.plans import bronze, silver
    rows = [(f"o{i}", float(i), T0) for i in range(100)]
    bronze.run_full(spark, spark.createDataFrame(rows, SCHEMA), "fact_sorted")
    silver.run_full(spark, "fact_sorted")
    t = spark.table("silver_fact_sorted")
    assert t.count() == 100
    assert t.filter(F.col("order_number") == "o42").count() == 1


def test_five_round_incremental_soak(spark, inc_db):
    """Lifecycle soak: five incremental rounds with overlapping
    re-sends, updates, and a recurring bad row. Invariants held across
    ALL rounds: silver keeps exactly one latest version per key, the
    quarantine sink holds exactly one copy of each distinct bad fact,
    the control watermark is monotone non-decreasing, and version
    pruning never retains more than current+grace physical tables."""
    from spaceparts_data_pipeline_spark.operators.maintenance import list_versions
    from spaceparts_data_pipeline_spark.plans import logs

    qschema = "order_number string, order_value double, dwcreateddate timestamp"
    base = dt.datetime(2025, 1, 1, 8, 0)
    wms = []
    for rnd in range(5):
        t_now = base + dt.timedelta(hours=rnd)
        rows = [
            # re-sent every round with a growing amount (same key)
            ("o_upd", float(100 + rnd), t_now),
            # fresh key per round
            (f"o_new{rnd}", float(rnd), t_now),
            # the SAME bad fact re-derived every round (same source values)
            ("o_bad", 9e9, base),
        ]
        run_incremental_pipeline(
            spark, {"fact_soak": spark.createDataFrame(rows, qschema)}, skip_gold=True
        )
        sil = {r["order_number"]: r["order_value"]
               for r in spark.table("silver_fact_soak").collect()}
        assert sil["o_upd"] == 100 + rnd              # keep-latest won
        assert f"o_new{rnd}" in sil
        assert spark.table("silver_quarantine_fact_soak").count() == 1
        wm = logs.last_watermark(spark, "silver_incremental_control", "fact_soak")
        wms.append(wm)
        versions = list_versions(spark, "silver_fact_soak")
        assert len(versions) <= 2, versions            # current + grace only
    assert wms == sorted(wms)                          # monotone watermarks
    # all five fresh keys + the updated key survived; the bad key never landed
    sil = {r["order_number"] for r in spark.table("silver_fact_soak").collect()}
    assert sil == {"o_upd"} | {f"o_new{i}" for i in range(5)}


def test_quarantine_sink_survives_schema_drift(spark, inc_db):
    """A source that grows a column mid-stream must not break the
    quarantine side-sink: the drifted bad row lands (union-schema
    rewrite), old rows null-fill, and exactly-once still holds."""
    q1 = "order_number string, order_value double, dwcreateddate timestamp"
    run_incremental_pipeline(
        spark, {"fact_dr": spark.createDataFrame([("oBAD", 9e9, T0)], q1)}
    )
    assert spark.table("silver_quarantine_fact_dr").count() == 1

    q2 = q1 + ", channel string"
    run_incremental_pipeline(
        spark,
        {"fact_dr": spark.createDataFrame(
            [("oBAD", 9e9, T0, "web"), ("oBAD2", 8e9, T1, "app")], q2)},
    )
    q = spark.table("silver_quarantine_fact_dr")
    assert "channel" in q.columns
    rows = {r["order_number"]: r["channel"] for r in q.collect()}
    # drifted o_bad re-derived WITH the new column = a new identity (hash
    # basis changed) — documented; the new-schema rows both land once
    assert rows.get("oBAD2") == "app"
    assert q.filter(q.order_number == "oBAD2").count() == 1


def test_merge_fallback_preserves_physical_partitioning(spark, inc_db):
    """r16 review finding: merge_into_table's full-rewrite fallback
    staged the merge WITHOUT partitionBy, silently promoting an
    UNPARTITIONED new version — after which every later merge
    permanently took the full-rewrite path (the partition probe no
    longer saw the column)."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.operators.maintenance import (
        overwrite_via_staging, resolve_physical,
    )
    from spaceparts_data_pipeline_spark.operators.merge import (
        merge_into_table, physical_partition_cols,
    )

    base = spark.range(10).select(
        F.col("id").alias("k"),
        F.to_date(F.lit("2025-01-15")).alias("billing_date"),
        (F.col("id") * 1.0).alias("v"),
    ).withColumn("p_month", F.trunc("billing_date", "month"))
    overwrite_via_staging(spark, "gold_fb", base, partition_by="p_month")

    delta = spark.createDataFrame(
        [(3, dtm.date(2025, 1, 20), 333.0)], "k long, billing_date date, v double"
    ).withColumn("p_month", F.trunc("billing_date", "month"))
    # partition_col omitted -> the full-rewrite fallback
    merge_into_table(spark, "gold_fb", delta, ["k"])

    phys = resolve_physical(spark, "gold_fb")
    assert phys == "gold_fb__v2"                    # staged swap promoted a version
    assert physical_partition_cols(spark, phys) == ["p_month"]
    t = spark.table("gold_fb")
    assert t.count() == 10
    assert t.filter(F.col("k") == 3).collect()[0]["v"] == 333.0
    # the preserved layout keeps the partition-scoped merge path alive
    delta2 = spark.createDataFrame(
        [(4, dtm.date(2025, 1, 21), 444.0)], "k long, billing_date date, v double"
    ).withColumn("p_month", F.trunc("billing_date", "month"))
    merge_into_table(spark, "gold_fb", delta2, ["k"], partition_col="p_month")
    assert spark.table("gold_fb").filter(F.col("k") == 4).collect()[0]["v"] == 444.0


def test_gold_incremental_propagates_secondary_source_changes(spark, inc_db):
    """r16 review finding: the incremental driver watermarked ONLY
    source_tables[0], so a refreshed joined dim (a corrected FX rate)
    never propagated to gold rows whose primary rows didn't change —
    gold kept the stale price indefinitely with a 'success' log. A
    secondary refresh must trigger exactly ONE full-delta merge
    (tracked per (model, secondary) in gold_secondary_control against
    the dim's own previous max watermark, not the loose lookback)."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.plans import gold as gold_plan

    t_old = dtm.datetime(2025, 1, 1, 10, 0)
    t_new = dtm.datetime(2025, 1, 2, 10, 0)
    spark.createDataFrame(
        [(1, "USD", 100.0, t_old)],
        "k long, currency string, v double, silver_created_date timestamp",
    ).write.mode("overwrite").saveAsTable("silver_fact_mini")
    spark.createDataFrame(
        [("USD", 0.9, t_old)],
        "currency string, rate double, silver_created_date timestamp",
    ).write.mode("overwrite").saveAsTable("silver_dim_rate_mini")

    model = mini_gold_model(gold_plan, F)
    wm = dtm.datetime(2025, 6, 1)   # far future: primary changed-set empty

    # run 1: table absent -> full refresh; run 2: first incremental
    # (no control history yet -> conservative full-delta, records it)
    gold_plan.run_incremental(spark, wm, models=[model])
    res = gold_plan.run_incremental(spark, wm, models=[model])
    assert res["gold_mini_sec"]["status"] == "success"
    assert spark.table("gold_mini_sec").collect()[0]["v_eur"] == pytest.approx(90.0)

    # the DIM alone refreshes (full reload with a corrected rate);
    # primary facts untouched, so the changed-key delta is empty
    spark.createDataFrame(
        [("USD", 0.95, t_new)],
        "currency string, rate double, silver_created_date timestamp",
    ).write.mode("overwrite").saveAsTable("silver_dim_rate_mini")
    res = gold_plan.run_incremental(spark, wm, models=[model])
    assert res["gold_mini_sec"]["status"] == "success"
    # the repriced value reached gold despite zero changed primary rows
    assert spark.table("gold_mini_sec").collect()[0]["v_eur"] == pytest.approx(95.0)

    # steady state: nothing changed -> no new control rows, value stable
    n_controls = spark.table(gold_plan.SECONDARY_CONTROL_TABLE).count()
    res = gold_plan.run_incremental(spark, wm, models=[model])
    assert res["gold_mini_sec"]["status"] == "success"
    assert spark.table(gold_plan.SECONDARY_CONTROL_TABLE).count() == n_controls
    assert spark.table("gold_mini_sec").collect()[0]["v_eur"] == pytest.approx(95.0)


def test_gold_incremental_delta_keeps_null_merge_keys(spark, inc_db):
    """r16 review finding: the changed-key restriction used a plain
    equi-semi-join, so an updated row whose merge key is NULL (silver's
    standardize_key maps 'UNKNOWN'/'N/A'/'' to NULL) was silently
    dropped from the delta — merge_into_table matches NULL keys with
    eqNullSafe, but the delta never carried them."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.plans import gold as gold_plan

    t_old = dtm.datetime(2025, 1, 1, 10, 0)
    t_new = dtm.datetime(2025, 3, 1, 10, 0)
    spark.createDataFrame(
        [(1, "USD", 100.0, t_old), (None, "USD", 7.0, t_old)],
        "k long, currency string, v double, silver_created_date timestamp",
    ).write.mode("overwrite").saveAsTable("silver_fact_mini")
    spark.createDataFrame(
        [("USD", 0.9, t_old)],
        "currency string, rate double, silver_created_date timestamp",
    ).write.mode("overwrite").saveAsTable("silver_dim_rate_mini")

    model = mini_gold_model(gold_plan, F)
    # seed gold + control history so the next run takes the RESTRICTED path
    wm_all = dtm.datetime(2024, 1, 1)
    gold_plan.run_incremental(spark, wm_all, models=[model])
    gold_plan.run_incremental(spark, wm_all, models=[model])

    # update ONLY the NULL-key row (fresh watermark); dim untouched
    spark.createDataFrame(
        [(1, "USD", 100.0, t_old), (None, "USD", 8.0, t_new)],
        "k long, currency string, v double, silver_created_date timestamp",
    ).write.mode("overwrite").saveAsTable("silver_fact_mini")
    res = gold_plan.run_incremental(spark, dtm.datetime(2025, 2, 1), models=[model])
    assert res["gold_mini_sec"]["status"] == "success"
    got = {r["k"]: r["v_eur"] for r in spark.table("gold_mini_sec").collect()}
    assert got[None] == pytest.approx(8.0 * 0.9)   # NULL-key update merged
    assert got[1] == pytest.approx(90.0)


def test_bronze_incremental_append_reads_one_snapshot(spark, inc_db, monkeypatch):
    """r16 review finding: the count/watermark agg re-executed the
    incoming scan AFTER the append — on a live (JDBC) source a row
    landing in between is counted into the new watermark but was never
    appended, so the next run skips it forever. Pin that the append
    consumes a persisted snapshot (the agg then reads the same cache)."""
    from pyspark.storagelevel import StorageLevel

    from spaceparts_data_pipeline_spark.operators import maintenance
    from spaceparts_data_pipeline_spark.plans import bronze

    seen = []
    real = maintenance.append_with_evolution

    def spy(spark_, incoming, target):
        seen.append(incoming.storageLevel != StorageLevel.NONE)
        return real(spark_, incoming, target)

    monkeypatch.setattr(maintenance, "append_with_evolution", spy)
    src1 = spark.createDataFrame([("o1", 1.0, T0)], SCHEMA)
    src2 = spark.createDataFrame([("o2", 2.0, T1)], SCHEMA)
    bronze.run_incremental(spark, src1, "snapfact", overlap=dt.timedelta(0))
    out = bronze.run_incremental(spark, src2, "snapfact", overlap=dt.timedelta(0))
    assert seen == [True, True]      # both appends (the first creates) saw a persisted frame
    assert out["records"] == 1 and out["watermark"] == T1
