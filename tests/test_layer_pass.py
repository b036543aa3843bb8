"""The per-table layer pass (``plans.logs.run_tables``) and the steps
it drives: bronze/silver/gold isolate each table, batch success log
rows into one append per pass, flush failure rows at once and report a
failed flush in the layer result; incremental watermarks ignore rows
silver quarantines as future-dated."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

from spaceparts_data_pipeline_spark.plans import logs, runner
from spaceparts_data_pipeline_spark.streaming.incremental import run_incremental_pipeline
from tests.fixtures import build_fixtures, mini_gold_model

SCHEMA = StructType([
    StructField("order_number", StringType()),
    StructField("amount", DoubleType()),
    StructField("dwcreateddate", TimestampType()),
])

T0 = dt.datetime(2025, 1, 1, 10, 0)


@pytest.fixture()
def layer_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS layer_db")
    spark.catalog.setCurrentDatabase("layer_db")
    yield
    spark.catalog.setCurrentDatabase("default")
    spark.sql("DROP DATABASE layer_db CASCADE")


def test_failed_table_isolates(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS failing")
    spark.catalog.setCurrentDatabase("failing")
    try:
        src = build_fixtures(spark)
        bad = {"dim_regions": src["dim_regions"], "broken": None}  # None source -> failure
        out = runner.run_bronze_layer(spark, bad)
        assert out["status"] == "completed_with_errors"
        assert out["tables"]["dim_regions"]["status"] == "success"
        assert out["tables"]["broken"]["status"] == "failed"
        failures = logs.latest_failures(spark, "bronze_execution_log").collect()
        assert failures and failures[0]["table_name"] == "broken"
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP DATABASE failing CASCADE")


def test_layer_runs_batch_log_appends(spark, monkeypatch):
    """r15 silver step profile: per-table 1-row log appends cost ~0.4 s
    of fixed Spark-job latency each (~20% of an sf0.1 silver pass) —
    the bronze/silver layer runners must batch success rows into ONE
    append per layer pass (the gold r14 LogBuffer discipline), while a
    failure row still lands immediately."""
    from spaceparts_data_pipeline_spark.operators import maintenance

    appends: list[str] = []
    real = maintenance.safe_save_as_table

    def spy(df, table, mode="overwrite", **kw):
        if mode == "append" and table.endswith("_execution_log"):
            appends.append(table)
        return real(df, table, mode=mode, **kw)

    spark.sql("CREATE DATABASE IF NOT EXISTS logbatch_db")
    spark.catalog.setCurrentDatabase("logbatch_db")
    try:
        monkeypatch.setattr(maintenance, "safe_save_as_table", spy)
        src = build_fixtures(spark)
        three = {k: src[k] for k in list(src)[:3]}
        out = runner.run_bronze_layer(spark, three)
        assert out["status"] == "success" and len(out["tables"]) == 3
        assert appends == ["bronze_execution_log"]      # ONE append, 3 tables
        assert spark.table("bronze_execution_log").count() == 3
        appends.clear()
        out = runner.run_silver_layer(spark)
        assert out["status"] == "success" and len(out["tables"]) == 3
        assert appends.count("silver_execution_log") == 1
        assert spark.table("silver_execution_log").count() == 3
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP DATABASE logbatch_db CASCADE")


def test_incremental_pipeline_batches_log_appends(spark, layer_db, monkeypatch):
    """r15 silver profile follow-through: the incremental driver batches
    success LOG rows into one append per layer (same LogBuffer
    discipline as the full-mode runner), while CONTROL rows — the
    watermark the next run scans from — still land one per table."""
    from spaceparts_data_pipeline_spark.operators import maintenance

    appends: list[str] = []
    real = maintenance.safe_save_as_table

    def spy(df, table, mode="overwrite", **kw):
        if mode == "append":
            appends.append(table)
        return real(df, table, mode=mode, **kw)

    monkeypatch.setattr(maintenance, "safe_save_as_table", spy)
    srcs = {
        "fact_a": spark.createDataFrame([("a1", 1.0, T0)], SCHEMA),
        "fact_b": spark.createDataFrame([("b1", 2.0, T0)], SCHEMA),
    }
    res = run_incremental_pipeline(spark, srcs, skip_gold=True)
    assert all(t["status"] == "success" for t in res["bronze"].values())
    assert all(t["status"] == "success" for t in res["silver"].values())
    assert appends.count("bronze_execution_log") == 1      # batched
    assert appends.count("silver_execution_log") == 1
    assert appends.count("bronze_incremental_control") == 2  # per-table
    assert appends.count("silver_incremental_control") == 2
    assert spark.table("bronze_execution_log").count() == 2
    assert spark.table("silver_execution_log").count() == 2


def test_incremental_failed_table_isolates_and_flushes_failure_row(spark, layer_db):
    """The incremental driver's per-table isolation under the r15
    LogBuffer: a failing bronze table must not halt the layer, its
    failure row must land IMMEDIATELY (the alert chain's lookup reads
    it — LogBuffer flushes on any non-success add, carrying buffered
    success rows along), and silver must skip the failed table rather
    than resurrect a stale slice."""
    srcs = {
        "fact_ok": spark.createDataFrame([("k1", 1.0, T0)], SCHEMA),
        "fact_bad": None,            # None source -> bronze raises
    }
    res = run_incremental_pipeline(spark, srcs, skip_gold=True)
    assert res["bronze"]["fact_ok"]["status"] == "success"
    assert res["bronze"]["fact_bad"]["status"] == "failed"
    assert res["silver"]["fact_ok"]["status"] == "success"
    assert res["silver"]["fact_bad"]["status"] == "skipped"
    rows = {r["table_name"]: r["status"]
            for r in spark.table("bronze_execution_log").collect()}
    assert rows == {"fact_ok": "success", "fact_bad": "failed"}
    failures = logs.latest_failures(
        spark, "bronze_execution_log", execution_id=res["execution_id"]).collect()
    assert failures and failures[0]["table_name"] == "fact_bad"


def test_gold_full_refresh_flush_failure_surfaces(spark, layer_db, monkeypatch):
    """r16 review finding: the force_full_refresh branch ran run_full
    with its own per-model LogBuffer and kept only result[m.name] —
    the nested '_execution_log' flush-failure entry was discarded, so
    N lost log rows looked like all-success. The nested run now shares
    the incremental driver's buffer, whose finally-flush reports."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.plans import gold as gold_plan
    from spaceparts_data_pipeline_spark.plans.logs import LogBuffer

    spark.createDataFrame(
        [(1, "USD", 100.0, dtm.datetime(2025, 1, 1))],
        "k long, currency string, v double, silver_created_date timestamp",
    ).write.mode("overwrite").saveAsTable("silver_fact_mini")
    spark.createDataFrame(
        [("USD", 0.9, dtm.datetime(2025, 1, 1))],
        "currency string, rate double, silver_created_date timestamp",
    ).write.mode("overwrite").saveAsTable("silver_dim_rate_mini")

    def boom(self):
        if self._rows:
            raise RuntimeError("log table unwritable")

    monkeypatch.setattr(LogBuffer, "flush", boom)
    model = mini_gold_model(gold_plan, F)
    res = gold_plan.run_incremental(
        spark, dtm.datetime(2025, 6, 1), models=[model], force_full_refresh=True)
    assert res["gold_mini_sec"]["status"] == "success"   # data landed
    assert res["_execution_log"]["status"] == "failed"   # lost rows reported
    assert "log table unwritable" in res["_execution_log"]["error"]


def test_log_buffer_batches_success_flushes_failures(spark, layer_db):
    """LogBuffer: success rows land in ONE append at flush(); a failure
    row flushes immediately together with everything buffered."""
    from spaceparts_data_pipeline_spark.plans.logs import LogBuffer

    spark.sql("DROP TABLE IF EXISTS lbuf_log")
    buf = LogBuffer(spark, "lbuf_log")
    buf.add("gold", "t1", "e1", "success", 10)
    buf.add("gold", "t2", "e1", "success", 20)
    assert not spark.catalog.tableExists("lbuf_log")   # still buffered
    buf.add("gold", "t3", "e1", "failed", None, "boom")  # -> immediate flush
    rows = {r["table_name"]: r["status"] for r in spark.table("lbuf_log").collect()}
    assert rows == {"t1": "success", "t2": "success", "t3": "failed"}
    buf.add("gold", "t4", "e1", "success", 40)
    buf.flush()
    buf.flush()                                        # idempotent on empty
    assert spark.table("lbuf_log").count() == 4


def test_log_flush_failure_reported_not_raised(spark, layer_db, monkeypatch):
    """r15 advice: the batched flush runs in the layer runners'
    ``finally``, OUTSIDE the per-table isolation — an execution-log
    write failure there must land in the layer result, not crash a run
    whose data tables all succeeded."""
    from spaceparts_data_pipeline_spark.plans import logs, runner
    from spaceparts_data_pipeline_spark.plans.logs import LogBuffer

    # unit: flush_safe returns the error instead of raising, and the
    # rows are RETAINED so a later flush can retry (not silently lost)
    buf = LogBuffer(spark, "lbuf_safe_log")
    buf._rows.append(("x",) * 7)   # malformed row -> createDataFrame fails
    err = buf.flush_safe()
    assert err is not None
    assert buf._rows                       # kept for retry
    assert buf.flush_safe() is not None    # retry hits the same rows
    buf._rows.clear()
    assert buf.flush_safe() is None        # drained -> no-op

    # layer: a poisoned flush must not abort run_bronze_layer — neither
    # via the finally-flush nor via a FAILURE row's immediate flush
    # inside the per-table except handler
    def boom(self):
        if self._rows:
            raise RuntimeError("log table unwritable")

    monkeypatch.setattr(LogBuffer, "flush", boom)
    src = {"flushfail": spark.range(5).withColumnRenamed("id", "k"),
           "tablefail": None}    # prepare(None) raises -> per-table except
    out = runner.run_bronze_layer(spark, src)
    assert out["tables"]["flushfail"]["status"] == "success"
    assert out["tables"]["tablefail"]["status"] == "failed"
    assert out["status"] == "completed_with_errors"
    assert "log table unwritable" in out["log_flush_error"]
    assert spark.table("bronze_flushfail").count() == 5

    # gold: a flush failure surfaces as a failed _execution_log entry
    from spaceparts_data_pipeline_spark.plans import gold as gold_plan

    spark.range(3).withColumnRenamed("id", "k").write \
        .mode("overwrite").saveAsTable("silver_goldsrc")
    model = gold_plan.GoldModel(
        name="gold_flushprobe", builder=lambda s: s.table("silver_goldsrc"),
        merge_keys=["k"], source_tables=["goldsrc"])
    res = gold_plan.run_full(spark, models=[model])
    assert res["gold_flushprobe"]["status"] == "success"
    assert res["_execution_log"]["status"] == "failed"
    assert "log table unwritable" in res["_execution_log"]["error"]


def test_future_dated_row_does_not_advance_watermarks(spark, layer_db):
    """A row dated past silver's future-date horizon is quarantined, so
    it must not become either incremental watermark: one year-2200 row
    in delta 1 used to push both past every later drop, and delta 2's
    ordinary rows never reached silver. The future row is re-read each
    cycle and must still land in the quarantine sink exactly once."""
    future = dt.datetime(2200, 1, 1)
    t1 = T0 + dt.timedelta(days=1)
    delta1 = [("a1", 1.0, T0), ("a2", 2.0, T0), ("f1", 9.0, future)]
    delta2 = [("b1", 3.0, t1), ("b2", 4.0, t1)]
    src1 = spark.createDataFrame(delta1, SCHEMA)
    src2 = spark.createDataFrame(delta1 + delta2, SCHEMA)   # the source keeps growing
    for src in (src1, src2):
        res = run_incremental_pipeline(spark, {"fact_wm": src}, skip_gold=True)
        assert res["silver"]["fact_wm"]["status"] == "success"
    assert logs.last_watermark(spark, "bronze_incremental_control", "fact_wm") == t1
    assert logs.last_watermark(spark, "silver_incremental_control", "fact_wm") == t1
    silver = {r["order_number"] for r in spark.table("silver_fact_wm").collect()}
    assert silver == {"a1", "a2", "b1", "b2"}
    sink = [r["order_number"] for r in spark.table("silver_quarantine_fact_wm").collect()]
    assert sink == ["f1"]
