"""Bookkeeping rides the write. Catalog probes are SQL commands that run
no Spark job; the row counts bronze, silver and gold report are metrics
observed on the write that landed the rows, and they equal what a
re-read of the table counts; log and control rows read back as
appended. Job counts come from ``statusTracker`` under a job group of
the test's own."""

from __future__ import annotations

import datetime as dt
import threading
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

from spaceparts_data_pipeline_spark.operators import maintenance as mt
from spaceparts_data_pipeline_spark.operators.merge import physical_partition_cols
from spaceparts_data_pipeline_spark.plans import bronze, gold, logs, silver
from spaceparts_data_pipeline_spark.sources.catalog import discover_tables

DB = "job_budget_db"
SCHEMA = StructType([
    StructField("order_number", StringType()),
    StructField("net_value", DoubleType()),
    StructField("dwcreateddate", TimestampType()),
])
T0 = dt.datetime(2025, 1, 1, 10, 0)
FUTURE = dt.datetime(2200, 1, 1)
HORIZON = "2030-01-01"
#: a step that has not returned after this long is taken to hang
STEP_TIMEOUT_S = 120


@pytest.fixture()
def jb_db(spark):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    spark.catalog.setCurrentDatabase(DB)
    yield
    spark.catalog.setCurrentDatabase("default")
    spark.sql(f"DROP DATABASE {DB} CASCADE")


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _within_timeout(fn):
    """``fn()``, failing the test instead of hanging when it does not
    return (an observed metric read before its node ran blocks)."""
    box = {}

    def run():
        try:
            box["out"] = fn()
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            box["err"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(STEP_TIMEOUT_S)
    assert not t.is_alive(), f"step did not return within {STEP_TIMEOUT_S} s"
    if "err" in box:
        raise box["err"]
    return box["out"]


def _rows(spark, spec):
    return spark.createDataFrame(spec, SCHEMA)


def test_catalog_probes_run_no_job(spark, jb_db):
    mt.overwrite_via_staging(
        spark, "bronze_parts",
        spark.range(6).selectExpr("id", "CAST(id % 2 AS STRING) AS p"), partition_by="p")
    spark.range(2).createOrReplaceTempView("bronze_temp")

    found, n = _jobs(spark, lambda: discover_tables(spark, "bronze_*"))
    assert found == ["bronze_parts"] and n == 0
    acted, n = _jobs(spark, lambda: mt.recover_all(spark))
    assert acted == {} and n == 0
    phys = mt.resolve_physical(spark, "bronze_parts")
    cols, n = _jobs(spark, lambda: physical_partition_cols(spark, phys))
    assert cols == ["p"] and n == 0
    assert physical_partition_cols(spark, "bronze_parts") == []      # the view
    assert physical_partition_cols(spark, "no_such_table") == []


def test_full_layers_report_the_rows_they_wrote(spark, jb_db):
    rows = [(f"o{i}", float(i), T0) for i in range(40)]
    rows += [("f1", 1.0, FUTURE), ("f2", 2.0, FUTURE), ("v1", -1e12, T0)]
    res = bronze.run_full(spark, _rows(spark, rows), "fact_jb")
    assert res["records"] == spark.table("bronze_fact_jb").count() == 43

    res = silver.run_full(spark, "fact_jb", horizon=HORIZON)
    assert res["records"] == spark.table("silver_fact_jb").count() == 40
    clean, quarantined, parent, _ = silver.transform(
        spark.table("bronze_fact_jb"), "fact_jb", "x", horizon=HORIZON)
    try:
        assert res["quarantined"] == quarantined.count() == 3
    finally:
        parent.unpersist()
    assert spark.table("silver_quarantine_fact_jb").count() == 3

    model = gold.GoldModel(
        "gold_jb", lambda s: s.table("silver_fact_jb").select("order_number", "net_value",
                                                                F.to_date("dwcreateddate").alias("d")),
        ["order_number"], source_tables=["fact_jb"],
        partition=("p_month", lambda: F.trunc("d", "month")))
    res = gold.run_full(spark, models=[model])
    assert res["gold_jb"]["records"] == spark.table("gold_jb").count() == 40

    # incremental: the merged delta's count rides the merge
    wm = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) - dt.timedelta(minutes=5)
    res = gold.run_incremental(spark, wm, models=[model])
    assert res["gold_jb"]["records"] == 40
    assert spark.table("gold_jb").count() == 40


def test_silver_incremental_reports_the_rows_it_landed(spark, jb_db):
    """An incremental tick reports what it landed: ``records`` counts
    the slice's clean rows (updates and new keys), not the table, and
    matches the control row; ``quarantined`` counts the slice's bad
    rows, which the sink gains exactly once."""
    rows = [(f"o{i}", float(i), T0) for i in range(20)] + [("f0", 0.0, FUTURE)]
    bronze.run_full(spark, _rows(spark, rows), "inc_land_jb")
    silver.run_full(spark, "inc_land_jb", horizon=HORIZON)
    sink = "silver_quarantine_inc_land_jb"
    before = spark.table(sink).count()

    t1 = T0 + dt.timedelta(hours=1)
    clean = [("o0", 100.0, t1), ("o1", 101.0, t1), ("o2", 102.0, t1),
             ("n0", 1.0, t1), ("n1", 2.0, t1)]
    bad = [("f1", 1.0, FUTURE), ("f2", 2.0, FUTURE)]
    res = silver.run_incremental(spark, "inc_land_jb", _rows(spark, clean + bad),
                                 horizon=HORIZON)
    assert (res["records"], res["quarantined"]) == (len(clean), len(bad))
    control = spark.table("silver_incremental_control").filter(
        F.col("table_name") == "inc_land_jb").collect()
    assert [r["record_count"] for r in control] == [len(clean)]
    assert control[0]["last_extracted_timestamp"] == t1
    assert spark.table(sink).count() == before + len(bad)
    assert spark.table("silver_inc_land_jb").count() == 22

    res = silver.run_incremental(spark, "inc_land_jb", _rows(spark, [("o3", 103.0, t1)]),
                                 horizon=HORIZON)
    assert (res["records"], res["quarantined"]) == (1, 0)
    assert spark.table(sink).count() == before + len(bad)


def test_empty_and_unscreened_inputs_finish(spark, jb_db):
    """Observed counts whose node adaptive execution dropped (an empty
    shuffle above it) fall back instead of blocking: an empty source,
    a source whose every row is quarantined, and a table with no date
    or value column to screen."""
    empty = _within_timeout(lambda: bronze.run_full(spark, _rows(spark, []), "empty_jb"))
    assert empty["records"] == 0
    res = _within_timeout(lambda: silver.run_full(spark, "empty_jb", horizon=HORIZON))
    assert (res["records"], res["quarantined"]) == (0, 0)
    assert not spark.catalog.tableExists("silver_quarantine_empty_jb")

    bronze.run_full(spark, _rows(spark, [("f1", 1.0, FUTURE), ("f2", 2.0, FUTURE)]), "allbad_jb")
    res = _within_timeout(lambda: silver.run_full(spark, "allbad_jb", horizon=HORIZON))
    assert (res["records"], res["quarantined"]) == (0, 2)
    assert spark.table("silver_quarantine_allbad_jb").count() == 2

    # straight from a raw table: bronze would add its load_date column
    spark.createDataFrame([("a", "x"), ("b", "y"), ("c", None)],
                          "code string, label string").write.saveAsTable("raw_codes_jb")
    res = _within_timeout(lambda: silver.run_full(spark, "codes_jb", source_table="raw_codes_jb"))
    assert (res["records"], res["quarantined"]) == (3, 0)
    assert spark.table("silver_codes_jb").count() == 3

    model = gold.GoldModel(
        "gold_empty_jb", lambda s: s.table("silver_empty_jb").select(
            "order_number", F.to_date("dwcreateddate").alias("d")),
        ["order_number"], source_tables=["empty_jb"],
        partition=("p_month", lambda: F.trunc("d", "month")))
    res = _within_timeout(lambda: gold.run_full(spark, models=[model]))
    assert res["gold_empty_jb"]["records"] == 0

    inc = _within_timeout(lambda: bronze.run_incremental(spark, _rows(spark, []), "inc_jb"))
    assert inc["records"] == 0 and inc["watermark"] is None
    out = _within_timeout(lambda: silver.run_incremental(
        spark, "inc_jb", _rows(spark, []), horizon=HORIZON))
    assert out["records"] == 0


def test_log_and_control_rows_read_back_as_appended(spark, jb_db):
    buf = logs.LogBuffer(spark, "silver_execution_log")
    buf.add("silver", "t1", "e1", "success", 2**40)
    buf.add("silver", "t2", "e1", "success", None, "it's été \"quoted\"")
    appended = list(buf._rows)
    buf.flush()
    back = [tuple(r) for r in spark.table("silver_execution_log").orderBy("table_name").collect()]
    assert back == appended

    wm = dt.datetime(2025, 3, 30, 2, 30, 15, 123456)
    logs.append_control(spark, "bronze_incremental_control", "t1", "e2", wm, "success", 7)
    logs.append_control(spark, "bronze_incremental_control", "t2", "e2", None, "failed")
    back = {r["table_name"]: r for r in spark.table("bronze_incremental_control").collect()}
    assert (back["t1"]["last_extracted_timestamp"], back["t1"]["record_count"]) == (wm, 7)
    assert back["t2"]["last_extracted_timestamp"] is None and back["t2"]["record_count"] is None
    assert logs.last_watermark(spark, "bronze_incremental_control", "t1") == wm
