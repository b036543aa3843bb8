"""One physical layout for every table the engine may rewrite: a version
view over ``{t}__v{N}`` from its first write on. Append-only sinks that
nothing rewrites (execution logs, incremental control) stay plain
tables, and the versioned swap refuses a plain table holding its name."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from spaceparts_data_pipeline_spark.operators import maintenance as mt
from spaceparts_data_pipeline_spark.sources.catalog import discover_tables
from spaceparts_data_pipeline_spark.streaming import structured
from spaceparts_data_pipeline_spark.streaming.incremental import run_incremental_pipeline

SCHEMA = StructType([
    StructField("order_number", StringType()),
    StructField("amount", DoubleType()),
    StructField("dwcreateddate", TimestampType()),
])
EVENTS = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("value", DoubleType()),
])
T0 = dt.datetime(2025, 1, 1, 10, 0)


@pytest.fixture()
def layout_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS layout_db")
    spark.catalog.setCurrentDatabase("layout_db")
    yield
    spark.catalog.setCurrentDatabase("default")
    spark.sql("DROP DATABASE layout_db CASCADE")


def _is_view(spark, table):
    return spark.catalog.getTable(table).tableType.upper() == "VIEW"


def test_rewritable_tables_are_versioned_from_their_first_write(spark, layout_db, tmp_path):
    # one future-dated row: silver quarantines it, so the first run
    # creates the quarantine sink too
    src = spark.createDataFrame(
        [("a1", 1.0, T0), ("a2", 2.0, T0), ("f1", 9.0, dt.datetime(2200, 1, 1))], SCHEMA)
    res = run_incremental_pipeline(spark, {"fact_lay": src}, skip_gold=True)
    assert res["silver"]["fact_lay"]["status"] == "success"

    events = str(tmp_path / "events")
    spark.createDataFrame([(1, T0, 1.0), (1, T0 + dt.timedelta(hours=1), 2.0), (2, T0, 3.0)],
                          EVENTS).write.parquet(events)
    q = structured.stream_upsert(spark, structured.stream_events(spark, events, EVENTS),
                                 "events_lay", ["event_id"], "ts", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert {r["event_id"]: r["value"] for r in spark.table("events_lay").collect()} \
        == {1: 2.0, 2: 3.0}

    # every layer table, minus the logs/control denylist and the versions
    rewritable = discover_tables(spark, "bronze_*") + discover_tables(spark, "silver_*")
    assert sorted(rewritable) == ["bronze_fact_lay", "silver_fact_lay",
                                  "silver_quarantine_fact_lay"]
    rewritable.append("events_lay")
    for t in rewritable:
        assert _is_view(spark, t), t
        assert mt.current_version(spark, t) == 1, t
        assert mt.is_managed(spark, f"{t}__v1"), t

    plain = ["bronze_execution_log", "silver_execution_log",
             "bronze_incremental_control", "silver_incremental_control"]
    for t in plain:
        assert not _is_view(spark, t), t
        assert mt.list_versions(spark, t) == [], t


def test_swap_refuses_a_plain_table(spark, layout_db):
    spark.range(3).write.saveAsTable("plain_t")
    with pytest.raises(ValueError, match="plain_t"):
        mt.overwrite_via_staging(spark, "plain_t", spark.range(5))
    assert mt.list_versions(spark, "plain_t") == []
    assert spark.table("plain_t").count() == 3
