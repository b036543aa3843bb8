"""Bronze layer: raw ingest + identifier sanitization + load metadata
(SURVEY.md §3.2 step 2; reference bronze_full_load / bronze_incremental_load).

Full mode: overwrite `bronze_<table>` with sanitized column names and
(load_date, source_system) metadata. Incremental mode: watermark scan
with 1-hour overlap + APPEND (the bronze upsert flavor, K2) + control
row (K6). Both modes create `bronze_<table>` through the versioned swap
(`maintenance.overwrite_via_staging`); appends address its physical
version. Source here is any DataFrame (parquet stand-in for the
reference's JDBC; `sources.jdbc` builds real JDBC readers).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.operators.identifiers import clean_columns
from spaceparts_data_pipeline_spark.operators.quality import watermark_max
from spaceparts_data_pipeline_spark.plans import logs
from spaceparts_data_pipeline_spark.sources.parquet import DEFAULT_OVERLAP, watermark_scan

SOURCE_SYSTEM = "spaceparts"


def prepare(df: DataFrame) -> DataFrame:
    """Sanitize identifiers + attach load metadata (one projection)."""
    return (
        clean_columns(df)
        .withColumn("load_date", F.current_timestamp())
        .withColumn("source_system", F.lit(SOURCE_SYSTEM))
    )


def run_full(spark: SparkSession, source: DataFrame, table: str) -> dict:
    from spaceparts_data_pipeline_spark.operators.maintenance import overwrite_via_staging

    # the record count rides the write: no re-read of the written table
    out, metrics = logs.observe(prepare(source), rows=F.count(F.lit(1)))
    overwrite_via_staging(spark, f"bronze_{table}", out)
    return {"table": table, "status": "success", "records": metrics()["rows"], "mode": "full"}


def run_incremental(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    ts_col: str = "dwcreateddate",
    execution_id: str | None = None,
    control_table: str = "bronze_incremental_control",
    overlap: dt.timedelta = DEFAULT_OVERLAP,
) -> dict:
    """Watermarked append: rows above (last watermark − overlap); first
    run falls back to full extraction (S10 semantics).

    The CONTROL row lands here, per table, as soon as the append is
    done: it carries the watermark the next run scans from, and
    deferring it would widen the crash window in which the overlap
    re-append duplicates rows. The new watermark ignores rows dated
    past silver's future-date horizon: silver quarantines them, and one
    such row (year 2200) would otherwise push the watermark past every
    later drop."""
    from pyspark.storagelevel import StorageLevel

    from spaceparts_data_pipeline_spark.operators import maintenance

    execution_id = execution_id or logs.new_execution_id()
    wm = logs.last_watermark(spark, control_table, table)
    # ONE materialized snapshot: the count and the new watermark are
    # observed on it below the persist, so the append that builds the
    # cache also computes them. They describe exactly the rows appended;
    # a second scan of a live (JDBC) source could count a row landing in
    # between into the watermark without appending it, and the next
    # run's scan would skip that row forever (the overlap only shields
    # rows within its window).
    incoming, metrics = logs.observe(
        prepare(watermark_scan(source, ts_col, wm, overlap)),
        n=F.count(F.lit(1)), mx=watermark_max(ts_col))
    incoming = incoming.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # the first run's append creates the table (a version view)
        maintenance.append_with_evolution(spark, incoming, f"bronze_{table}")
        stats = metrics()
    finally:
        incoming.unpersist()
    new_wm = stats["mx"] or wm
    logs.append_control(spark, control_table, table, execution_id, new_wm, "success", stats["n"])
    return {"table": table, "status": "success", "records": stats["n"], "mode": "incremental", "watermark": new_wm}
