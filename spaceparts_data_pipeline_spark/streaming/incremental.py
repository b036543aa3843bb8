"""Batch-incremental orchestration (SURVEY.md §2.11, §3.3).

The reference's incrementality is watermark-batch, with a different
upsert flavor per layer:

  bronze  — watermark scan + APPEND        (plans.bronze.run_incremental)
  silver  — union + window dedup + OVERWRITE (plans.silver.run_incremental)
  gold    — changed-keys + keyed MERGE     (plans.gold.run_incremental)

This module adds the cross-layer driver: compute the effective
watermark (`now − lookback_days`, overridable; `force_full_refresh`
flag) and run the three layers' incremental paths in order.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from spaceparts_data_pipeline_spark.plans import bronze, gold, logs, silver
from spaceparts_data_pipeline_spark.sources.parquet import watermark_scan

DEFAULT_LOOKBACK_DAYS = 7


def effective_watermark(
    lookback_days: int = DEFAULT_LOOKBACK_DAYS,
    now: dt.datetime | None = None,
) -> dt.datetime:
    """Gold watermark: now − lookback_days (Gold_incremental_load cell 8)."""
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    return now - dt.timedelta(days=lookback_days)


def run_incremental_pipeline(
    spark: SparkSession,
    sources: dict[str, DataFrame],
    ts_col: str = "dwcreateddate",
    lookback_days: int = DEFAULT_LOOKBACK_DAYS,
    now: dt.datetime | None = None,
    force_full_refresh: bool = False,
    skip_gold: bool = False,
) -> dict:
    # ONE execution id for the whole run, threaded through every
    # layer's success/control/failure rows: the run's log rows correlate
    # across the three logs, and the alert chain can scope its lookup to
    # THIS run (plans/notify.py execution_id) so stale failures from an
    # earlier run can never re-alert
    execution_id = logs.new_execution_id()
    results: dict = {"bronze": {}, "silver": {}, "gold": {},
                     "execution_id": execution_id}
    # per-table isolation (logs.run_tables): one bad table must not
    # halt the layer, and its failure must land as a 'failed'
    # execution-log row — that row is what the orchestration alert
    # chain (the reference's Lookup_Error_* →
    # Email_Notificacion_Error_*) looks up. CONTROL rows land per table
    # inside the steps — they carry the watermark the next run scans
    # from.
    results["bronze"], bronze_err = logs.run_tables(
        spark, "bronze", sorted(sources),
        lambda t: bronze.run_incremental(spark, sources[t], t, ts_col=ts_col,
                                         execution_id=execution_id),
        execution_id)

    def silver_step(table: str) -> dict:
        if results["bronze"][table]["status"] == "failed":
            # no fresh bronze slice to feed silver; skip, don't crash
            return {"table": table, "status": "skipped", "reason": "bronze failed this run"}
        # Feed silver only the bronze slice above its own last control
        # watermark (minus the standard overlap), not the full history:
        # keeps the silver stage O(increment) and stops the quarantine
        # side-sink from re-deriving (and re-appending) old bad rows
        # every run. First run: no watermark → full scan.
        wm = logs.last_watermark(spark, "silver_incremental_control", table)
        incoming = watermark_scan(spark.table(f"bronze_{table}"), ts_col, wm)
        return silver.run_incremental(spark, table, incoming, order_col=ts_col,
                                      execution_id=execution_id)

    results["silver"], silver_err = logs.run_tables(
        spark, "silver", sorted(sources), silver_step, execution_id)
    flush_errors = {layer: err for layer, err in
                    (("bronze", bronze_err), ("silver", silver_err)) if err}
    if flush_errors:
        results["log_flush_errors"] = flush_errors
    if not skip_gold:
        wm = effective_watermark(lookback_days, now)
        results["gold"] = gold.run_incremental(
            spark, wm, execution_id=execution_id,
            force_full_refresh=force_full_refresh)
    return results
