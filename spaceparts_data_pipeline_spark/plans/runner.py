"""Pipeline orchestration: bronze → silver → gold with per-table status
accounting, precondition checks, and `completed_with_errors` semantics
(SURVEY.md §3.1-3.2; reference spaceparts_etl_orchestrator.py +
ETL_FABRIC pipeline DAG).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spaceparts_data_pipeline_spark.plans import bronze, gold, logs, silver
from spaceparts_data_pipeline_spark.sources.catalog import discover_tables

#: gold requires ≥80% of its silver inputs present (gold_processor.py:173-197)
SILVER_AVAILABILITY_THRESHOLD = 0.8


def _status(results: dict) -> str:
    statuses = {r.get("status") for r in results.values()} or {"success"}
    if statuses == {"success"}:
        return "success"
    if "success" in statuses:
        return "completed_with_errors"
    return "failed"


def _layer_result(layer: str, results: dict, flush_err: str | None, execution_id: str) -> dict:
    out = {"layer": layer, "status": _status(results), "tables": results,
           "execution_id": execution_id}
    if flush_err:
        out["log_flush_error"] = flush_err
    return out


def run_bronze_layer(spark: SparkSession, sources: dict[str, DataFrame]) -> dict:
    execution_id = logs.new_execution_id()
    results, flush_err = logs.run_tables(
        spark, "bronze", sorted(sources),
        lambda t: bronze.run_full(spark, sources[t], t), execution_id)
    return _layer_result("bronze", results, flush_err, execution_id)


def run_silver_layer(spark: SparkSession, horizon=None) -> dict:
    execution_id = logs.new_execution_id()
    tables = [t.removeprefix("bronze_") for t in discover_tables(spark, "bronze_*")]
    results, flush_err = logs.run_tables(
        spark, "silver", tables,
        lambda t: silver.run_full(spark, t, execution_id, source_table=f"bronze_{t}",
                                  horizon=horizon),
        execution_id)
    return _layer_result("silver", results, flush_err, execution_id)


def check_gold_preconditions(spark: SparkSession, models: list[gold.GoldModel] | None = None) -> tuple[bool, float]:
    required = {t for m in (models or gold.MODELS) for t in m.source_tables}
    available = sum(1 for t in required if spark.catalog.tableExists(f"silver_{t}"))
    share = available / len(required) if required else 1.0
    return share >= SILVER_AVAILABILITY_THRESHOLD, share


def run_gold_layer(spark: SparkSession, models: list[gold.GoldModel] | None = None) -> dict:
    ok, share = check_gold_preconditions(spark, models)
    if not ok:
        return {"layer": "gold", "status": "skipped",
                "reason": f"silver availability {share:.0%} < {SILVER_AVAILABILITY_THRESHOLD:.0%}"}
    execution_id = logs.new_execution_id()
    results = gold.run_full(spark, execution_id, models=models)
    return {"layer": "gold", "status": _status(results), "tables": results,
            "execution_id": execution_id}


def run_pipeline(spark: SparkSession, sources: dict[str, DataFrame], horizon=None,
                 models: list[gold.GoldModel] | None = None) -> dict:
    """Full medallion run. Layer failures don't halt the pipeline —
    downstream layers run on whatever landed (the reference's DAG
    continues and reports per-stage status). Starts with a catalog-wide
    swap-recovery sweep so crash states on tables this run only READS
    (not rewrites) are repaired too — the write path alone self-heals
    only what it overwrites."""
    from spaceparts_data_pipeline_spark.operators.maintenance import recover_all

    recovered = recover_all(spark)
    b = run_bronze_layer(spark, sources)
    s = run_silver_layer(spark, horizon=horizon)
    g = run_gold_layer(spark, models=models)
    status = _status({"bronze": b, "silver": s, "gold": g})
    out = {"status": status, "bronze": b, "silver": s, "gold": g}
    if recovered:
        out["recovered"] = recovered
    return out
