"""Gold layer: star-schema business models (SURVEY.md §3.2 step 4;
reference Gold_full_load cell 8 builders, Gold_incremental_load cell 10).

Five models over silver tables (FIXTURES.md schemas):
- gold_dim_customer: customers ⟕ regions (J1) ⟕ employees-as-AM (J2)
  ⟕ employees-as-KAM (J3) — the aliased double self-join pattern.
- gold_dim_product: products ⟕ brands (J4).
- gold_fact_sales: invoices ⟕ budget_rate FX (J5, coalesce rate→1.0)
  ⟕ invoice_doctype (J6), ×rate EUR arithmetic, when-chain document
  categorization, epoch date conversion.
- gold_fact_orders: orders ⟕ budget_rate (J7).
- gold_fact_budget: budget with month-null filter (P4); values already EUR.

All dim sides are broadcast (≤257k rows in the reference). Incremental:
watermark filter (P6) + changed-key semi-join restriction (J8) + keyed
MERGE emulation (K3).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.functions.scalars import document_category
from spaceparts_data_pipeline_spark.operators.merge import bucket_expr, merge_into_table
from spaceparts_data_pipeline_spark.plans import logs


#: Per-(model, secondary-source) watermark memory for the incremental
#: driver: records each joined dim's max watermark as of the last
#: successful merge, so a dim refresh triggers exactly ONE full-delta
#: merge instead of either none (stale gold) or lookback-window many.
SECONDARY_CONTROL_TABLE = "gold_secondary_control"


def _t(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(f"silver_{name}")


def build_dim_customer(spark: SparkSession) -> DataFrame:
    c = _t(spark, "dim_customers")
    r = _t(spark, "dim_regions")
    e = _t(spark, "dim_employees")
    am = e.filter(F.col("role") == "Account Manager").select(
        F.col("employee_name").alias("am_name"), F.col("employee_email").alias("account_manager_email")
    )
    kam = e.filter(F.col("role") == "Key Account Manager").select(
        F.col("employee_name").alias("kam_name"), F.col("employee_email").alias("key_account_manager_email")
    )
    return (
        c.join(F.broadcast(r), "station", "left")
        .join(F.broadcast(am), c["account_manager"] == F.col("am_name"), "left")
        .join(F.broadcast(kam), c["key_account_manager"] == F.col("kam_name"), "left")
        .select(
            "customer_key", "customer_sold_to_name", "account_name", "key_account_name",
            "transaction_type", "account_type", "account_manager", "key_account_manager",
            "account_manager_email", "key_account_manager_email", "station",
            F.col("system").alias("customer_system"), "interplanetary_region", "territory",
        )
    )


def build_dim_product(spark: SparkSession) -> DataFrame:
    p = _t(spark, "dim_products")
    b = _t(spark, "dim_brands")
    return (
        p.join(F.broadcast(b), p["sub_brand_name"] == b["sub_brand"], "left")
        .select(
            "product_key", "product_name",
            F.col("type").alias("product_type"), "subtype", "sub_brand_name",
            "brand", "flagship", F.col("class").alias("brand_class"), "product_brand_vp",
            "weight_tonnes", "color", "material",
        )
    )


def build_fact_sales(spark: SparkSession) -> DataFrame:
    i = _t(spark, "fact_invoices")
    br = _t(spark, "dim_budget_rate").select(
        "from_currency", F.col("rate").alias("eur_rate")
    )
    dtype = _t(spark, "dim_invoice_doctype").select("billing_document_type_code", "group_col")
    rate = F.coalesce("eur_rate", F.lit(1.0))
    out = (
        i.join(F.broadcast(br), i["local_currency"] == br["from_currency"], "left")
        .join(F.broadcast(dtype), "billing_document_type_code", "left")
        .select(
            "customer_key", "product_key",
            F.to_date("billing_date").alias("billing_date"),
            F.to_date("ship_date").alias("ship_date"),
            "billing_document_number", "billing_document_line_item_number",
            "billing_document_type_code",
            document_category("group_col").alias("document_category"),
            (F.col("net_invoice_value") * rate).alias("sales_eur"),
            (F.col("net_invoice_cogs") * rate).alias("cogs_eur"),
            (F.col("delivery_cost") * rate).alias("delivery_cost_eur"),
            (F.col("freight") * rate).alias("freight_eur"),
            (F.col("taxes_commercial_fees") * rate).alias("taxes_eur"),
            F.col("net_invoice_quantity").alias("quantity"),
            "local_currency",
            F.col("otd_indicator").cast("boolean").alias("on_time_delivery"),
        )
    )
    return out


def build_fact_orders(spark: SparkSession) -> DataFrame:
    o = _t(spark, "fact_orders")
    br = _t(spark, "dim_budget_rate").select("from_currency", F.col("rate").alias("eur_rate"))
    rate = F.coalesce("eur_rate", F.lit(1.0))
    return (
        o.join(F.broadcast(br), o["local_currency"] == br["from_currency"], "left")
        .select(
            "customer_key", "product_key",
            F.to_date("order_date").alias("order_date"),
            F.to_date("ship_date").alias("ship_date"),
            F.to_date("request_goods_receipt_date").alias("request_goods_receipt_date"),
            "sales_order_document_number", "sales_order_document_line_item_number",
            F.col("sales_order_document_line_item_status").alias("line_item_status"),
            (F.col("net_order_value") * rate).alias("order_value_eur"),
            F.col("net_order_quantity").alias("quantity"),
            "local_currency",
        )
    )


def build_dim_date(spark: SparkSession) -> DataFrame:
    """Calendar dimension from the union of the fact date domains (U2 +
    README.md:400-417 M-dataflow semantics), via measures.calendar_dim."""
    from spaceparts_data_pipeline_spark.functions.measures import calendar_dim

    inv = _t(spark, "fact_invoices").select(F.col("billing_date").alias("d"))
    orders = _t(spark, "fact_orders").select(F.col("order_date").alias("d"))
    budget = _t(spark, "fact_budget").filter(F.col("month").isNotNull()).select(F.col("month").alias("d"))
    domain = inv.unionByName(orders).unionByName(budget).select(F.col("d").alias("date"))
    return calendar_dim(domain)


def build_fact_budget(spark: SparkSession) -> DataFrame:
    b = _t(spark, "fact_budget")
    return (
        b.filter(F.col("month").isNotNull())
        .select(
            "customer_key", "product_key",
            F.to_date("month").alias("budget_month"),
            F.col("total_budget").alias("budget_eur"),
        )
    )


@dataclass
class GoldModel:
    name: str
    builder: callable
    merge_keys: list[str]
    watermark_col: str = "silver_created_date"
    #: EVERY silver input the builder reads. ``[0]`` is the PRIMARY
    #: source — the one whose changed rows carry the model's merge keys
    #: and drive the changed-key restriction. The rest are secondary
    #: (joined dims): their changes don't map to merge keys, so a fresh
    #: row there makes the run fall back to a full-delta MERGE — a
    #: corrected FX rate must reprice gold rows whose invoice rows never
    #: changed. The full list also feeds the silver-availability
    #: precondition (runner.check_gold_preconditions).
    source_tables: list[str] = field(default_factory=list)
    #: (partition_col, expr_factory): a column *derived from the merge
    #: keys* (so an upsert never moves a row across partitions). Facts
    #: partition by month of the business date — the reference's
    #: watermark-window access pattern; dims by the key-hash bucket
    #: (``merge.bucket_expr``). Incremental merges then rewrite only
    #: touched partitions.
    partition: tuple | None = None


def _month_of(col: str):
    return lambda: F.trunc(col, "month")


MODELS: list[GoldModel] = [
    GoldModel("gold_dim_customer", build_dim_customer, ["customer_key"],
              source_tables=["dim_customers", "dim_regions", "dim_employees"],
              partition=("p_bucket", lambda: bucket_expr(["customer_key"]))),
    GoldModel("gold_dim_product", build_dim_product, ["product_key"],
              source_tables=["dim_products", "dim_brands"],
              partition=("p_bucket", lambda: bucket_expr(["product_key"]))),
    GoldModel("gold_fact_sales", build_fact_sales,
              ["customer_key", "product_key", "billing_date", "billing_document_number",
               "billing_document_line_item_number"],
              source_tables=["fact_invoices", "dim_budget_rate", "dim_invoice_doctype"],
              partition=("p_month", _month_of("billing_date"))),
    GoldModel("gold_fact_orders", build_fact_orders,
              ["customer_key", "product_key", "order_date", "sales_order_document_number",
               "sales_order_document_line_item_number"],
              source_tables=["fact_orders", "dim_budget_rate"],
              partition=("p_month", _month_of("order_date"))),
    GoldModel("gold_fact_budget", build_fact_budget,
              ["customer_key", "product_key", "budget_month"],
              source_tables=["fact_budget"],
              partition=("p_month", _month_of("budget_month"))),
    # calendar dim: tiny, rebuilt in one shot — no partitioning needed
    GoldModel("gold_dim_date", build_dim_date, ["date_key"],
              source_tables=["fact_invoices", "fact_orders", "fact_budget"]),
]


def _full_model(spark: SparkSession, m: GoldModel) -> dict:
    from spaceparts_data_pipeline_spark.operators.maintenance import overwrite_via_staging

    # the record count rides the write: no re-read of the written model
    df, metrics = logs.observe(m.builder(spark), rows=F.count(F.lit(1)))
    if m.partition:
        pcol, pexpr = m.partition
        overwrite_via_staging(spark, m.name, df.withColumn(pcol, pexpr()), partition_by=pcol)
    else:
        overwrite_via_staging(spark, m.name, df)
    return {"status": "success", "records": metrics()["rows"]}


def _run_models(spark: SparkSession, models: list[GoldModel] | None, step,
                execution_id: str) -> dict:
    """One gold pass through ``logs.run_tables`` (one log append per
    pass, failure rows at once). A failed log flush surfaces as a
    failed ``_execution_log`` entry (same shape as a model entry so
    _status/notify consumers handle it): the log no longer matches
    table state, which is a completed_with_errors condition, not a
    silent warning."""
    by_name = {m.name: m for m in models or MODELS}
    results, flush_err = logs.run_tables(
        spark, "gold", by_name, lambda name: step(by_name[name]), execution_id)
    if flush_err:
        results["_execution_log"] = {"status": "failed", "error": flush_err}
    return results


def run_full(spark: SparkSession, execution_id: str | None = None,
             models: list[GoldModel] | None = None) -> dict:
    execution_id = execution_id or logs.new_execution_id()
    return _run_models(spark, models, lambda m: _full_model(spark, m), execution_id)


def run_incremental(
    spark: SparkSession,
    watermark: dt.datetime,
    execution_id: str | None = None,
    models: list[GoldModel] | None = None,
    force_full_refresh: bool = False,
) -> dict:
    """Incremental gold: dims → changed-key semi-join restriction (J8)
    then MERGE; facts → watermark filter on the rebuilt rows (P6) then
    MERGE on the composite business key (K3). Partitioned models rewrite
    only the partitions the delta touches (dynamic partition overwrite —
    the Parquet analog of Delta ``MERGE INTO``'s file-level rewrite).
    A model without a table yet (or ``force_full_refresh``) is rebuilt
    in full instead."""
    execution_id = execution_id or logs.new_execution_id()

    def step(m: GoldModel) -> dict:
        if force_full_refresh or not spark.catalog.tableExists(m.name):
            return {**_full_model(spark, m), "mode": "full_refresh"}
        return _merge_model(spark, m, watermark, execution_id)

    return _run_models(spark, models, step, execution_id)


def _merge_model(spark: SparkSession, m: GoldModel, watermark: dt.datetime,
                 execution_id: str) -> dict:
    source = spark.table(f"silver_{m.source_tables[0]}")
    changed = source.filter(F.col(m.watermark_col) >= F.lit(watermark))
    rebuilt = m.builder(spark)
    # restrict the rebuild to changed business keys where the source
    # carries them (J8); models whose keys are derived (e.g. the
    # calendar's date_key) fall back to a full-delta MERGE.
    join_keys = [c for c in m.merge_keys if c in changed.columns]
    # Secondary inputs (joined dims) don't carry the merge keys,
    # so a fresh row there can only reach gold rows whose PRIMARY
    # rows didn't change through a FULL-delta merge: a corrected
    # FX rate must reprice invoices that never changed. "Changed"
    # is tracked per (model, secondary) in a control table
    # against the secondary's OWN previously-processed max
    # watermark — NOT against the loose lookback watermark, which
    # would condemn the model to full merges for the entire
    # lookback window after every routine dim refresh. One 1-row
    # max-agg per secondary per run (dims are the small sides);
    # the control row lands only after the merge succeeds, so a
    # failed run re-detects the change next time.
    pending_controls: dict[str, dt.datetime | None] = {}
    for t in m.source_tables[1:]:
        sec = spark.table(f"silver_{t}")
        if m.watermark_col not in sec.columns:
            continue
        cur = sec.agg(F.max(m.watermark_col)).collect()[0][0]
        key = f"{m.name}:{t}"
        if cur != logs.last_watermark(spark, SECONDARY_CONTROL_TABLE, key):
            pending_controls[key] = cur
    if join_keys and not pending_controls:
        # Cast the changed-side keys through the rebuilt side's
        # types (e.g. silver TIMESTAMP → gold DATE): a raw
        # DATE = TIMESTAMP comparison coerces DATE to midnight,
        # silently dropping any non-midnight update from the delta.
        # Null-safe comparison throughout: standardize_key maps
        # 'UNKNOWN'/'N/A'/'' to NULL, so NULL merge keys are a
        # real population — a plain equi-semi-join would silently
        # drop their updates from the delta (merge_into_table
        # itself matches them with eqNullSafe for the same
        # reason).
        from functools import reduce

        rtypes = dict(rebuilt.dtypes)
        keys_df = changed.select(
            *[F.col(k).cast(rtypes[k]).alias(k) for k in join_keys]
        ).distinct()
        cond = reduce(
            lambda a, b: a & b,
            [rebuilt[k].eqNullSafe(keys_df[k]) for k in join_keys],
        )
        delta = rebuilt.join(keys_df, cond, "left_semi")
    else:
        delta = rebuilt
    if m.partition:
        pcol, pexpr = m.partition
        delta = delta.withColumn(pcol, pexpr())
    # The delta (bounded: changed keys only) is read several times by
    # the merge (touched-partition collect, anti-join, union). Persist
    # it so the builder joins + semi-join execute once; its record count
    # is observed below the persist, so the merge's first read computes
    # it.
    delta, metrics = logs.observe(delta, rows=F.count(F.lit(1)))
    delta = delta.persist()
    try:
        if m.partition:
            merge_into_table(spark, m.name, delta, m.merge_keys, partition_col=m.partition[0])
        else:
            merge_into_table(spark, m.name, delta, m.merge_keys)
        n = metrics()["rows"]
    finally:
        delta.unpersist()
    for key, cur in pending_controls.items():
        logs.append_control(spark, SECONDARY_CONTROL_TABLE, key,
                            execution_id, cur, "success")
    return {"status": "success", "records": n, "mode": "incremental"}
