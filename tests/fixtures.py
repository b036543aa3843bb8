"""SpaceParts-shaped fixture tables (FIXTURES.md) with the required
dirty rows: null tokens, mixed epoch units, future dates, extreme
values, duplicate keys, NaN/Inf, all-null rows, missing FX, null
group_col."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

T0 = dt.datetime(2025, 1, 1, 12, 0, 0)
T1 = dt.datetime(2025, 1, 2, 12, 0, 0)

NS = 10**9
EPOCH_2025_S = int(dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc).timestamp())          # seconds unit
EPOCH_2025_NS = int(dt.datetime(2025, 4, 1, tzinfo=dt.timezone.utc).timestamp()) * NS    # nanos unit
EPOCH_FUTURE_NS = int(dt.datetime(2031, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * NS  # > horizon


def _schema(cols: list[tuple[str, object]]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in cols])


def build_fixtures(spark) -> dict:
    str_t, dbl_t, lng_t, ts_t = StringType(), DoubleType(), LongType(), TimestampType()

    dim_customers = spark.createDataFrame(
        [
            ("c1", "Acme Stations", "Acme", "Key-Acme", "b2b", "direct", "Ada", "Grace", "ST1", T0),
            ("c1", "Acme Stations", "Acme", "Key-Acme", "b2b", "direct", "Ada", "Grace", "ST1", T1),  # dup key, later ts wins
            ("  c2 ", "Beta Corp", "Beta", "Key-Beta", "b2b", "N/A", "Ada", "Linus", "ST2", T0),      # padded key, null token
            ("c3", "Gamma LLC", "Gamma", "Key-Gamma", "b2c", "channel", "Noone", "Grace", "ST9", T0),  # station miss
            (None, None, None, None, None, None, None, None, None, None),                              # all-null row
        ],
        _schema([("customer_key", str_t), ("customer_sold_to_name", str_t), ("account_name", str_t),
                 ("key_account_name", str_t), ("transaction_type", str_t), ("account_type", str_t),
                 ("account_manager", str_t), ("key_account_manager", str_t), ("station", str_t),
                 ("dwcreateddate", ts_t)]),
    )

    dim_regions = spark.createDataFrame(
        [("ST1", "Sys-A", "Inner Rim", "North", 0.1, T0), ("ST2", "Sys-B", "Outer Rim", "South", 0.2, T0)],
        _schema([("station", str_t), ("system", str_t), ("interplanetary_region", str_t),
                 ("territory", str_t), ("tax_rate", dbl_t), ("dwcreateddate", ts_t)]),
    )

    dim_employees = spark.createDataFrame(
        [("Ada", "ada@x.io", "Account Manager", T0),
         ("Grace", "grace@x.io", "Key Account Manager", T0),
         ("Linus", "linus@x.io", "Engineer", T0)],
        _schema([("employee_name", str_t), ("employee_email", str_t), ("role", str_t), ("dwcreateddate", ts_t)]),
    )

    dim_products = spark.createDataFrame(
        [("p1", "Thruster", "Engine", "Ion", "SB1", 1.5, "red", "steel", T0),
         ("p2", "Hull Plate", "Structure", "Armor", "SB2", 3.0, "grey", "titanium", T0),
         ("p3", "Widget", "Misc", "Small", "SB-MISSING", 0.1, "blue", "plastic", T0)],
        _schema([("product_key", str_t), ("product_name", str_t), ("type", str_t), ("subtype", str_t),
                 ("sub_brand_name", str_t), ("weight_tonnes", dbl_t), ("color", str_t),
                 ("material", str_t), ("dwcreateddate", ts_t)]),
    )

    dim_brands = spark.createDataFrame(
        [("SB1", "BrandX", "yes", "premium", "VP-A", T0), ("SB2", "BrandY", "no", "value", "VP-B", T0)],
        _schema([("sub_brand", str_t), ("brand", str_t), ("flagship", str_t), ("class", str_t),
                 ("product_brand_vp", str_t), ("dwcreateddate", ts_t)]),
    )

    dim_budget_rate = spark.createDataFrame(
        [("USD", "EUR", 0.9, T0), ("GBP", "EUR", 1.15, T0)],
        _schema([("from_currency", str_t), ("to_currency", str_t), ("rate", dbl_t), ("dwcreateddate", ts_t)]),
    )

    dim_invoice_doctype = spark.createDataFrame(
        [("F2", "Invoice", "Standard invoice", T0), ("G2", "Adjustment", "Credit memo", T0)],
        _schema([("billing_document_type_code", str_t), ("group_col", str_t), ("text", str_t),
                 ("dwcreateddate", ts_t)]),
    )

    fact_invoices = spark.createDataFrame(
        [
            # normal row, ns epoch, USD
            ("c1", "p1", EPOCH_2025_NS, EPOCH_2025_NS, "inv1", "1", "F2", 100.0, 80.0, 5.0, 2.0, 1.0, 3.0, "USD", 1, T0),
            # seconds epoch, GBP, adjustment doc
            ("c1", "p2", EPOCH_2025_S, EPOCH_2025_S, "inv2", "1", "G2", 200.0, 150.0, 6.0, 2.0, 1.0, 1.0, "GBP", 0, T0),
            # unknown currency -> rate 1.0; unknown doctype -> Unclassified
            ("c2", "p1", EPOCH_2025_NS, EPOCH_2025_NS, "inv3", "1", "Z9", 50.0, 40.0, 1.0, 1.0, 0.5, 2.0, "XXX", 1, T0),
            # future billing date -> quarantined
            ("c2", "p2", EPOCH_FUTURE_NS, EPOCH_2025_NS, "inv4", "1", "F2", 75.0, 60.0, 2.0, 1.0, 0.5, 1.0, "USD", 1, T0),
            # extreme value -> quarantined
            ("c3", "p1", EPOCH_2025_NS, EPOCH_2025_NS, "inv5", "1", "F2", 5e8, 60.0, 2.0, 1.0, 0.5, 1.0, "USD", 0, T0),
            # duplicate business key, later dwcreateddate wins
            ("c1", "p1", EPOCH_2025_NS, EPOCH_2025_NS, "inv1", "1", "F2", 999.0, 80.0, 5.0, 2.0, 1.0, 3.0, "USD", 1, T1),
            # NaN value -> scrubbed to null
            ("c3", "p3", EPOCH_2025_NS, EPOCH_2025_NS, "inv6", "1", "F2", math.nan, 10.0, 1.0, 0.5, 0.2, 1.0, "USD", 1, T0),
        ],
        _schema([("customer_key", str_t), ("product_key", str_t), ("billing_date", lng_t), ("ship_date", lng_t),
                 ("billing_document_number", str_t), ("billing_document_line_item_number", str_t),
                 ("billing_document_type_code", str_t), ("net_invoice_value", dbl_t), ("net_invoice_cogs", dbl_t),
                 ("delivery_cost", dbl_t), ("freight", dbl_t), ("taxes_commercial_fees", dbl_t),
                 ("net_invoice_quantity", dbl_t), ("local_currency", str_t), ("otd_indicator", lng_t),
                 ("dwcreateddate", ts_t)]),
    )

    ship_before_order_s = EPOCH_2025_S - 86400  # ship < order: preserved, NOT quarantined
    fact_orders = spark.createDataFrame(
        [
            ("c1", "p1", EPOCH_2025_S, EPOCH_2025_S, EPOCH_2025_S, "so1", "1", "open", 120.0, 2.0, "USD", T0),
            ("c2", "p2", EPOCH_2025_S, ship_before_order_s, EPOCH_2025_S, "so2", "1", "shipped", 80.0, 1.0, "GBP", T0),
        ],
        _schema([("customer_key", str_t), ("product_key", str_t), ("order_date", lng_t), ("ship_date", lng_t),
                 ("request_goods_receipt_date", lng_t), ("sales_order_document_number", str_t),
                 ("sales_order_document_line_item_number", str_t), ("sales_order_document_line_item_status", str_t),
                 ("net_order_value", dbl_t), ("net_order_quantity", dbl_t), ("local_currency", str_t),
                 ("dwcreateddate", ts_t)]),
    )

    fact_budget = spark.createDataFrame(
        [
            ("c1", "p1", EPOCH_2025_NS, 500.0, T0),
            ("c2", "p2", None, 300.0, T0),  # null month -> filtered at gold
        ],
        _schema([("customer_key", str_t), ("product_key", str_t), ("month", lng_t),
                 ("total_budget", dbl_t), ("dwcreateddate", ts_t)]),
    )

    return {
        "dim_customers": dim_customers, "dim_regions": dim_regions, "dim_employees": dim_employees,
        "dim_products": dim_products, "dim_brands": dim_brands, "dim_budget_rate": dim_budget_rate,
        "dim_invoice_doctype": dim_invoice_doctype, "fact_invoices": fact_invoices,
        "fact_orders": fact_orders, "fact_budget": fact_budget,
    }


def mini_gold_model(gold_plan, F):
    """A one-fact, one-FX-dim gold model over ``silver_fact_mini`` and
    ``silver_dim_rate_mini`` (the secondary-source shape)."""
    def build(spark_):
        f = spark_.table("silver_fact_mini")
        r = spark_.table("silver_dim_rate_mini").select(
            F.col("currency").alias("r_currency"), F.col("rate").alias("eur_rate"))
        return (
            f.join(F.broadcast(r), f["currency"] == F.col("r_currency"), "left")
            .select("k", (F.col("v") * F.coalesce("eur_rate", F.lit(1.0))).alias("v_eur"))
        )

    return gold_plan.GoldModel("gold_mini_sec", build, ["k"],
                               source_tables=["fact_mini", "dim_rate_mini"])
