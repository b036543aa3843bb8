"""Independent recomputation of the silver and gold tables in DuckDB, straight from the landing files, and the checks that compare
the program's tables against it.

The SQL re-states the medallion rules from their specification (see
the module docstrings of ``operators.standardize``, ``operators.dedup``
and ``operators.quality``, and ``plans.gold.build_fact_sales``); it
shares no code with the program.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from urllib.parse import unquote, urlparse

import duckdb

from gen import NULL_TOKENS, VALUE_MAX, VALUE_MIN

#: per-run stamps and layout columns left out of every comparison: they
#: record when and where a row was written, not what it says
STAMPS = {"load_date", "silver_created_date", "silver_execution_id", "quarantine_date",
          "execution_id", "p_bucket", "p_month", "identity_hash"}
_TOKENS = ", ".join("'" + t.strip().upper() + "'" for t in NULL_TOKENS)


def _text(col: str) -> str:
    t = f"trim({col})"
    return f"CASE WHEN upper({t}) IN ({_TOKENS}) THEN NULL ELSE {t} END AS {col}"


def _key(col: str) -> str:
    t = f"upper(trim({col}))"
    return f"CASE WHEN {t} IN ({_TOKENS}) THEN NULL ELSE {t} END AS {col}"


def _epoch(col: str) -> str:
    # > 1e12 in magnitude is nanoseconds (truncated to micros), else seconds
    return (f"CASE WHEN abs({col}) > 1000000000000 THEN make_timestamp({col} // 1000) "
            f"ELSE make_timestamp({col} * 1000000) END AS {col}")


def _double(col: str) -> str:
    return f"CASE WHEN isnan({col}) OR isinf({col}) THEN NULL ELSE {col} END AS {col}"


_STANDARDIZE = {
    "fact_invoices": [
        _key("customer_key"), _key("product_key"), _epoch("billing_date"), _epoch("ship_date"),
        _text("billing_document_number"), _text("billing_document_line_item_number"),
        _text("billing_document_type_code"),
        *[_double(c) for c in ("net_invoice_value", "net_invoice_cogs", "delivery_cost",
                               "freight", "taxes_commercial_fees", "net_invoice_quantity")],
        _text("local_currency"), "otd_indicator", "dwcreateddate",
    ],
    "dim_budget_rate": [_text("from_currency"), _text("to_currency"), _double("rate"),
                        "dwcreateddate"],
    "dim_invoice_doctype": [_text("billing_document_type_code"), _text("group_col"),
                            _text("text"), "dwcreateddate"],
    "fact_budget": [_key("customer_key"), _key("product_key"), _epoch("month"),
                    _double("total_budget"), "dwcreateddate"],
}
#: dedup keys: business-key columns where the table has them, else the
#: whole row minus the ordering column
_KEYS = {
    "fact_invoices": ["customer_key", "product_key", "billing_document_number",
                      "billing_document_line_item_number"],
    "dim_budget_rate": ["from_currency", "to_currency", "rate"],
    "dim_invoice_doctype": ["billing_document_type_code", "group_col", "text"],
    "fact_budget": ["customer_key", "product_key"],
}
#: quarantine date rule: columns named ``*date`` (``month`` is not one)
_DATE_COLS = {"fact_invoices": ["billing_date", "ship_date", "dwcreateddate"],
              "dim_budget_rate": ["dwcreateddate"], "dim_invoice_doctype": ["dwcreateddate"],
              "fact_budget": ["dwcreateddate"]}
_VALUE_COLS = {"fact_invoices": ["net_invoice_value"]}


def bad_row_sql(table: str, horizon: dt.date) -> str:
    """SQL predicate: the row breaks a quarantine rule."""
    preds = [f"CAST({c} AS DATE) > DATE '{horizon.isoformat()}'" for c in _DATE_COLS[table]]
    preds += [f"({c} > {VALUE_MAX} OR {c} < {VALUE_MIN})" for c in _VALUE_COLS.get(table, [])]
    return "coalesce(" + " OR ".join(preds) + ", false)"


_GOLD = {
    "gold_fact_sales": """
        SELECT i.customer_key, i.product_key,
               CAST(i.billing_date AS DATE) AS billing_date,
               CAST(i.ship_date AS DATE) AS ship_date,
               i.billing_document_number, i.billing_document_line_item_number,
               i.billing_document_type_code,
               CASE WHEN d.group_col = 'Invoice' THEN 'Sale'
                    WHEN d.group_col = 'Adjustment' THEN 'Adjustment'
                    WHEN d.group_col IS NULL THEN 'Unclassified'
                    ELSE d.group_col END AS document_category,
               i.net_invoice_value * coalesce(r.rate, 1.0) AS sales_eur,
               i.net_invoice_cogs * coalesce(r.rate, 1.0) AS cogs_eur,
               i.delivery_cost * coalesce(r.rate, 1.0) AS delivery_cost_eur,
               i.freight * coalesce(r.rate, 1.0) AS freight_eur,
               i.taxes_commercial_fees * coalesce(r.rate, 1.0) AS taxes_eur,
               i.net_invoice_quantity AS quantity, i.local_currency,
               CAST(i.otd_indicator AS BOOLEAN) AS on_time_delivery
        FROM silver_fact_invoices i
        LEFT JOIN silver_dim_budget_rate r ON i.local_currency = r.from_currency
        LEFT JOIN silver_dim_invoice_doctype d
               ON i.billing_document_type_code = d.billing_document_type_code""",
    "gold_fact_budget": """
        SELECT customer_key, product_key, CAST(month AS DATE) AS budget_month,
               total_budget AS budget_eur
        FROM silver_fact_budget WHERE month IS NOT NULL""",
}


def connect(landing: str, tables, gold: str, horizon: dt.date) -> duckdb.DuckDBPyConnection:
    """Views ``silver_<t>`` for each of ``tables`` and the ``gold`` view
    over every file under ``landing``."""
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        exprs = _STANDARDIZE[t]
        files = os.path.join(landing, f"{t}.parquet", "*.parquet")
        keys = ", ".join(_KEYS[t])
        con.execute(f"""
            CREATE VIEW latest_{t} AS
            SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (PARTITION BY {keys}
                                           ORDER BY dwcreateddate DESC NULLS LAST) AS rn
              FROM (SELECT {', '.join(exprs)},
                           'spaceparts' AS source_system
                    FROM read_parquet('{files}')))
            WHERE rn = 1""")
        bad = bad_row_sql(t, horizon)
        con.execute(f"CREATE VIEW silver_{t} AS SELECT * FROM latest_{t} WHERE NOT {bad}")
    con.execute(f"CREATE VIEW {gold} AS {_GOLD[gold]}")
    return con


def compare_table(spark, con, table: str, ref_view: str) -> str | None:
    """Multiset equality of the program's ``table`` and the reference
    view over their columns minus :data:`STAMPS`; both column sets must
    agree. DuckDB reads the table's own files, so the comparison runs no
    Spark job. Returns a mismatch description, or None when equal."""
    sdf = spark.table(table)
    ref_cols = [d[0] for d in con.execute(f"SELECT * FROM {ref_view} LIMIT 0").description]
    s_cols = sorted(c for c in sdf.columns if c not in STAMPS)
    r_cols = sorted(c for c in ref_cols if c not in STAMPS)
    if s_cols != r_cols:
        return f"{table}: columns {s_cols} != reference {r_cols}"
    cols = ", ".join(s_cols)
    files = ", ".join(f"'{unquote(urlparse(f).path)}'" for f in sdf.inputFiles())
    got = f"(SELECT {cols} FROM read_parquet([{files}]))" if files else \
        f"(SELECT {cols} FROM {ref_view} LIMIT 0)"
    want = f"(SELECT {cols} FROM {ref_view})"
    extra = con.execute(f"SELECT * FROM {got} EXCEPT ALL SELECT * FROM {want}").fetchall()
    missing = con.execute(f"SELECT * FROM {want} EXCEPT ALL SELECT * FROM {got}").fetchall()
    if not extra and not missing:
        return None
    return (f"{table}: {len(extra)} rows not in the reference, e.g. {extra[:1]}; "
            f"{len(missing)} reference rows missing, e.g. {missing[:1]}")[:800]


def quarantine_rule_check(spark, table: str, horizon: dt.date) -> str | None:
    """Every quarantined row of ``table`` breaks a rule and no silver one
    does — the check for the quarantine sink, which is append history
    and so is not a function of the final inputs alone."""
    bad = bad_row_sql(table, horizon)
    n_clean_bad = spark.table(f"silver_{table}").filter(bad).count()
    sink = f"silver_quarantine_{table}"
    # the sink is created by the first quarantined row
    n_q_ok = spark.table(sink).filter(f"NOT {bad}").count() \
        if spark.catalog.tableExists(sink) else 0
    if n_clean_bad or n_q_ok:
        return (f"quarantine rule: {n_clean_bad} silver rows break a rule, "
                f"{n_q_ok} quarantined rows break none")
    return None


#: the registry queries of the query pass: one per family the other
#: layers never reach (core aggregation, text scoring, vector kNN); each
#: carries a DuckDB value oracle
QUERIES = ("q01_pricing_summary", "d04_text_quality", "e01_knn_topk")


def query_mismatch(name: str, got, root: str) -> str | None:
    """The query's output frame against its registry oracle over the same
    files, order-insensitively (``tests.oracle_harness.normalize``)."""
    from spaceparts_data_pipeline_spark.queries import all_oracles
    from tests.oracle_harness import normalize

    con = duckdb.connect()
    con.execute("SET threads = 1")
    try:
        for t in ("lineitem", "embeddings", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(root, t + '.parquet', '*.parquet')}')")
        want = con.execute(all_oracles()[name]).df()
    finally:
        con.close()
    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    g, w = normalize(got), normalize(want)
    if g != w:
        bad = next((a, b) for a, b in zip(g + [None] * len(w), w + [None] * len(g)) if a != b)
        return f"{name}: {len(g)} rows vs oracle {len(w)}; first difference {bad}"[:500]
    return None


def corpus_mismatch(corpus, stats: dict, out_dir: str, run_id: str) -> list[str]:
    """The funnel's decisions on a generated batch: exactly the expected
    ids admitted, admitted text unchanged but for redacted PII, every
    admitted text in the fingerprint store, and the stage counts the
    labels imply."""
    import pyarrow.parquet as pq

    part = os.path.join(out_dir, "corpus", f"run_id={run_id}")
    admitted = pq.read_table(part, columns=["doc_id", "text"]).to_pylist() \
        if os.path.isdir(part) else []
    got = {r["doc_id"]: r["text"] for r in admitted}
    want = corpus.expected_admitted()
    errs = []
    if set(got) != want:
        wrong = sorted(set(got) ^ want)[:5]
        errs.append(f"corpus: admitted {len(got)} docs, expected {len(want)}; "
                    f"differing ids {[(i, corpus.label[i]) for i in wrong]}")
    for i in set(got) & want:
        if got[i] != corpus.redacted.get(i, corpus.text[i]):
            errs.append(f"corpus: doc {i} ({corpus.label[i]}) admitted as {got[i][:120]!r}")
            break
    # the exact screen of a later batch: every admitted text's md5 must
    # be in the fingerprint store
    store = os.path.join(out_dir, "fp_store")
    stored = set(pq.read_table(store).column("fingerprint").to_pylist()) \
        if os.path.isdir(store) else set()
    unstored = [i for i, t in got.items() if hashlib.md5(t.encode()).hexdigest() not in stored]
    if unstored:
        errs.append(f"corpus: {len(unstored)} admitted docs missing from the fingerprint store")
    n = len(corpus.label)
    low = sum(c == "low_quality" for c in corpus.label.values())
    want_counts = {"input": n, "after_quality": n - low, "admitted": len(want)}
    for key, v in want_counts.items():
        if stats.get(key) != v:
            errs.append(f"corpus: stage {key} counted {stats.get(key)}, labels give {v}")
    return errs
