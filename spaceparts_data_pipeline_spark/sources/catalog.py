"""Catalog discovery scans (SURVEY.md §2.1 S3/S4/S5/S6, §2.3 P9).

The reference discovers its work list from catalogs at runtime
(INFORMATION_SCHEMA for sources, `SHOW TABLES LIKE 'bronze_*'` for
layers) and excludes metadata tables by denylist. Same here, against the
Spark session catalog.
"""

from __future__ import annotations

import fnmatch
import re

from pyspark.sql import DataFrame, SparkSession

#: metadata tables excluded from layer processing
#: (Silver_full_load.ipynb:1 cell 8; silver_processor.py:398)
DENYLIST_SUFFIXES = ("_execution_log", "_notebook_execution_summary", "_incremental_control")

#: versioned-swap physical versions (operators/maintenance.py reserves
#: the suffix: `{t}__v{N}` tables behind the `{t}` view). They match
#: layer globs like ``bronze_*`` — without this exclusion
#: run_silver_layer processed every
#: bronze table TWICE (once via its view, once via its physical version
#: table), doubling the layer's work and littering the catalog with
#: ``silver_{t}__v1`` outputs (found by the r15 log-batching test).
_MAINT_ARTIFACT = re.compile(r"__v\d+$")


def list_table_names(spark: SparkSession, database: str | None = None) -> list[str]:
    """Names of the database's tables and views, session temp views
    excluded. ``SHOW TABLES`` is a command that runs no Spark job;
    ``catalog.listTables`` pages its answer through ``toLocalIterator``,
    5 jobs a call."""
    scope = f" IN {database}" if database else ""
    return [r["tableName"] for r in spark.sql(f"SHOW TABLES{scope}").collect()
            if not r["isTemporary"]]


def discover_tables(spark: SparkSession, pattern: str = "bronze_*", database: str | None = None) -> list[str]:
    """List catalog tables matching a glob, minus the metadata denylist
    and the versioned-swap artifacts, sorted for deterministic
    processing order (O1)."""
    tables = list_table_names(spark, database)
    matched = [t for t in tables if fnmatch.fnmatch(t, pattern)]
    allowed = [t for t in matched
               if not any(t.endswith(s) for s in DENYLIST_SUFFIXES)
               and not _MAINT_ARTIFACT.search(t)]
    return sorted(allowed)


def table_row_count(spark: SparkSession, table: str) -> int:
    """Row-count probe (S5). On Parquet this is metadata-cheap (count
    pushdown reads footers, not data)."""
    return spark.table(table).count()


def column_metadata(spark: SparkSession, table: str) -> list[dict]:
    """Column-metadata probe (S6): name, type, nullability."""
    return [
        {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
        for f in spark.table(table).schema.fields
    ]


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column profiling stats (G6): count, nulls, distinct, min, max.

    One aggregation pass over the table; returns a narrow DataFrame with
    one row per profiled column.
    """
    from pyspark.sql import functions as F

    columns = columns or df.columns
    aggs = []
    for c in columns:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.count(F.col(c)).alias(f"{c}__non_null"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)

    # profile() is a DISCOVERY probe — it runs on raw landing frames
    # BEFORE clean_columns sanitizes names for bronze, so column names
    # like 'unit price' or 'weight-kg' are expected input. Backtick the
    # generated identifiers (and escape quotes in the name literal) or
    # the stack() expression fails to parse.
    def bt(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def lit(name: str) -> str:
        return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"

    stack_expr = ", ".join(
        f"{lit(c)}, {bt(c + '__rows')}, {bt(c + '__non_null')}, "
        f"{bt(c + '__distinct')}, {bt(c + '__min')}, {bt(c + '__max')}"
        for c in columns
    )
    return wide.selectExpr(
        f"stack({len(columns)}, {stack_expr}) as (column_name, rows, non_null, approx_distinct, min_value, max_value)"
    )
