"""Data-quality checks: quarantine split + all-null drop (SURVEY.md §2.3
P5/P8, §2.2 K4).

The reference builds one disjunctive predicate (any ``*date`` column too
far in the future OR any ``*value*`` column out of monetary range) and
splits rows into clean vs quarantined, tagging quarantined rows with a
reason (Silver_full_load.ipynb:1 cell 8 `create_quarantine_records`,
`data_quality_checks`; silver_processor.py:224-262).

Both branches are plain filters over the same scan — Catalyst evaluates
the predicate in whole-stage codegen; at scale the two branches are two
passes over the (cached or re-scanned) input, no shuffle.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: monetary sanity bounds (silver_processor.py:233-250)
VALUE_MAX = 1e8
VALUE_MIN = -1e7
#: future-date horizon: today + 730 days
FUTURE_DAYS = 730


def _date_columns(df: DataFrame) -> list[str]:
    return [c for c, t in df.dtypes if c.lower().endswith("date") and t in ("timestamp", "date")]


def _value_columns(df: DataFrame) -> list[str]:
    return [c for c, t in df.dtypes if "value" in c.lower() and t in ("double", "float")]


def future_horizon(horizon: dt.date | str | None = None) -> Column:
    """Silver's future-date cutoff: ``current_date() + FUTURE_DAYS``, or
    the pinned ``horizon`` (deterministic tests). Rows dated past it are
    quarantined, and incremental watermarks ignore them."""
    if horizon is None:
        return F.date_add(F.current_date(), FUTURE_DAYS)
    return F.lit(str(horizon)).cast("date")


def watermark_max(col: str, horizon: dt.date | str | None = None) -> Column:
    """``max(col)`` over the rows at or before :func:`future_horizon`.
    A quarantined future-dated row must not become the next scan's
    watermark: one year-2200 row would skip every later drop."""
    return F.max(F.when(F.col(col).cast("date") <= future_horizon(horizon), F.col(col)))


def quarantine_predicates(
    df: DataFrame,
    horizon: dt.date | str | None = None,
    value_max: float = VALUE_MAX,
    value_min: float = VALUE_MIN,
    date_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
) -> list[tuple[Column, str]]:
    """(predicate, reason) pairs for every date/value column in scope.

    Columns are discovered by the reference's name patterns by default;
    ``date_cols`` / ``value_cols`` override discovery for tables whose
    names don't follow them. ``horizon`` pins the future-date cutoff for
    deterministic tests; defaults to current_date()+730 like the reference.
    """
    horizon_col = future_horizon(horizon)
    preds: list[tuple[Column, str]] = []
    for c in (date_cols if date_cols is not None else _date_columns(df)):
        preds.append((F.col(c).cast("date") > horizon_col, f"future_date:{c}"))
    for c in (value_cols if value_cols is not None else _value_columns(df)):
        preds.append(((F.col(c) > value_max) | (F.col(c) < value_min), f"extreme_value:{c}"))
    return preds


def quarantine_split(
    df: DataFrame,
    source_table: str = "unknown",
    horizon: dt.date | str | None = None,
    value_max: float = VALUE_MAX,
    value_min: float = VALUE_MIN,
    date_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split into (clean, quarantined); quarantined rows carry
    ``quarantine_reason`` (first matching rule, in column order),
    ``quarantine_date`` and ``source_table`` metadata, matching the
    reference's side-sink schema (K4)."""
    preds = quarantine_predicates(df, horizon, value_max, value_min, date_cols, value_cols)
    if not preds:
        empty = df.filter(F.lit(False))
        return df, _tag(empty, F.lit(None).cast("string"), source_table)
    bad = bad_row(preds)
    reason = F.coalesce(
        *[F.when(F.coalesce(p, F.lit(False)), F.lit(r)) for p, r in preds]
    )
    clean = df.filter(~bad)
    quarantined = _tag(df.filter(bad), reason, source_table)
    return clean, quarantined


def bad_row(preds: list[tuple[Column, str]]) -> Column:
    """True for a row any of ``preds`` flags. NULL predicate results
    count as "not bad" (the clean side keeps them)."""
    if not preds:
        return F.lit(False)
    return F.coalesce(reduce(lambda a, b: a | b, (p for p, _ in preds)), F.lit(False))


def _tag(df: DataFrame, reason: Column, source_table: str) -> DataFrame:
    return (
        df.withColumn("quarantine_reason", reason)
        .withColumn("quarantine_date", F.current_timestamp())
        .withColumn("source_table", F.lit(source_table))
    )


def drop_all_null(df: DataFrame) -> DataFrame:
    """Drop rows whose every column is NULL (P8; `df.dropna(how='all')`)."""
    return df.na.drop("all")
