"""Physical-layout operators for scale: bucketed writes (co-located
joins), salted two-phase aggregation (hot-key skew), and an
aggregation-based keep-latest dedup that avoids the window sort.

These are the 100 TB levers SURVEY.md §4/§7 calls for:

- ``write_bucketed``: persist a table hash-bucketed (+sorted) by its
  join/dedup keys; subsequent equi-joins and groupBys on those keys
  skip the shuffle entirely (`test_scale_ops.py` asserts the plan has
  no Exchange).
- ``dedup_latest_agg``: keep-latest as ``max_by(payload, order)`` —
  a *combinable* aggregation: partial max per map task, one light
  shuffle of one row per key per task, no full sort of the fact table.
  Same semantics as the window variant when the order key is a total
  order (add tie-breakers).
- ``salted_sum``: two-phase sum/count for aggregations whose group key
  is pathologically hot: pre-aggregate on (key, salt), then finish on
  key. AQE's skew handling covers joins; this covers single-key aggs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist hash-bucketed by ``keys`` (and optionally sorted within
    buckets, which also gives parquet min/max skipping on the sort key).

    Hardened against the crash-orphan wedge by the same crumb retry as
    ``maintenance.safe_save_as_table`` (which cannot express
    ``bucketBy``): a SIGKILL mid-``saveAsTable`` leaves a catalog-less
    warehouse directory, and every later create of the same table
    would die with LOCATION_ALREADY_EXISTS until manual cleanup."""
    from spaceparts_data_pipeline_spark.operators import maintenance as mt

    def _write():
        writer = df.write.mode(mode).bucketBy(num_buckets, *keys)
        if sort_by:
            writer = writer.sortBy(*sort_by)
        writer.saveAsTable(table)

    mt._retry_past_crumb(df.sparkSession, table, _write, mt.DEFAULT_ORPHAN_GRACE_S)


def dedup_latest_agg(
    df: DataFrame,
    order_col: str,
    keys: list[str],
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Keep-latest via max_by aggregation (shuffle-light W1/W2).

    Picks, per key group, the row with the lexicographically greatest
    (order_col, *tie_breakers) — identical to the window row_number
    variant when the tie-breakers make the order total.
    """
    order = F.struct(F.col(order_col), *[F.col(t) for t in (tie_breakers or [])])
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(*keys)
        .agg(F.max_by(payload, order).alias("__row"))
        .select("__row.*")
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    keys: list[str],
    salt_buckets: int = 16,
    seed: int = 42,
    how: str = "left",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed side's key with a random
    bucket, replicate the small side across all buckets, join on
    (keys + salt). A single hot key spreads over ``salt_buckets``
    reducers instead of one. Use when AQE's skew-join can't help (e.g.
    deliberately partitioned outputs). Result equals the plain join."""
    salted = skewed.withColumn("__salt", (F.rand(seed) * salt_buckets).cast("int"))
    explode_salt = F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    replicated = small.withColumn("__salt", explode_salt)
    out = salted.join(replicated, keys + ["__salt"], how)
    return out.drop("__salt")


def salted_sum(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    salt_buckets: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Two-phase sum+count: groupBy(keys + salt) → groupBy(keys).

    The salt spreads a hot key over ``salt_buckets`` reducers in phase
    one; phase two combines ``salt_buckets`` rows per key — trivially
    small. Sums use the engine's decimal pattern so the two-phase
    result is bit-identical to a one-phase sum.
    """
    salted = df.withColumn("__salt", (F.rand(seed) * salt_buckets).cast("int"))
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[F.sum(F.col(c).cast("decimal(27,6)")).alias(f"__s_{c}") for c in sum_cols],
        F.count(F.lit(1)).alias("__n"),
    )
    return phase1.groupBy(*keys).agg(
        *[F.sum(f"__s_{c}").cast("double").alias(f"{c}_sum") for c in sum_cols],
        F.sum("__n").alias("row_count"),
    )


def zorder_value(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
) -> Column:
    """Z-order (Morton) curve value over 2+ numeric/timestamp columns —
    the plain-Parquet analog of Delta ``OPTIMIZE ZORDER BY``. Sorting by
    this single value clusters rows so EVERY participating column has
    narrow per-file min/max ranges, and parquet row-group stats prune
    multi-dimensional predicates — a single-column sort can only serve
    one dimension.

    Each column is min-max scaled to ``bits``-bit ints (bounds from one
    cheap aggregate over the input — at production scale feed catalog
    stats instead) and the bit planes are interleaved with pure bitwise
    expressions: whole-stage-codegen'd JVM arithmetic, no UDF, ~2·bits
    Column nodes per column (same scale as the SimHash tree). NULLs and
    constant columns scale to 0 and sort first.
    """
    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns; use a plain sort for one")
    # The interleave places column i's bit b at position b*len(cols)+i.
    # Position 63 is the long sign bit (rows would sort first, inverting
    # the curve) and the JVM shiftleft wraps mod 64 beyond that — so cap
    # the per-column resolution at what fits in the 63 value bits.
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(f"zorder over {len(cols)} columns exceeds 63 usable bits")
    from spaceparts_data_pipeline_spark.functions.scalars import epoch_micros, is_ntz

    numeric = {}
    for c in cols:
        dt = dict(df.dtypes)[c]
        if dt.startswith("timestamp"):
            numeric[c] = epoch_micros(c, ntz=is_ntz(df, c)).cast("double")
        else:
            numeric[c] = F.col(c).cast("double")
    bounds = df.agg(*[F.min(numeric[c]).alias(f"lo_{i}") for i, c in enumerate(cols)],
                    *[F.max(numeric[c]).alias(f"hi_{i}") for i, c in enumerate(cols)]).collect()[0]
    z = F.lit(0).cast("long")
    max_scaled = (1 << bits) - 1
    for i, c in enumerate(cols):
        lo, hi = bounds[f"lo_{i}"], bounds[f"hi_{i}"]
        if lo is None or hi is None or hi == lo:
            scaled = F.lit(0).cast("long")
        else:
            frac = (numeric[c] - F.lit(float(lo))) / F.lit(float(hi - lo))
            scaled = F.coalesce(
                F.floor(frac * max_scaled).cast("long"), F.lit(0).cast("long"))
        for b in range(bits):
            bit = F.shiftrightunsigned(scaled, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return z


def zorder_write(
    df: DataFrame,
    table: str,
    cols: list[str],
    n_files: int | None = None,
    bits: int = 16,
) -> None:
    """Rewrite ``df`` as ``table`` clustered on the z-curve: RANGE
    partition by the z-value (each output file owns a contiguous curve
    segment) and sort within files, so row-group stats are tight on all
    ``cols`` at once. Goes through the reader-isolated versioned swap.
    """
    from spaceparts_data_pipeline_spark.operators.maintenance import overwrite_via_staging

    z = zorder_value(df, cols, bits=bits)
    out = df.withColumn("__z", z)
    out = (out.repartitionByRange(n_files, "__z") if n_files
           else out.repartitionByRange("__z"))
    out = out.sortWithinPartitions("__z").drop("__z")
    # NOTE: drop after sort — the sort key must exist through the sort,
    # and the written schema must not carry the helper column.
    overwrite_via_staging(df.sparkSession, table, out)
