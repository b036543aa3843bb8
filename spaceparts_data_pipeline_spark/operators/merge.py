"""Upsert strategies (SURVEY.md §2.2 K3, §3.3).

The reference uses three different upsert flavors at its three layers:

1. bronze: plain watermarked APPEND (K2) — ``mode("append")``.
2. silver: UNION + keep-latest window + OVERWRITE (U1 + W1/W2) —
   :func:`upsert_union_dedup`.
3. gold: keyed ``MERGE INTO`` on 1-5 column business keys (K3) —
   re-expressed Parquet-only as :func:`merge_upsert`
   (update-existing + insert-new via null-safe anti-join + union).

MERGE semantics notes (SURVEY.md §7 "hard parts"):
- duplicate source keys: deduped keep-latest BEFORE merging (Delta MERGE
  would raise on multiple matches; the reference pre-dedups too);
- NULL keys: matched with null-safe equality (``<=>``) so a NULL key in
  source updates a NULL key in target rather than inserting a duplicate.

Scale: the anti-join shuffles target by key once; with the target written
bucketed by the merge keys the shuffle disappears on the target side and
only the (small) source shuffles. AQE skew-join covers hot keys.
"""

from __future__ import annotations

from functools import reduce
from itertools import takewhile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.operators.dedup import dedup_latest


def upsert_union_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    order_col: str,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Silver-layer upsert: union existing+incoming then keep latest per key.

    ``unionByName`` (not positional union) so schema drift between runs
    cannot silently misalign columns.
    """
    merged = existing.unionByName(incoming, allowMissingColumns=True)
    return dedup_latest(merged, order_col=order_col, keys=keys, tie_breakers=tie_breakers)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """Gold-layer MERGE emulation over plain DataFrames/Parquet.

    WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT * —
    i.e. the result contains every source row (latest version per key if
    ``order_col`` given) plus every target row whose key has no source
    match. Null-safe key comparison throughout.
    """
    if order_col is not None:
        source = dedup_latest(source, order_col=order_col, keys=keys)
    cond = reduce(
        lambda a, b: a & b,
        [target[k].eqNullSafe(source[k]) for k in keys],
    )
    kept_target = target.join(source, cond, "left_anti")
    return kept_target.unionByName(source.select(*target.columns))


#: Key-hash bucket partitioning (silver tables, gold dims). Because the
#: bucket is a pure function of the keys, a key NEVER moves partitions
#: and an upsert can never empty one — so a merge reads and rewrites only
#: the buckets its incoming keys hash into (dynamic partition overwrite),
#: O(touched buckets) instead of O(table). The bucket count is a
#: constant, not a knob: a merge bucketing its incoming keys with a
#: different count than the table was written with would route a key's
#: update to a different partition than its current row, leaving both.
#: 16 suits the tested scales (one bucket should be about
#: executor-memory-sized); changing it requires a full rewrite of every
#: bucketed table.
N_BUCKETS = 16


def bucket_expr(keys: list[str]):
    """The key-hash bucket of ``keys``: ``pmod(xxhash64(keys), N_BUCKETS)``."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(N_BUCKETS))


def physical_partition_cols(spark, table: str) -> list[str]:
    """The table's real partition columns from catalog metadata. A column
    merely *named* like a partition column is not enough: dynamic
    partition overwrite on a physically unpartitioned table would
    truncate it and insert only the touched slice — data loss.

    Read from the ``# Partition Information`` block of ``DESCRIBE
    TABLE``, a command that runs no Spark job (``catalog.listColumns``
    costs 2)."""
    try:
        names = [r["col_name"] for r in spark.sql(f"DESCRIBE TABLE {table}").collect()]
    except Exception:
        return []
    if "# Partition Information" not in names:
        return []
    # past the block's "# col_name" header: one row per partition column,
    # up to the end or the next blank or "#" row
    block = names[names.index("# Partition Information") + 2:]
    return list(takewhile(lambda n: n and not n.startswith("#"), block))


# Cardinality CONTRACT for every driver-side touched-partition collect:
# partition values are months or hash buckets — hundreds, maybe
# thousands, never per-row. 10k is ~40× the largest legitimate layout
# in this repo (256 buckets / ~120 months) while still only ~10k short
# strings on the driver.
MAX_TOUCHED_PARTITIONS = 10_000


def collect_touched_partitions(
    source: DataFrame, partition_col: str,
    limit: int = MAX_TOUCHED_PARTITIONS,
) -> list:
    """Driver-side list of the delta's DISTINCT partition values —
    bounded by contract (see ``MAX_TOUCHED_PARTITIONS``). Fetches
    ``limit + 1`` and refuses past ``limit`` so a mis-derived partition
    column (a raw timestamp, a doc id) fails loudly with the column
    name instead of silently ferrying millions of values through the
    driver."""
    rows = source.select(partition_col).distinct().limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"partition column {partition_col!r} has more than {limit} "
            "distinct values in this delta — that is row-like, not "
            "partition-like cardinality; a touched-partition merge "
            "would collect it on the driver. Re-derive the partition "
            "column (month / hash bucket) or raise the limit explicitly."
        )
    return [r[0] for r in rows]


def _touched_partition_filter(source: DataFrame, partition_col: str):
    """Predicate selecting the target partitions the ``source`` delta
    touches. The collect is bounded: one value per touched partition
    (months/buckets), never rows — enforced by
    :func:`collect_touched_partitions`."""
    parts = collect_touched_partitions(source, partition_col)
    vals = [p for p in parts if p is not None]
    cond = F.col(partition_col).isin(vals) if vals else F.lit(False)
    if any(p is None for p in parts):
        cond = cond | F.col(partition_col).isNull()
    return cond


def merge_into_table(
    spark,
    table: str,
    source: DataFrame,
    keys: list[str],
    partition_col: str | None = None,
    order_col: str | None = None,
) -> None:
    """MERGE a delta into a saved table, rewriting only what it must.

    When the table is partitioned on ``partition_col`` (derived from the
    merge keys, so an upsert never moves a row across partitions), the
    merge reads only the partitions the delta touches and commits them
    with dynamic partition overwrite — O(delta partitions) I/O per run
    instead of the O(table) full rewrite the reference's Delta ``MERGE
    INTO`` also avoids (Gold_incremental_load.ipynb:1 cell 10). The
    ``localCheckpoint`` self-overwrite guard then materializes only the
    touched slice, not the table.

    An absent target is created from the source through the versioned
    swap, partitioned on ``partition_col`` so later merges take the
    touched-partition path, and deduped keep-latest first when
    ``order_col`` is given, as every merge dedups its source.

    Fallback (no/unknown partitioning): full-table merge + rewrite.
    """
    from spaceparts_data_pipeline_spark.operators import maintenance

    if not spark.catalog.tableExists(table):
        if order_col is not None:
            source = dedup_latest(source, order_col=order_col, keys=keys)
        maintenance.overwrite_via_staging(spark, table, source, partition_by=partition_col)
        return
    # Version-managed tables (reader-isolated versioned swap) store data in
    # `{table}__v{N}` behind a view — the partition-metadata probe and
    # the insertInto must address the physical table.
    phys = maintenance.resolve_physical(spark, table)
    target = spark.table(phys)
    if (
        partition_col
        and partition_col in physical_partition_cols(spark, phys)
        and partition_col in source.columns
    ):
        cond = _touched_partition_filter(source, partition_col)
        sub = target.filter(cond)
        merged = merge_upsert(sub, source.select(*target.columns), keys, order_col=order_col)
        # align writers to the touched partition dirs (one writer per
        # value, AQE coalesces) BEFORE the checkpoint: otherwise every
        # checkpoint partition writes a file into every touched dir —
        # tasks × dirs small files accumulating run over run until
        # compaction. The same alignment overwrite_via_staging applies.
        maintenance.overwrite_partitions(spark, phys, merged.repartition(partition_col))
    else:
        merged = merge_upsert(target, source.select(*target.columns), keys, order_col=order_col)
        # versioned swap: materializes the merge before the old version drops,
        # so no executor-memory checkpoint and a crash can't lose the table.
        # Preserve the target's REAL partition layout (re-probed: this
        # branch is also reached when the first metadata probe failed
        # transiently, or when partition_col names a column the table is
        # not actually partitioned on) — a bare full rewrite would
        # silently promote an UNPARTITIONED new version, and every later
        # merge would permanently take this full-rewrite path.
        maintenance.overwrite_via_staging(
            spark, table, merged, partition_by=physical_partition_cols(spark, phys) or None)


def scd2_history(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tracked: list[str],
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 history build from a change
    feed — the warehouse-dimension companion to the reference's
    keep-latest upserts (SURVEY §2.2 K3 territory): instead of keeping
    only the newest row per key, keep every VERSION, where a version
    is a maximal run of consecutive rows (per key, in ``order_col``
    order) whose ``tracked`` attributes are unchanged.

    Output: one row per version with the version's first-row attribute
    values plus ``valid_from`` (its first ``order_col``), ``valid_to``
    (the NEXT version's ``valid_from``, NULL for the open version),
    ``is_current`` and a 1-based ``version`` number per key.

    Ordering must be total for determinism — pass ``tie_breakers``
    (e.g. a unique event id) when ``order_col`` can tie.

    Plan shape: two windows over the same ``(keys, order)``
    partitioning — Spark reuses one exchange/sort for both (no second
    shuffle) — then a filter to change rows and one more window over
    the (much smaller) change-row set for ``valid_to``/``version``.
    Linear, key-partitioned, no Python.
    """
    tb = list(tie_breakers or [])
    order = [F.col(order_col).asc(), *[F.col(c).asc() for c in tb]]
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    changed = reduce(
        lambda a, b: a | b,
        [~F.lag(F.col(c)).over(w).eqNullSafe(F.col(c)) for c in tracked],
    ) | F.row_number().over(w).eqNullSafe(F.lit(1))
    # row_number()==1 (not lag IS NULL) marks the first row: a NULL
    # tracked value in row 1 must still open a version.
    first_rows = df.withColumn("__chg", changed).filter("__chg").drop("__chg")
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return first_rows.select(
        *keys, *tracked,
        F.col(order_col).alias("valid_from"),
        F.lead(order_col).over(w2).alias("valid_to"),
        F.lead(order_col).over(w2).isNull().alias("is_current"),
        F.row_number().over(w2).cast("int").alias("version"),
    )


def scd2_apply(
    history: DataFrame,
    batch: DataFrame,
    keys: list[str],
    order_col: str,
    tracked: list[str],
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Incrementally apply a newer change batch to an existing SCD2
    history (the production shape: the 100 TB history table is NOT
    rebuilt — only keys present in the batch are touched). Contract
    (the same watermark discipline as the repo's incremental loads):
    every batch row's ``order_col`` is strictly greater than the
    stored open version's ``valid_from`` for its key, and key columns
    are non-null. Under that contract the result is row-identical to
    rebuilding with :func:`scd2_history` over (original feed ∪ batch)
    — the equivalence is both unit-pinned and the q25b oracle.

    Mechanics: batch keys are collected into a broadcastable key set;
    untouched history rows (and the CLOSED versions of touched keys)
    pass through unchanged; each touched key's OPEN version joins the
    batch as a pseudo-event at its own ``valid_from`` carrying its
    version number, so the change-collapse window (a) drops batch rows
    whose attributes equal the still-open version — no spurious new
    version — and (b) continues version numbering where the history
    left off. Keys new in the batch start fresh at version 1.

    Plan shape: two broadcast semi/anti joins against the batch key
    set + one window over (touched open rows ∪ batch) — work scales
    with the BATCH, not the history; the history is scanned once with
    only the is_current/key filters (partition/file pruning applies
    if the table is laid out by either).
    """
    tb = list(tie_breakers or [])
    out_cols = [*keys, *tracked, "valid_from", "valid_to", "is_current", "version"]
    bkeys = batch.select(*keys).distinct()
    untouched = history.join(F.broadcast(bkeys), keys, "left_anti").select(*out_cols)
    touched_closed = (
        history.filter(~F.col("is_current"))
        .join(F.broadcast(bkeys), keys, "left_semi")
        .select(*out_cols)
    )
    open_rows = (
        history.filter(F.col("is_current"))
        .join(F.broadcast(bkeys), keys, "left_semi")
        .select(
            *keys, *tracked,
            F.col("valid_from").alias(order_col),
            *[F.lit(None).cast(batch.schema[c].dataType).alias(c) for c in tb],
            (F.col("version") - 1).alias("__offset"),
            F.lit(True).alias("__base"),
        )
    )
    new_rows = batch.select(
        *keys, *tracked, order_col, *tb,
        F.lit(None).cast("int").alias("__offset"),
        F.lit(False).alias("__base"),
    )
    cand = open_rows.unionByName(new_rows)
    from pyspark.sql import Window

    order = [F.col(order_col).asc(), *[F.col(c).asc() for c in tb]]
    w = Window.partitionBy(*keys).orderBy(*order)
    changed = reduce(
        lambda a, b: a | b,
        [~F.lag(F.col(c)).over(w).eqNullSafe(F.col(c)) for c in tracked],
    ) | F.row_number().over(w).eqNullSafe(F.lit(1))
    firsts = cand.withColumn("__chg", changed).filter("__chg")
    w2 = Window.partitionBy(*keys).orderBy(*order)
    woff = Window.partitionBy(*keys)
    recomputed = firsts.select(
        *keys, *tracked,
        F.col(order_col).alias("valid_from"),
        F.lead(order_col).over(w2).alias("valid_to"),
        F.lead(order_col).over(w2).isNull().alias("is_current"),
        (F.row_number().over(w2)
         + F.coalesce(F.max("__offset").over(woff), F.lit(0))).cast("int").alias("version"),
    )
    return untouched.unionByName(touched_closed).unionByName(recomputed)
