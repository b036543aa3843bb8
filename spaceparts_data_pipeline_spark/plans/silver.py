"""Silver layer: the schema-generic cleaning pipeline per table
(SURVEY.md §3.2 step 3; reference Silver_full_load cell 8).

Per table, one path for both load modes (``_land``): standardize types
(name/dtype dispatch) → keep-latest dedup (inferred keys) → all-null
drop → quarantine split → silver metadata → write → quarantine side
sink. The modes differ only in the write: a full load overwrites the
table, an incremental load upserts its slice into the buckets it
touches (union existing+incoming then keep-latest, U1 + W1/W2).

``silver_<t>`` and ``silver_quarantine_<t>`` are version views from
their first write (``maintenance.overwrite_via_staging``); later writes
address the physical version behind the view.

No blind repartition (the reference's `optimize_partitioning` heuristic
is replaced by AQE coalescing, SURVEY.md §4) and no barrier count: the
row and quarantine counts are metrics observed on the persisted parent,
computed by the write that builds its cache.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.operators import maintenance
from spaceparts_data_pipeline_spark.operators.dedup import dedup_latest, infer_keys
from spaceparts_data_pipeline_spark.operators.merge import (  # noqa: F401 - N_BUCKETS re-exported
    N_BUCKETS, bucket_expr, collect_touched_partitions, physical_partition_cols,
    upsert_union_dedup,
)
from spaceparts_data_pipeline_spark.operators.quality import (
    bad_row, drop_all_null, quarantine_predicates, quarantine_split, watermark_max,
)
from spaceparts_data_pipeline_spark.operators.standardize import standardize_types
from spaceparts_data_pipeline_spark.plans import logs

#: Silver tables are partitioned by the key-hash bucket of their dedup
#: keys (``merge.bucket_expr``), so an incremental merge rewrites only
#: the buckets its incoming keys hash into.
PARTITION_COL = "p_bucket"


def _aligned(df: DataFrame, keys: list[str]) -> DataFrame:
    """One writer per bucket (AQE coalesces), so each partition dir gets
    few, large files instead of one per task, and key-sorted files, so
    parquet row-group min/max statistics prune downstream key lookups
    (the Parquet analog of the reference's dataSkippingNumIndexedCols +
    OPTIMIZE clustering, SURVEY.md §4). PARTITION_COL leads the sort:
    the partitioned file writer requires task rows ordered by the
    partition columns and injects its OWN sort (destroying this one)
    unless the incoming ordering already satisfies that requirement as
    a prefix."""
    return df.repartition(F.col(PARTITION_COL)).sortWithinPartitions(PARTITION_COL, *keys)


def _write_partitioned(clean: DataFrame, target: str, keys: list[str]) -> None:
    # versioned swap: the new version is written in place and the view
    # repoint commits it, so a crash mid-write leaves the current one intact;
    # align_writers=False — _aligned IS the alignment, and a second
    # repartition would destroy the sort
    out = _aligned(clean.withColumn(PARTITION_COL, bucket_expr(keys)), keys)
    maintenance.overwrite_via_staging(clean.sparkSession, target, out,
                                      partition_by=PARTITION_COL, align_writers=False)


#: Per-run stamp columns excluded from the quarantine identity: the same
#: bad source row re-derived from a watermark-overlap rescan carries a
#: fresh quarantine_date AND a fresh bronze load_date — identity must
#: cover only what the SOURCE said, not when the pipeline saw it.
_QUARANTINE_STAMPS = ("quarantine_date", "load_date")


#: Sentinel that stands in for NULL inside the identity hash. Spark's
#: ``xxhash64`` SKIPS null arguments entirely, so without it two rows
#: that differ only in WHICH column is null — (null,'x') vs ('x',null) —
#: hash identically and the exactly-once anti-join would silently drop
#: one of them from the audit sink. Quarantine rows are precisely the
#: null-heavy population, so this is a real hazard, not a 2⁻⁶⁴ one.
#: NUL bytes make an accidental collision with genuine data practically
#: impossible.
_NULL_SENTINEL = "\x00\x00null\x00\x00"


def _identity_hash(cols: list[str]):
    """64-bit row identity over the SORTED column list — sorted so the
    hash is invariant to projection order across runs. Every column is
    cast to string and null-coalesced to a sentinel so nulls contribute
    *positionally* (see ``_NULL_SENTINEL``)."""
    return F.xxhash64(
        *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)) for c in sorted(cols)]
    )


def _append_quarantine_dedup(spark: SparkSession, sink: str, quarantined: DataFrame) -> None:
    """Append quarantine rows the sink doesn't already hold.

    Incremental runs re-scan a watermark overlap window, so the same bad
    source row is re-derived on consecutive runs; without this anti-join
    the side-sink accumulates one copy per run. Identity = one stored
    ``identity_hash`` column — ``xxhash64`` over the sorted source
    columns + quarantine_reason (per-run stamps excluded) — so the
    exactly-once anti-join is a single narrow column instead of a
    null-safe conjunction over every column shuffling the whole wide
    sink each run (round-3 verdict "what's wrong" #3); columnar scans
    read just that one column, and at scale the sink can be bucketed by
    it. The first append creates the sink (a version view). Caveats,
    both bounded: a 64-bit collision would silently drop one bad row
    from the audit sink (~n²/2⁶⁵ odds on a small table), and additive
    schema drift changes the hash basis so one overlap window may
    re-append after a drift.
    """
    id_cols = [c for c in quarantined.columns if c not in _QUARANTINE_STAMPS]
    out = quarantined.withColumn("identity_hash", _identity_hash(id_cols))
    if spark.catalog.tableExists(sink):
        out = out.join(spark.table(sink).select("identity_hash"), ["identity_hash"], "left_anti")
        if out.isEmpty():
            return
    # schema drift (source grew a column) rewrites the sink once with the
    # union schema, as bronze's append does
    maintenance.append_with_evolution(spark, out, sink)


def transform(
    df: DataFrame,
    table: str,
    execution_id: str,
    order_col: str = "dwcreateddate",
    horizon=None,
) -> tuple[DataFrame, DataFrame, DataFrame, Callable[[], dict]]:
    """(clean, quarantined, parent, counts) for one bronze table.

    The split parent (the standardized+deduped table) is cached
    MEMORY_AND_DISK before the quarantine split, so the heavy
    standardize→window-dedup lineage executes ONCE no matter how many
    sinks consume the two sides — the standard two-sink pattern (at
    scale the cache spills to executor-local disk, still strictly
    cheaper than re-running the shuffle per consumer). The caller owns
    ``parent.unpersist()`` after all consumers have run.

    ``counts()`` returns ``{"rows", "quarantined"}`` of the parent. Both
    are observed below the persist, so the first action that reads the
    whole parent (the clean write) computes them; call it after that
    action and before the unpersist.
    """
    from pyspark.storagelevel import StorageLevel

    std = standardize_types(df)
    deduped = dedup_latest(std, order_col=order_col) if order_col in std.columns else std
    non_null = drop_all_null(deduped)
    bad = bad_row(quarantine_predicates(non_null, horizon))
    parent, counts = logs.observe(
        non_null, rows=F.count(F.lit(1)), quarantined=F.count_if(bad))
    parent = parent.persist(StorageLevel.MEMORY_AND_DISK)
    clean, quarantined = quarantine_split(parent, source_table=table, horizon=horizon)
    clean = clean.withColumn("silver_created_date", F.current_timestamp()).withColumn(
        "silver_execution_id", F.lit(execution_id)
    )
    return clean, quarantined, parent, counts


def _land(
    spark: SparkSession,
    table: str,
    src: DataFrame,
    execution_id: str,
    order_col: str,
    horizon,
    write: Callable[[DataFrame], None],
) -> dict:
    """Clean ``src`` into ``silver_<table>`` through ``write(clean)``, then
    append its quarantined rows to the side sink when there are any.

    The standardize→dedup plan runs ONCE: ``write`` reads every clean
    row, so it builds the persisted parent's cache and, with it, the
    observed row and quarantine counts; the quarantine append is then a
    cache scan. The clean side lands first. A crash between the two
    writes leaves the sink short, and a rerun re-derives the missing
    rows through the sink's identity anti-join."""
    clean, quarantined, parent, counts = transform(
        src, table, execution_id, order_col=order_col, horizon=horizon
    )
    try:
        write(clean)
        n = counts()
        if n["quarantined"]:
            _append_quarantine_dedup(spark, f"silver_quarantine_{table}", quarantined)
    finally:
        parent.unpersist()
    return {"table": table, "status": "success",
            "records": n["rows"] - n["quarantined"], "quarantined": n["quarantined"]}


def run_full(
    spark: SparkSession,
    table: str,
    execution_id: str | None = None,
    source_table: str | None = None,
    horizon=None,
    order_col: str = "dwcreateddate",
) -> dict:
    """Overwrite ``silver_<table>`` with the cleaned bronze table."""
    return _land(spark, table, spark.table(source_table or f"bronze_{table}"),
                 execution_id or logs.new_execution_id(), order_col, horizon,
                 lambda clean: _write_partitioned(clean, f"silver_{table}",
                                                  infer_keys(clean.columns, order_col)))


def run_incremental(
    spark: SparkSession,
    table: str,
    incoming: DataFrame,
    order_col: str = "dwcreateddate",
    execution_id: str | None = None,
    control_table: str = "silver_incremental_control",
    horizon=None,
) -> dict:
    """Silver upsert of the incoming slice (``_merge_buckets``).
    ``records`` counts the rows this run landed, not the table.

    The CONTROL row (next run's watermark) lands per table, like
    bronze.run_incremental's; the watermark skips rows past the
    quarantine horizon (they never reach silver) and is observed on the
    incoming slice, so the merge that reads the slice computes it."""
    execution_id = execution_id or logs.new_execution_id()
    wm_of = None
    if order_col in incoming.columns:
        incoming, wm_of = logs.observe(incoming, wm=watermark_max(order_col, horizon))
    res = _land(spark, table, incoming, execution_id, order_col, horizon,
                lambda clean: _merge_buckets(spark, f"silver_{table}", clean, order_col))
    wm = wm_of()["wm"] if wm_of else None
    logs.append_control(spark, control_table, table, execution_id, wm, "success", res["records"])
    return res


def _merge_buckets(spark: SparkSession, target: str, clean: DataFrame, order_col: str) -> None:
    """Upsert the cleaned slice into ``target``: union the existing rows
    OF THE TOUCHED KEY-HASH BUCKETS only, keep-latest per inferred key,
    dynamic-partition-overwrite those buckets (U1+W1/W2 — the
    reference's silver merge strategy, at O(touched buckets) I/O). A
    first write creates the table; schema drift (the slice adds columns)
    or an unpartitioned version gets one full rewrite with the union
    schema, like bronze's append-with-evolution."""
    if not spark.catalog.tableExists(target):
        _write_partitioned(clean, target, infer_keys(clean.columns, order_col))
        return
    # the target is a version view; the partition probe and the
    # insertInto need the physical table behind it
    phys = maintenance.resolve_physical(spark, target)
    existing = spark.table(phys)
    # keys from the TARGET: a slice may carry a subset of the columns,
    # and its buckets must be the ones the table was written by
    keys = infer_keys(existing.columns, order_col)
    if (PARTITION_COL not in physical_partition_cols(spark, phys)
            or not set(clean.columns) <= set(existing.columns)):
        # no checkpoint needed: the versioned swap materializes the
        # rewrite before the old version drops
        merged = upsert_union_dedup(existing.drop(PARTITION_COL), clean,
                                    keys=keys, order_col=order_col)
        _write_partitioned(merged, target, infer_keys(merged.columns, order_col))
        return
    clean_p = clean.withColumn(PARTITION_COL, bucket_expr(keys))
    # bounded by contract: PARTITION_COL is a hash bucket (N_BUCKETS
    # values), never row-like cardinality
    parts = collect_touched_partitions(clean_p, PARTITION_COL)
    sub = existing.filter(F.col(PARTITION_COL).isin(parts))
    merged = upsert_union_dedup(sub, clean_p, keys=keys, order_col=order_col)
    # the checkpoint inside materializes only the touched buckets
    maintenance.overwrite_partitions(
        spark, phys, _aligned(merged.select(*existing.columns), keys))
