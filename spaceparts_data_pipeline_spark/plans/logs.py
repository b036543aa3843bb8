"""Observability sinks: execution logs + watermark control tables
(SURVEY.md §2.2 K5/K6, §2.1 S10/O2).

Explicit StructType schemas (the reference's only fixed schemas) and
typed appends built from literals, so a log or control append runs no
Python worker. The record counts and watermarks these rows carry are
metrics observed on the write that landed the rows (:func:`observe`),
not a re-read of the written table. Control rows are the single
sanctioned driver-side collect in the engine (≤1 row per table per
run).
"""

from __future__ import annotations

import datetime as dt
import uuid
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

#: bronze_full_load.ipynb:1 (cells 30, 32); Silver_full_load.ipynb:1 (cell 12)
EXECUTION_LOG_SCHEMA = StructType([
    StructField("layer", StringType(), False),
    StructField("table_name", StringType(), False),
    StructField("execution_id", StringType(), False),
    StructField("execution_timestamp", TimestampType(), False),
    StructField("status", StringType(), False),
    # Long, not Integer: populated from DataFrame.count(), which exceeds
    # 2^31 on the table sizes this engine targets.
    StructField("record_count", LongType(), True),
    StructField("message", StringType(), True),
])

#: bronze_incremental_load.ipynb:1 (cell 10, `control_schema`)
CONTROL_SCHEMA = StructType([
    StructField("table_name", StringType(), False),
    StructField("execution_id", StringType(), False),
    StructField("execution_timestamp", TimestampType(), False),
    StructField("last_extracted_timestamp", TimestampType(), True),
    StructField("status", StringType(), False),
    StructField("record_count", LongType(), True),
])


def new_execution_id() -> str:
    return uuid.uuid4().hex


def observe(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Callable[[], dict]]:
    """``df`` with ``metrics`` (name → aggregate) observed, and a reader
    for them. The metrics ride the first action that executes the
    returned frame; call the reader only after that action has returned,
    and make it one that reads every row (a write, not a ``limit``).

    Adaptive execution replaces a shuffle stage whose output proves
    empty with an empty relation, and an observe node inside that stage
    goes with it: the observation then completes with an empty row, or
    never (``Observation.get`` fails or blocks forever). The reader
    therefore drains the listener bus (observations complete there,
    after the action returns) and, when the node did not report,
    aggregates the same metrics over the returned frame instead: a cache
    scan when the caller persisted it, a re-read otherwise."""
    obs = Observation()
    cols = [c.alias(name) for name, c in metrics.items()]
    out = df.observe(obs, *cols)

    def read() -> dict:
        from py4j.protocol import Py4JError

        try:
            out.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # the bus timed out: the fallback below still answers
            pass
        row = obs._jo.getRowOrEmpty()
        if row.isDefined() and row.get().length() == len(cols):
            return obs.get
        return out.agg(*cols).first().asDict()

    return out, read


def _literal_rows(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """``rows`` as a typed relation built from literals. Nothing runs in
    a Python worker: ``spark.createDataFrame`` over a list parallelizes
    the rows through a Python RDD (4 tasks a flush, the first of them starting
    the worker daemon), while these literals fold into the JVM-side
    plan."""
    return spark.range(1, numPartitions=1).select(F.inline(F.array(*[
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, schema.fields)])
        for row in rows
    ])))


class LogBuffer:
    """Batch execution-log rows into ONE append per pipeline run.

    An append per row pays a full (tiny) Spark write job each — ~0.4 s
    of fixed job latency, ~2.5 s of a 6-model gold pass. Success rows
    buffer driver-side and land in a single append at ``flush()``;
    FAILURE rows flush immediately together with anything
    buffered, so a crash mid-run can lose only success rows whose
    tables are themselves intact and re-derivable — the failure
    diagnosis the log exists for is never deferred."""

    def __init__(self, spark: SparkSession, log_table: str):
        self.spark = spark
        self.log_table = log_table
        self._rows: list[tuple] = []

    def add(
        self,
        layer: str,
        table_name: str,
        execution_id: str,
        status: str,
        record_count: int | None = None,
        message: str | None = None,
    ) -> None:
        self._rows.append(
            (layer, table_name, execution_id,
             dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
             status, record_count, message))
        if status != "success":
            # immediate-flush contract for failure rows — but this add
            # runs INSIDE run_tables' per-table except handler,
            # so a log-sink failure here must not escape the isolation
            # either; the rows stay buffered (see flush) and the layer's
            # finally-flush retries and reports them
            self.flush_safe()

    def flush(self) -> None:
        if not self._rows:
            return
        from spaceparts_data_pipeline_spark.operators.maintenance import safe_save_as_table

        rows, self._rows = self._rows, []
        try:
            safe_save_as_table(
                _literal_rows(self.spark, rows, EXECUTION_LOG_SCHEMA),
                self.log_table, mode="append")
        except BaseException:
            # keep the rows so a later flush (the layer's finally) can
            # retry — a failed log write must not silently drop them
            self._rows = rows + self._rows
            raise

    def flush_safe(self) -> str | None:
        """``flush()`` that cannot abort the pipeline: the batched flush
        runs in :func:`run_tables`' ``finally``, OUTSIDE the per-table
        isolation — an execution-log write failure there must be
        reported in the layer result, not raised, or a log-table
        problem crashes a run whose data tables all succeeded. Returns
        the error string, or None on success."""
        try:
            self.flush()
            return None
        except Exception as exc:  # noqa: BLE001 - log sink must not kill the run
            import logging

            logging.getLogger(__name__).warning(
                "execution-log flush to %s failed: %s", self.log_table, exc)
            return str(exc)[:500]


def run_tables(spark: SparkSession, layer: str, items, step,
               execution_id: str) -> tuple[dict, str | None]:
    """One layer pass under the reference's per-table status rule
    (bronze_processor.py:531-545, Gold_full_load cell 11): ``step(item)``
    runs each item in isolation and returns its result dict. An
    exception becomes a ``failed`` entry whose log row flushes at once
    (the alert chain reads it); a ``success`` result's row batches into
    ONE ``{layer}_execution_log`` append per pass. Other statuses
    (``skipped``) log nothing.

    Returns ``(results, flush_error)``: the final flush runs in
    ``finally`` so a BaseException escaping mid-pass cannot lose the
    buffered rows of tables that did land, and its failure is returned,
    not raised (see :meth:`LogBuffer.flush_safe`)."""
    buf = LogBuffer(spark, f"{layer}_execution_log")
    results: dict = {}
    try:
        for item in items:
            try:
                res = step(item)
            except Exception as exc:  # noqa: BLE001 - per-table isolation
                buf.add(layer, item, execution_id, "failed", None, str(exc)[:500])
                res = {"table": item, "status": "failed", "error": str(exc)}
            else:
                if res.get("status") == "success":
                    buf.add(layer, item, execution_id, "success", res.get("records"))
            results[item] = res
    finally:
        flush_err = buf.flush_safe()
    return results, flush_err


def append_control(
    spark: SparkSession,
    control_table: str,
    table_name: str,
    execution_id: str,
    last_extracted: dt.datetime | None,
    status: str,
    record_count: int | None = None,
) -> None:
    row = [(table_name, execution_id, dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            last_extracted, status, record_count)]
    from spaceparts_data_pipeline_spark.operators.maintenance import safe_save_as_table

    safe_save_as_table(
        _literal_rows(spark, row, CONTROL_SCHEMA), control_table, mode="append")


def last_watermark(spark: SparkSession, control_table: str, table_name: str) -> dt.datetime | None:
    """Latest successful watermark for a table (O2: top-1 by timestamp).
    Returns None on first run (→ full-extract fallback, S10)."""
    if not spark.catalog.tableExists(control_table):
        return None
    rows = (
        spark.table(control_table)
        .filter((F.col("table_name") == table_name) & (F.col("status") == "success"))
        .orderBy(F.desc("execution_timestamp"))
        .select("last_extracted_timestamp")
        .limit(1)
        .collect()
    )
    return rows[0][0] if rows else None


def latest_failures(spark: SparkSession, log_table: str,
                    execution_id: str | None = None) -> DataFrame:
    """Failure-lookup query used by the orchestration alert path
    (ETL_FABRIC.json 'Lookup_Error_*'): TOP-1 failure row by timestamp,
    optionally scoped to one ``execution_id`` (so an old failure can
    never re-alert on a later healthy run)."""
    df = spark.table(log_table).filter(F.col("status") != "success")
    if execution_id is not None:
        df = df.filter(F.col("execution_id") == execution_id)
    return df.orderBy(F.desc("execution_timestamp")).limit(1)
