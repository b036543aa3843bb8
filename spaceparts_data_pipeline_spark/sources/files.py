"""Delimited / JSON-lines file sources with corrupt-record quarantine.

The reference ingests from SQL Server only (SURVEY.md §2.1); a
Spark-first engine meets corpora where they actually land — JSONL is
the lingua franca of training-data drops, CSV of tabular exports. Both
readers here keep Catalyst in charge (plain ``spark.read`` with options,
so column pruning and filter pushdown still apply where the format
supports them) and expose malformed input the same way the silver layer
exposes bad rows: a (clean, corrupt) split, with the raw offending line
preserved for the quarantine side-sink instead of silently dropped
(DROPMALFORMED) or silently nulled (plain PERMISSIVE).

Scale notes: schema inference samples the files with a bounded
``samplingRatio`` — pass an explicit schema in production so a 100 TB
landing directory isn't scanned twice; both readers take directories /
globs and parallelize per file split like any Spark file source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: column capturing the raw text of rows that failed to parse
CORRUPT_COL = "_corrupt_record"


def _with_corrupt_field(schema: T.StructType) -> T.StructType:
    """Schema + the corrupt-record capture column (required by Spark:
    the capture column must be declared in the read schema)."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)])


def _split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(clean, corrupt, parent): corrupt rows are those whose capture
    column is non-null (raw text preserved as ``raw_record``); the clean
    side drops the capture column.

    The parsed frame is persisted MEMORY_AND_DISK and returned as
    ``parent`` — Spark refuses a query referencing ONLY the corrupt
    column of a raw file scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    RECORD_COLUMN; the documented pattern is to materialize first), and
    the cache also means the file parse runs once for both sinks — the
    same two-consumer contract as plans.silver.transform.
    The caller owns ``parent.unpersist()`` after both sides are consumed.
    """
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull()) \
                .select(F.col(CORRUPT_COL).alias("raw_record"))
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return clean, corrupt, df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    sampling_ratio: float = 1.0,
    **options,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """JSON-lines reader → (clean, corrupt, parent) — see
    :func:`_split_corrupt` for the parent/persist contract.

    With no ``schema`` the reader infers one (default: a full pass —
    correct on small drops; at corpus scale pass an explicit schema, or
    at least a small ``sampling_ratio``, so 100 TB isn't parsed twice).
    Malformed lines land on the corrupt side with the raw text
    preserved.
    """
    if schema is None:
        inferred = spark.read.option("samplingRatio", str(sampling_ratio)).json(path).schema
        schema = inferred
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    df = (
        spark.read.schema(_with_corrupt_field(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .options(**options)
        .json(path)
    )
    return _split_corrupt(df)


def _sink_corrupt(
    spark: SparkSession, sink: str, corrupt: DataFrame, landing_file: str, fmt: str
) -> int:
    """Append corrupt raw lines to the landing quarantine table, stamped
    with their file of origin — idempotent on re-ingestion of the same
    file (anti-join on (raw_record, landing_file), mirroring the silver
    quarantine's exactly-once contract at landing granularity). Returns
    the number of NEW lines appended by this call (a re-ingested file
    whose lines are all already quarantined reports 0, not the sink's
    cumulative total). The append rides
    :func:`~spaceparts_data_pipeline_spark.operators.maintenance.
    safe_save_as_table` so a crash orphan on the quarantine sink's
    first-ever create can't wedge every later pipeline run."""
    from spaceparts_data_pipeline_spark.operators.maintenance import safe_save_as_table

    out = (
        corrupt.withColumn("landing_file", F.lit(landing_file))
        .withColumn("source_format", F.lit(fmt))
    )
    if spark.catalog.tableExists(sink):
        seen = spark.table(sink).select("raw_record", "landing_file")
        out = out.join(seen, ["raw_record", "landing_file"], "left_anti")
    out = out.withColumn("quarantine_date", F.current_timestamp())
    n = out.count()
    if n == 0:
        return 0
    safe_save_as_table(out, sink, mode="append")
    return n


def load_landing_dir(
    spark: SparkSession,
    source_dir: str,
    quarantine_prefix: str = "landing_quarantine_",
    schemas: dict[str, T.StructType | str] | None = None,
) -> tuple[dict[str, DataFrame], dict[str, int], list[DataFrame]]:
    """Discover every ``<table>.parquet`` / ``.jsonl`` / ``.json`` /
    ``.csv`` in a landing directory and return
    ``(sources, quarantined_counts, parents)``:

    - ``sources``: table → clean DataFrame, ready for the bronze layer.
      Parquet loads directly (its schema is self-describing); JSONL/CSV
      go through the corrupt-capture readers, and malformed lines land
      in ``{quarantine_prefix}{table}`` instead of poisoning bronze.
    - ``quarantined_counts``: table → corrupt-line count sunk this call.
    - ``parents``: persisted parse parents — the caller unpersists them
      after the bronze layer has consumed the clean sides (the same
      owner contract as :func:`_split_corrupt`).

    ``schemas`` pins per-table read schemas (production: always — a
    100 TB landing dir must not be inference-scanned twice).
    """
    import glob
    import os

    sources: dict[str, DataFrame] = {}
    quarantined: dict[str, int] = {}
    parents: list[DataFrame] = []
    for path in sorted(glob.glob(os.path.join(source_dir, "*"))):
        name, ext = os.path.splitext(os.path.basename(path))
        ext = ext.lower()
        schema = (schemas or {}).get(name)
        if ext == ".parquet":
            sources[name] = spark.read.parquet(path)
        elif ext in (".jsonl", ".json"):
            clean, corrupt, parent = read_jsonl(spark, path, schema=schema)
            n = _sink_corrupt(spark, quarantine_prefix + name, corrupt, path, "jsonl")
            if n:
                quarantined[name] = n
            sources[name] = clean
            parents.append(parent)
        elif ext == ".csv":
            clean, corrupt, parent = read_csv(spark, path, schema=schema)
            n = _sink_corrupt(spark, quarantine_prefix + name, corrupt, path, "csv")
            if n:
                quarantined[name] = n
            sources[name] = clean
            parents.append(parent)
    return sources, quarantined, parents


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    delimiter: str = ",",
    sampling_ratio: float = 1.0,
    **options,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """CSV reader → (clean, corrupt, parent); same contract as :func:`read_jsonl`."""
    base_opts = {"header": str(header).lower(), "sep": delimiter}
    if schema is None:
        inferred = (
            spark.read.options(inferSchema="true", samplingRatio=str(sampling_ratio), **base_opts)
            .csv(path)
            .schema
        )
        schema = inferred
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    df = (
        spark.read.schema(_with_corrupt_field(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .options(**base_opts)
        .options(**options)
        .csv(path)
    )
    return _split_corrupt(df)
