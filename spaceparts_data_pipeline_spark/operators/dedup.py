"""Keep-latest deduplication (SURVEY.md §2.6 W1/W2).

Window-based dedup: ``row_number() OVER (PARTITION BY <keys> ORDER BY
<order_col> DESC)``, keep rn=1. Key inference mirrors the reference
(Silver_full_load.ipynb:1 cell 8 `remove_duplicates`):

- *fact* tables: partition by inferred business-key columns (names
  containing ``_number`` / ``_key`` / equal to ``customer_key`` /
  ``product_key``);
- *dim* tables (no such columns): partition by ALL columns except the
  ordering/metadata columns — i.e. exact-duplicate removal keeping the
  latest metadata.

Scale note: this is one hash-shuffle on the partition keys. At 100 TB
the shuffle is unavoidable for a global dedup; AQE handles skewed key
groups. For repeated runs over the same table, write the output
bucketed by the same keys so downstream joins/dedups reuse the layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: metadata columns never used as dedup keys (p_bucket/p_month are the
#: engine's derived partition columns — layout, not identity)
META_COLUMNS = {"dwcreateddate", "load_date", "source_system", "silver_created_date",
                "silver_execution_id", "gold_created_date", "gold_execution_id",
                "p_bucket", "p_month"}

KEY_PATTERNS = ("_number", "_key")


def infer_keys(columns: list[str], order_col: str) -> list[str]:
    """Infer dedup partition keys per the reference's name-pattern rule."""
    keyish = [c for c in columns if any(p in c.lower() for p in KEY_PATTERNS)]
    if keyish:
        return keyish
    return [c for c in columns if c != order_col and c.lower() not in META_COLUMNS]


def dedup_latest(
    df: DataFrame,
    order_col: str = "dwcreateddate",
    keys: list[str] | None = None,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Keep the latest row per key group by ``order_col`` (descending).

    ``tie_breakers``: extra descending order columns for deterministic
    results when ``order_col`` ties (the reference leaves ties to chance;
    we allow pinning them for reproducible tests).
    """
    keys = keys or infer_keys(df.columns, order_col)
    order = [F.col(order_col).desc()] + [F.col(t).desc() for t in (tie_breakers or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal (hash-based distinct) over ``subset`` or all
    columns. For full-row distinct this is ``df.distinct()`` — a map-side
    combinable aggregation, cheaper than a window."""
    if subset is None:
        return df.distinct()
    return df.dropDuplicates(subset)


# -- cross-run incremental dedup --------------------------------------------

def incremental_dedup(
    batch: DataFrame,
    store: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Deduplicate a NEW batch against everything already ingested: the
    production shape of corpus ingestion, where each run sees only a
    delta but must never re-admit a document any prior run kept.

    Two steps, both on 16-byte md5 fingerprints (the raw text never
    enters a shuffle):

    1. within-batch canonicalization — keep min(id) per fingerprint
       (map-side-combinable groupBy, same guarantee as ``d01``);
    2. cross-run screen — left-anti join against the fingerprint store.

    The store side carries ONLY fingerprints: at 100 TB of corpus the
    store is ~16 B/doc, so it broadcasts while small and degrades to a
    shuffled-hash anti join (on already-tiny keys) when it outgrows the
    broadcast threshold — Spark/AQE picks per run; no plan change needed.

    Returns surviving (id, fingerprint) pairs; join back on id for the
    payload (ids-only pattern, as in ``dedup_fuzzy.canonical_corpus``).

    NULL text is never admissible: md5(NULL) is NULL, which an equi
    anti join can never screen (NULL = NULL is not true), so a
    null-text row would be re-admitted every single run — filter it
    here, once, for every caller.
    """
    fps = batch.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.md5(text_col).alias(fp_col)
    ).groupBy(fp_col).agg(F.min(id_col).alias(id_col))
    if store is not None:
        fps = fps.join(
            store.select(F.col(fp_col)).distinct(), on=fp_col, how="left_anti"
        )
    return fps.select(id_col, fp_col)


def update_fingerprint_store(
    spark,
    survivors: DataFrame,
    store_path: str,
    fp_col: str = "fingerprint",
) -> None:
    """Append the survivors' fingerprints to the parquet store.

    Append-only is sufficient for exactness: ``incremental_dedup``
    screens with an anti join over DISTINCT store fingerprints, so a
    fingerprint appearing twice (e.g. a retried run that appended before
    failing) changes nothing — re-running the same batch is idempotent
    by construction (its fingerprints are all in the store, so zero
    survivors, so zero new appends). No MERGE on the hot path. The batch
    funnel bounds file count growth with :func:`maybe_compact_store`;
    the streaming ingests do not compact, so their stores grow a file
    set per micro-batch.
    """
    survivors.select(fp_col).write.mode("append").parquet(store_path)


def read_store(spark, store_path: str) -> DataFrame | None:
    """Read a screen store, distinguishing 'never created' (→ None, the
    only state that legitimately means an empty screen) from any other
    read failure (→ raised). A bare try/except around the read is the
    bug this exists to prevent: a transient FS fault or corrupt footer
    would silently read as 'empty store' and re-admit every duplicate.

    'Never created' means no committed data file, not a missing
    directory: a first append killed mid-commit leaves only its
    ``_temporary`` tree, which would otherwise fail every later read
    with ``UNABLE_TO_INFER_SCHEMA``. A failed listing still raises."""
    if not has_data_files(spark, store_path):
        return None
    return spark.read.parquet(store_path)


def _hadoop_fs(spark, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jvm


def _data_files(spark, path: str):
    """Yield the Hadoop paths of the data files under ``path``
    (recursive, so partitioned layouts yield their leaf files). A file
    is metadata, not data, when any component of its path below
    ``path`` starts with ``_`` or ``.`` — the ``_SUCCESS`` / ``.crc``
    markers and a killed job's ``_temporary`` tree, which Spark's own
    readers skip as well."""
    fs, jvm = _hadoop_fs(spark, path)
    root = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(root):
        return
    prefix = fs.makeQualified(root).toString().rstrip("/") + "/"
    it = fs.listFiles(root, True)
    while it.hasNext():
        p = it.next().getPath()
        rel = p.toString()[len(prefix):]
        if not any(part.startswith(("_", ".")) for part in rel.split("/")):
            yield p


def has_data_files(spark, path: str) -> bool:
    """True iff ``path`` exists AND holds at least one data file.

    ``fs.exists`` alone cannot stand in for "data was ever written": an
    empty dynamic-partition overwrite still creates the directory (plus
    a ``_SUCCESS`` marker), and reading that empty-but-created dir
    raises ``UNABLE_TO_INFER_SCHEMA`` — so a first-ever run that admits
    zero rows would crash any caller that gated a read on ``exists``.
    """
    return next(_data_files(spark, path), None) is not None


def data_file_count(spark, path: str) -> int:
    """Number of data files under ``path`` — the growth signal
    append-only stores are compacted on: every ingest run appends a few
    files, so count grows linearly with runs regardless of row volume."""
    return sum(1 for _ in _data_files(spark, path))


def land_partition(payload: DataFrame, root: str, part: dict,
                   id_col: str) -> DataFrame | None:
    """Land ``payload`` as the partition ``part`` (partition column →
    value) of the parquet dataset at ``root`` and return the rows the
    partition durably holds, or None when it holds none. This is the
    exactly-once corpus commit of the batch funnel and both streaming
    ingests; their screen-store appends run after it and derive from
    the returned rows.

    - Dynamic partition overwrite: a replayed run or micro-batch
      rewrites its own partition instead of appending twice, and an
      empty payload touches no partition. The mode is a per-write
      option, not a session conf: foreachBatch runs under a cloned
      session with isolated conf, where an outer-session conf would
      silently not apply.
    - Replay union: when the partition already holds data, its rows are
      unioned back in before the rewrite. A store append killed
      mid-commit leaves some of the run's store rows visible, so the
      replay's screen rejects those docs, and a bare rewrite would
      delete durable rows whose store rows remain: permanent loss. The
      rows are deterministic re-derivations of the same docs, so the
      id-keyed dropDuplicates keeps identical content either way. The
      probe is a filesystem listing; the read runs only on a replay.
    - Store appends derive from the returned rows, so a replay whose
      screens already reject every doc still completes an append that
      died last time (duplicate store rows change no decision).

    The partition is addressed by its directory, named with Spark's own
    path escaping, and read back from that directory: no partition-type
    inference, so run ids ``7`` and ``007`` stay two partitions. The
    returned rows carry the payload's columns, not the partition
    columns.
    """
    spark = payload.sparkSession
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    part_dir = os.path.join(root, *(f"{escape(c)}={escape(str(v))}" for c, v in part.items()))
    if has_data_files(spark, part_dir):
        durable = spark.read.parquet(part_dir).select(
            *(F.col(f.name).cast(f.dataType).alias(f.name) for f in payload.schema.fields))
        # materialize BEFORE the overwrite: the union reads the very
        # files the commit will replace — localCheckpoint finishes the
        # read and cuts the lineage to a leaf first
        payload = payload.unionByName(durable).dropDuplicates([id_col]).localCheckpoint()
    for c, v in part.items():
        payload = payload.withColumn(c, F.lit(v))
    payload.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        *part).parquet(root)
    return spark.read.parquet(part_dir) if has_data_files(spark, part_dir) else None


def compact_store(spark, store_path: str) -> dict:
    """Distinct-rewrite of an append-only screen store (the md5
    fingerprint store of :func:`incremental_dedup`, the MinHash band
    store of ``dedup_fuzzy.incremental_near_dedup``, the vector store of
    ``similarity.incremental_semdedup``) IN PLACE: list the store's data
    files F, append ``distinct(read F)`` into the same directory, then
    delete F. Every ingest run appends a few files, so without this
    file count and duplicate rows grow without bound.

    No rename and no second directory: the screens are existence tests
    over DISTINCT rows, so every crash point leaves a superset of the
    store with the same distinct set — the distinct rows landed in full,
    in part or not at all, and all of F, part of F or none of it still
    present. A crashed compaction therefore changes no decision, and
    the next one folds its leftovers in. Single-writer by contract (the
    ingest job compacts between its own runs).
    """
    fs, _ = _hadoop_fs(spark, store_path)
    files = list(_data_files(spark, store_path))
    before = spark.read.parquet(*(p.toString() for p in files))
    n_before = before.count()
    # distinct's shuffle output is AQE-coalesced, so the rewrite lands
    # in few well-sized files without any .rdd partition probe
    before.distinct().write.mode("append").parquet(store_path)
    for p in files:
        fs.delete(p, False)
    return {"rows_before": n_before,
            "rows_after": spark.read.parquet(store_path).count()}


def maybe_compact_store(spark, store_path: str, max_files: int) -> dict | None:
    """Compact ``store_path`` iff its data-file count exceeds
    ``max_files``; returns :func:`compact_store`'s stats when it ran,
    None otherwise. This is the lifecycle hook the ingest funnel calls
    after its store appends (the reference runs its table maintenance
    on every load — Silver_full_load.ipynb:1 cell 16 OPTIMIZE; we gate
    on file count so steady-state runs pay one cheap listing, not a
    full rewrite). Exactness-preserving at any moment, crashes included:
    the screens read DISTINCT rows."""
    if data_file_count(spark, store_path) <= max_files:
        return None
    return compact_store(spark, store_path)
