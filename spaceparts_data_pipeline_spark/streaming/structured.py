"""Structured Streaming re-expression of the incremental layer
(SURVEY.md §2.11 notes this is optional for parity; we provide it as
the engine's native streaming path for event-style sources).

- ``stream_events``: file-source stream over a directory of parquet.
- ``windowed_counts``: event-time windowed aggregation with a real
  ``withWatermark`` (the principled replacement for the reference's
  fixed 1-hour overlap: late rows beyond the watermark are dropped
  instead of double-processed).
- ``stream_upsert``: foreachBatch MERGE into a target table — the
  streaming twin of the gold K3 upsert; each micro-batch runs the same
  null-safe anti-join+union merge.

All tested with ``availableNow`` triggers (bounded drain) so the same
code serves batch backfill and continuous ingest — Spark's unified
model.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spaceparts_data_pipeline_spark.operators.merge import merge_into_table


def stream_events(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """File-source stream over a directory of parquet.

    NOTE: with no rate limit configured, the file source drains ALL
    available files in ONE micro-batch (availableNow included) — callers
    that want per-file batch granularity must set
    ``.option("maxFilesPerTrigger", 1)`` on their own reader (the way
    the ingest tests do); this helper deliberately leaves the trigger
    rate unconfigured."""
    return spark.readStream.schema(schema).parquet(path)


def _run_tag(spark: SparkSession, checkpoint_dir: str) -> str:
    """Partition scope for this checkpoint INSTANCE — the batch-id
    scope: derived from the streaming query id in
    ``{checkpoint}/metadata``, which Spark writes at query start, keeps
    STABLE across restarts of the same checkpoint, and REGENERATES when
    the checkpoint is wiped. A tag derived from the checkpoint PATH
    collides when a wiped path is reused: batch ids restart at 0 under
    the same tag, so the new deployment's batch-0 dynamic overwrite
    would delete the prior deployment's batch-0 documents (r16 review).
    Falls back to the path hash when the metadata file is unreadable
    (called before query start, exotic FS).

    "r" prefix: a digits-only md5 prefix would make Spark's
    partition-column type inference read ``ingest_run`` back as BIGINT
    for a reader of the whole corpus, whose filters would then compare
    tags as numbers. A leading letter pins the inferred type to STRING
    for every corpus this writes."""
    import hashlib
    import json

    try:
        line = spark.read.text(os.path.join(checkpoint_dir, "metadata")).head()
        qid = json.loads(line[0])["id"]
        return "r" + hashlib.md5(str(qid).encode()).hexdigest()[:11]
    except Exception:
        return "r" + hashlib.md5(
            os.path.abspath(checkpoint_dir).encode()).hexdigest()[:11]


def _ingest_query(spark: SparkSession, stream: DataFrame, checkpoint_dir: str,
                  run_tag: str | None, body):
    """Start the availableNow foreachBatch query of a corpus ingest:
    each micro-batch is persisted for the duration of
    ``body(batch_df, batch_id, run_tag)``. A None ``run_tag`` resolves
    lazily INSIDE the first batch: the checkpoint metadata (the query
    id the tag derives from) exists by the time the first batch runs,
    not necessarily when the query is built."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal run_tag
        if run_tag is None:
            run_tag = _run_tag(spark, checkpoint_dir)
        batch_df = batch_df.persist()
        try:
            body(batch_df, batch_id, run_tag)
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time windowed counts with late-data watermarking."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col, "n", "total_value",
        )
    )


def session_window_agg(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows (gap-based) — the streaming twin of the
    batch sessionization query (x01_event_sessions)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col(key_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events", "total_value",
        )
    )


def stream_dedup(stream: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps each key's state only until the
    watermark passes — the streaming W1 with O(window) memory."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def running_user_totals(
    stream: DataFrame,
    checkpoint_dir: str,
    queryName: str = "user_totals",
):
    """Custom stateful operator via applyInPandasWithState: a running
    per-user (event_count, value_sum) that survives across micro-batches.
    This is the escape hatch for stateful logic the built-in windowed
    operators can't express; state is per-key, Arrow-batched."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id bigint, event_count bigint, value_sum double"
    state_schema = "event_count bigint, value_sum double"

    def update(key, pdfs, state: GroupState):
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((count, total))
        yield pd.DataFrame({"user_id": [key[0]], "event_count": [count], "value_sum": [total]})

    out = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    return (
        out.writeStream.format("memory").queryName(queryName)
        .outputMode("update").trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir).start()
    )


def stream_upsert(
    spark: SparkSession,
    stream: DataFrame,
    target_table: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
    partition_col: str | None = None,
):
    """writeStream.foreachBatch MERGE: each micro-batch upserts into
    ``target_table`` with the engine's keyed merge (dedup-latest source,
    null-safe match). When the target is partitioned on ``partition_col``
    (a function of the keys), each micro-batch rewrites only the touched
    partitions — O(batch), not O(table), per trigger. The first batch
    creates the target, partitioned on ``partition_col`` and one row per
    key (``merge_into_table``). Returns the StreamingQuery
    (availableNow)."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_into_table(spark, target_table, batch_df, keys,
                         partition_col=partition_col, order_col=order_col)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_dedup(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    corpus_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_tag: str | None = None,
    band_store_path: str | None = None,
    num_perm: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
):
    """Continuous corpus ingestion with cross-run dedup — the streaming
    twin of ``operators.dedup.incremental_dedup``: each micro-batch is
    screened against the fingerprint store of everything ever admitted
    (any prior run OR prior micro-batch), survivors' payloads land in
    the corpus, and their fingerprints extend the store.

    Exactly-once without a transactional sink: each micro-batch's
    survivors land through :func:`operators.dedup.land_partition` into
    the corpus partition (``ingest_run``, ``ingest_batch_id``), and the
    store appends derive from the rows it returns. ``ingest_run`` scopes
    the partition to THIS deployment: batch ids restart at 0 whenever a
    job starts with a fresh checkpoint, so without the run scope a
    redeployment's batch 0 would overwrite the prior deployment's
    batch-0 documents (whose fingerprints stay in the store — permanent
    loss). ``run_tag`` defaults to a hash of the streaming query id in
    the checkpoint's metadata (stable across restarts, regenerated on
    checkpoint wipe — see :func:`_run_tag`).

    The batch is persisted across the two writes: fingerprints shuffle;
    raw text goes scan→corpus without entering any exchange.

    ``band_store_path`` adds the cross-run NEAR-dup screen after the
    exact one — the streaming twin of the batch funnel's LSH stage
    (``dedup_fuzzy.incremental_near_dedup``): each micro-batch is
    within-batch LSH-deduplicated, then screened against the MinHash
    band store of everything ever admitted; survivors' bands extend
    the band store FROM THE DURABLE CORPUS, after the fingerprint
    append, so every crash window replays to the same decisions (band
    appends are idempotent under the DISTINCT band screen exactly as
    fingerprint appends are under theirs)."""
    from spaceparts_data_pipeline_spark.operators import dedup, dedup_fuzzy

    def body(batch_df: DataFrame, batch_id: int, run_tag: str) -> None:
        # read_store raises on any failure other than "never created" —
        # a transient read fault must NOT silently screen against an
        # empty store.
        store = dedup.read_store(spark, store_path)
        survivors = dedup.incremental_dedup(
            batch_df, store, id_col=id_col, text_col=text_col
        )
        # inner join keeps the fingerprint column IN the payload —
        # the durable corpus is what the fp-store append reads
        admitted = survivors.join(batch_df, id_col)
        if band_store_path is not None:
            band_store = dedup.read_store(spark, band_store_path)
            admitted, _ = dedup_fuzzy.incremental_near_dedup(
                admitted, band_store, id_col=id_col, text_col=text_col,
                num_perm=num_perm, rows_per_band=rows_per_band,
                threshold=threshold,
            )
        durable = dedup.land_partition(
            admitted, corpus_path,
            {"ingest_run": run_tag, "ingest_batch_id": batch_id}, id_col)
        if durable is None:
            return
        dedup.update_fingerprint_store(spark, durable, store_path)
        if band_store_path is not None:
            dedup_fuzzy.band_table(
                durable, id_col=id_col, text_col=text_col,
                num_perm=num_perm, rows_per_band=rows_per_band,
            ).write.mode("append").parquet(band_store_path)

    return _ingest_query(spark, stream, checkpoint_dir, run_tag, body)


def stream_ingest_semdedup(
    spark: SparkSession,
    stream: DataFrame,
    sem_store_path: str,
    corpus_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    run_tag: str | None = None,
    dim: int = 64,
    n_planes: int = 4,
    n_bands: int = 16,
    threshold: float = 0.35,
    seed: int = 12,
):
    """Continuous EMBEDDING ingestion with cross-run semantic dedup —
    the streaming member of the semantic-screen family, completing the
    symmetry the text screens already have (exact: d15 batch / s04
    stream; MinHash: d16 / s05; semantic: d26 / THIS): each
    micro-batch is within-batch semantically deduplicated
    (deterministic-LSH candidates, exact-cosine-verified min-id
    decision) and screened against the vector store of everything any
    prior run or micro-batch admitted; survivors land in the corpus
    and their ``(id, vector, sigs)`` rows extend the store.

    Exactly-once by the s04 construction: the corpus partition
    (ingest_run, ingest_batch_id) lands through
    :func:`operators.dedup.land_partition` and the store rows derive
    from the rows it returns; store appends are idempotent under the
    existence screen (duplicate store rows change no decision —
    :func:`operators.similarity.incremental_semdedup`'s contract).
    ``run_tag`` defaults to the checkpoint-instance scope of
    :func:`_run_tag`.
    """
    from spaceparts_data_pipeline_spark.operators import dedup, similarity

    def body(batch_df: DataFrame, batch_id: int, run_tag: str) -> None:
        store = dedup.read_store(spark, sem_store_path)
        admitted, _ = similarity.incremental_semdedup(
            batch_df, store, id_col=id_col, vec_col=vec_col, dim=dim,
            n_planes=n_planes, n_bands=n_bands, threshold=threshold,
            seed=seed)
        durable = dedup.land_partition(
            admitted, corpus_path,
            {"ingest_run": run_tag, "ingest_batch_id": batch_id}, id_col)
        if durable is None:
            return
        similarity.det_lsh_signatures(
            durable, id_col=id_col, vec_col=vec_col, dim=dim,
            n_planes=n_planes, n_bands=n_bands, seed=seed,
        ).write.mode("append").parquet(sem_store_path)

    return _ingest_query(spark, stream, checkpoint_dir, run_tag, body)
