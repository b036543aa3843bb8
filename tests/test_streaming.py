"""Structured Streaming tests: file-source windowed aggregation with
watermark, and foreachBatch MERGE upsert — drained with availableNow."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from spaceparts_data_pipeline_spark.streaming import structured

#: soak tier (r16 verdict #2): excluded from the default
#: driver-facing run (see pytest.ini); run with -m soak / -m ""
pytestmark = pytest.mark.soak

SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    t = dt.datetime(2024, 1, 1, 10, 15)
    _write_batch(spark, src, [
        (1, t, "click", 1.0),
        (2, t + dt.timedelta(minutes=10), "click", 2.0),
        (3, t + dt.timedelta(hours=2), "view", 3.0),
    ])
    stream = structured.stream_events(spark, src, SCHEMA)
    assert stream.isStreaming
    agg = structured.windowed_counts(stream, window="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("win_counts")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt1")).start()
    )
    q.awaitTermination(120)
    out = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in spark.table("win_counts").collect()}
    # the 10:00 click window is closed by the watermark advancing past 11:00
    assert out[(dt.datetime(2024, 1, 1, 10, 0), "click")] == (2, 3.0)


def test_stream_upsert_foreachbatch(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS stream_db")
    spark.catalog.setCurrentDatabase("stream_db")
    try:
        src = str(tmp_path / "upsert_src")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        _write_batch(spark, src, [(1, t0, "click", 1.0), (2, t0, "view", 2.0)])
        stream = structured.stream_events(spark, src, SCHEMA)
        q = structured.stream_upsert(spark, stream, "events_current", ["event_id"], "ts",
                                     str(tmp_path / "ckpt2"))
        q.awaitTermination(120)
        assert {r["event_id"]: r["value"] for r in spark.table("events_current").collect()} \
            == {1: 1.0, 2: 2.0}
        # second micro-batch: update event 1, insert event 3
        _write_batch(spark, src, [(1, t1, "click", 9.0), (3, t0, "buy", 3.0)])
        stream2 = structured.stream_events(spark, src, SCHEMA)
        q2 = structured.stream_upsert(spark, stream2, "events_current", ["event_id"], "ts",
                                      str(tmp_path / "ckpt2"))
        q2.awaitTermination(120)
        out = {r["event_id"]: r["value"] for r in spark.table("events_current").collect()}
        assert out == {1: 9.0, 2: 2.0, 3: 3.0}
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP DATABASE stream_db CASCADE")


def test_stream_upsert_partitioned_target(spark, tmp_path):
    """With a key-derived partition column, each micro-batch merge must
    rewrite only the touched partitions of the target."""
    import os

    from pyspark.sql import functions as F

    spark.sql("CREATE DATABASE IF NOT EXISTS stream_db2")
    spark.catalog.setCurrentDatabase("stream_db2")
    try:
        src = str(tmp_path / "upsert_psrc")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        # pre-create the partitioned target: p_bucket = event_id % 2
        base = spark.createDataFrame(
            [(10, t0, "seed", 0.5), (11, t0, "seed", 0.7)], SCHEMA
        ).withColumn("p_bucket", F.pmod("event_id", F.lit(2)))
        base.write.mode("overwrite").partitionBy("p_bucket").saveAsTable("events_part")
        loc = [r.data_type for r in spark.sql("DESCRIBE FORMATTED events_part").collect()
               if r.col_name.strip() == "Location"][0].replace("file:", "")

        def files(part):
            out = {}
            for root, _d, fs in os.walk(os.path.join(loc, f"p_bucket={part}")):
                out.update({os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
                            for f in fs if f.endswith(".parquet")})
            return out

        odd_before = files(1)
        _write_batch(spark, src, [(10, t1, "update", 9.0), (12, t0, "new", 3.0)])  # both even
        stream = structured.stream_events(spark, src, SCHEMA) \
            .withColumn("p_bucket", F.pmod("event_id", F.lit(2)))
        q = structured.stream_upsert(spark, stream, "events_part", ["event_id"], "ts",
                                     str(tmp_path / "ckpt_p"), partition_col="p_bucket")
        q.awaitTermination(120)
        out = {r["event_id"]: r["value"] for r in spark.table("events_part").collect()}
        assert out == {10: 9.0, 11: 0.7, 12: 3.0}
        assert files(1) == odd_before          # odd bucket untouched on disk
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP DATABASE stream_db2 CASCADE")


def test_stream_upsert_creates_partitioned_target(spark, tmp_path):
    """Regression (round-2 advice): when the stream itself creates the
    target and partition_col is set, the first batch must create it
    PHYSICALLY partitioned — otherwise every later batch silently falls
    back to the O(table) full-rewrite path."""
    from pyspark.sql import functions as F

    from spaceparts_data_pipeline_spark.operators.maintenance import resolve_physical
    from spaceparts_data_pipeline_spark.operators.merge import physical_partition_cols

    spark.sql("CREATE DATABASE IF NOT EXISTS stream_db3")
    spark.catalog.setCurrentDatabase("stream_db3")
    try:
        src = str(tmp_path / "upsert_csrc")
        t0 = dt.datetime(2024, 1, 1)
        _write_batch(spark, src, [(1, t0, "click", 1.0), (2, t0, "view", 2.0)])
        stream = structured.stream_events(spark, src, SCHEMA) \
            .withColumn("p_bucket", F.pmod("event_id", F.lit(2)))
        q = structured.stream_upsert(spark, stream, "events_cnew", ["event_id"], "ts",
                                     str(tmp_path / "ckpt_c"), partition_col="p_bucket")
        q.awaitTermination(120)
        # the target is a version view; the partitioning is the physical version's
        phys = resolve_physical(spark, "events_cnew")
        assert phys == "events_cnew__v1"
        assert physical_partition_cols(spark, phys) == ["p_bucket"]
        assert spark.table("events_cnew").count() == 2
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP DATABASE stream_db3 CASCADE")


def test_session_window_agg(spark, tmp_path):
    src = str(tmp_path / "sess_src")
    t = dt.datetime(2024, 1, 1, 10, 0)
    _write_batch(spark, src, [
        (1, t, "click", 1.0),
        (2, t + dt.timedelta(minutes=10), "click", 2.0),       # same session (gap 10m < 30m)
        (3, t + dt.timedelta(hours=3), "view", 3.0),           # new session
        (4, t + dt.timedelta(hours=6), "probe", 0.0),          # advances watermark, closes the above
    ])
    # schema has no user_id; reuse event_type as the session key column
    stream = structured.stream_events(spark, src, SCHEMA)
    agg = structured.session_window_agg(stream, key_col="event_type", gap="30 minutes")
    q = (
        agg.writeStream.format("memory").queryName("sessions")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess")).start()
    )
    q.awaitTermination(120)
    rows = {(r["event_type"], r["session_start"]): r["n_events"] for r in spark.table("sessions").collect()}
    assert rows[("click", t)] == 2
    assert rows[("view", t + dt.timedelta(hours=3))] == 1


def test_stream_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "dedup_src")
    t = dt.datetime(2024, 1, 1, 10, 0)
    _write_batch(spark, src, [
        (1, t, "click", 1.0),
        (1, t + dt.timedelta(minutes=1), "click", 1.0),  # duplicate event_id within watermark
        (2, t, "view", 2.0),
    ])
    stream = structured.stream_events(spark, src, SCHEMA)
    deduped = structured.stream_dedup(stream, ["event_id"])
    q = (
        deduped.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dd")).start()
    )
    q.awaitTermination(120)
    ids = sorted(r["event_id"] for r in spark.table("dedup_stream").collect())
    assert ids == [1, 2]


def test_applyinpandas_with_state(spark, tmp_path):
    src = str(tmp_path / "state_src")
    t = dt.datetime(2024, 1, 1, 10, 0)
    user_schema = StructType([
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])
    # two files -> two micro-batches (maxFilesPerTrigger=1); state must
    # carry user 7's totals across the batch boundary
    spark.createDataFrame([(7, t, 1.5), (7, t, 2.5), (8, t, 4.0)], user_schema) \
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(7, t + dt.timedelta(minutes=1), 6.0)], user_schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(user_schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = structured.running_user_totals(stream, str(tmp_path / "ckpt_state"), queryName="totals1")
    q.awaitTermination(120)
    rows = spark.table("totals1").collect()
    latest = {}
    for r in rows:  # update-mode memory sink appends every update; keep the max count per user
        cur = latest.get(r["user_id"])
        if cur is None or r["event_count"] > cur[0]:
            latest[r["user_id"]] = (r["event_count"], r["value_sum"])
    assert latest[8] == (1, 4.0)
    assert latest[7] == (3, 10.0)  # 2 events in batch 1 + 1 in batch 2, state accumulated


def test_stream_ingest_dedup_multibatch_and_replay(spark, tmp_path):
    """Cross-run dedup through foreachBatch: two parquet drops streamed
    one file per trigger — batch 2's duplicates of batch 1 are screened
    by the store batch 1 just extended; a later re-run over the same
    source (fresh checkpoint, store retained) admits nothing; and the
    corpus partition layout is batch-id-scoped for replay idempotence."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "store")
    corpus = str(tmp_path / "corpus")
    docs = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "beta")], docs
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma")], docs
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = structured.stream_ingest_dedup(
        spark, stream, store, corpus, checkpoint_dir=str(tmp_path / "ck1")
    )
    q.awaitTermination(120)

    admitted = spark.read.parquet(corpus)
    by_text = {r["text"]: r["doc_id"] for r in admitted.collect()}
    # within-batch dups canonicalize to min id; cross-batch dup screened
    assert by_text in ({"alpha": 1, "beta": 2, "gamma": 11},)
    assert admitted.count() == 3
    # corpus is partitioned by the micro-batch that admitted each doc
    assert {r["ingest_batch_id"] for r in admitted.collect()} == {0, 1}

    # a full re-run over the same source (new checkpoint — e.g. a
    # redeployed job) admits nothing: the store remembers everything
    q2 = structured.stream_ingest_dedup(
        spark, stream, store, corpus, checkpoint_dir=str(tmp_path / "ck2")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(corpus).count() == 3
    # store appends stayed idempotent: distinct fps == corpus rows
    assert spark.read.parquet(store).select("fingerprint").distinct().count() == 3

    # REDEPLOYMENT with a fresh checkpoint AND a genuinely new doc: its
    # batch ids restart at 0 — the run-scoped partitioning must admit
    # the new doc without overwriting deployment 1's batch-0 documents
    # (regression: corpus partitioned on batch id alone lost them here)
    spark.createDataFrame([(20, "delta"), (21, None)], docs) \
        .coalesce(1).write.mode("append").parquet(src)
    q3 = structured.stream_ingest_dedup(
        spark, stream, store, corpus, checkpoint_dir=str(tmp_path / "ck3")
    )
    q3.awaitTermination(120)
    final = {r["text"]: r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert final == {"alpha": 1, "beta": 2, "gamma": 11, "delta": 20}
    # the null-text row was not admitted (md5(NULL) can never be screened)
    assert None not in final


def test_stream_ingest_all_screened_first_batch(spark, tmp_path):
    """ADVICE r06 (medium), streaming twin: the FIRST micro-batch is
    entirely screened by a pre-seeded store while the corpus path is
    fresh — the empty dynamic overwrite still creates the corpus dir,
    and the old bare fs.exists guard then failed the query inside
    foreachBatch with UNABLE_TO_INFER_SCHEMA. Must drain cleanly, and a
    later genuinely-new doc must still be admitted."""
    import pyspark.sql.functions as F

    from spaceparts_data_pipeline_spark.operators import dedup

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "store")
    corpus = str(tmp_path / "corpus")
    docs = "doc_id long, text string"
    spark.createDataFrame([(1, "alpha")], docs).coalesce(1).write.parquet(src)
    # store already knows 'alpha' (a prior deployment admitted it)
    spark.createDataFrame([("alpha",)], "text string") \
        .select(F.md5("text").alias("fingerprint")).write.parquet(store)

    stream = spark.readStream.schema(docs).parquet(src)
    q = structured.stream_ingest_dedup(
        spark, stream, store, corpus, checkpoint_dir=str(tmp_path / "ck1"))
    q.awaitTermination(120)  # raises StreamingQueryException on batch failure
    assert not dedup.has_data_files(spark, corpus)

    spark.createDataFrame([(2, "beta")], docs).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = structured.stream_ingest_dedup(
        spark, stream, store, corpus, checkpoint_dir=str(tmp_path / "ck1"))
    q2.awaitTermination(120)
    assert {r["text"] for r in spark.read.parquet(corpus).collect()} == {"beta"}


def test_stream_ingest_near_dedup_multibatch_and_replay(spark, tmp_path):
    """s05's guarantees (rows-only driver check → pinned here): the
    band-store screen drops cross-micro-batch NEAR-dups (which the
    md5 fingerprint store cannot see), exact dups stay screened, and
    a redeploy-replay over the same source with both stores retained
    admits nothing."""
    import pyspark.sql.functions as F

    LONG = ("the quick brown fox jumps over the lazy dog near the river bank "
            "today while careful analysts study spark query plans and shuffle "
            "metrics in the warehouse " * 2)
    LONG_B = ("an entirely different document about catalyst optimizers and "
              "adaptive query execution rewriting join strategies at runtime "
              "for large clusters " * 2)
    LONG_C = ("fresh content concerning broadcast thresholds and partition "
              "pruning behavior under dynamic overwrite modes in production "
              "pipelines everywhere " * 2)

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "store")
    band_store = str(tmp_path / "band_store")
    corpus = str(tmp_path / "corpus")
    docs = "doc_id long, text string"
    spark.createDataFrame(
        [(1, LONG), (2, LONG.replace("lazy", "sleepy")), (3, LONG_B)], docs
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(10, LONG),                                  # exact dup of 1
         (11, LONG.replace("quick", "rapid")),        # NEAR dup of 1 — band screen
         (12, LONG_C)], docs
    ).coalesce(1).write.mode("append").parquet(src)

    def run(ck):
        stream = (
            spark.readStream.schema(docs).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = structured.stream_ingest_dedup(
            spark, stream, store, corpus, checkpoint_dir=str(tmp_path / ck),
            band_store_path=band_store,
        )
        q.awaitTermination(120)

    run("ck1")
    admitted = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert admitted == {1, 3, 12}      # 2 collapsed within-batch; 10/11 screened
    # band store holds bands for exactly the admitted docs
    bands = spark.read.parquet(band_store)
    assert bands.select("doc_id").distinct().count() == 3

    # redeploy-replay: fresh checkpoint, stores retained -> admits nothing
    run("ck2")
    assert spark.read.parquet(corpus).count() == 3
    fps = spark.read.parquet(store)
    assert fps.distinct().count() == 3


def test_stream_ingest_semdedup_multibatch_and_replay(spark, tmp_path):
    """s06's guarantees: the vector store screens cross-micro-batch
    SEMANTIC near-dups (cosine >= threshold against anything ever
    admitted), within-batch duplicates collapse to the min id, and a
    redeploy-replay over the same source with the store retained
    admits nothing new. Vectors are crafted on two orthogonal axes so
    cosine is exactly 1.0 (dup) or 0.0 (novel)."""
    import numpy as np

    dim = 64
    def vec(axis, scale=1.0):
        v = [0.0] * dim
        v[axis] = float(scale)
        return v

    schema = "vec_id long, embedding array<float>"
    src = str(tmp_path / "embs_src")
    sem_store = str(tmp_path / "sem_store")
    corpus = str(tmp_path / "corpus")
    # batch 1: two copies on axis 0 (collapse to min id 1) + one on axis 1
    spark.createDataFrame(
        [(1, vec(0)), (2, vec(0, 2.0)), (3, vec(1))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: semantic dup of axis-0 (screened by the STORE), novel axis 2
    spark.createDataFrame(
        [(10, vec(0, 3.0)), (11, vec(2))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    def run(ck):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = structured.stream_ingest_semdedup(
            spark, stream, sem_store, corpus,
            checkpoint_dir=str(tmp_path / ck), threshold=0.35)
        q.awaitTermination(120)

    run("ck1")
    admitted = {r["vec_id"] for r in spark.read.parquet(corpus).collect()}
    assert admitted == {1, 3, 11}   # 2 collapsed within-batch; 10 store-screened
    # store holds (id, vector, sigs) rows for exactly the admitted ids
    from spaceparts_data_pipeline_spark.operators import dedup
    store = dedup.read_store(spark, sem_store)
    assert {r["vec_id"] for r in store.select("vec_id").distinct().collect()} == {1, 3, 11}

    # redeploy-replay: fresh checkpoint, store retained -> admits nothing
    run("ck2")
    assert spark.read.parquet(corpus).count() == 3


def test_stream_upsert_create_batch_dedups_keys(spark, tmp_path):
    """r16 review: the create-target path used to write the raw first
    micro-batch — a batch-0 carrying two versions of one key created a
    target that permanently violated the one-row-per-key invariant the
    merge path enforces. The create must keep-latest dedup first."""
    spark.sql("CREATE DATABASE IF NOT EXISTS stream_db3")
    spark.catalog.setCurrentDatabase("stream_db3")
    try:
        src = str(tmp_path / "dup_src")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        # ONE file => ONE micro-batch holding two versions of event 1
        _write_batch(spark, src, [
            (1, t0, "click", 1.0), (1, t1, "click", 9.0), (2, t0, "view", 2.0)])
        stream = structured.stream_events(spark, src, SCHEMA)
        q = structured.stream_upsert(spark, stream, "events_dupkeys",
                                     ["event_id"], "ts", str(tmp_path / "ck_dup"))
        q.awaitTermination(120)
        rows = spark.table("events_dupkeys").collect()
        assert len(rows) == 2                           # one row per key
        out = {r["event_id"]: r["value"] for r in rows}
        assert out == {1: 9.0, 2: 2.0}                  # latest by ts won
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP DATABASE stream_db3 CASCADE")


def test_stream_ingest_wiped_checkpoint_reuse_keeps_prior_batches(spark, tmp_path):
    """r16 review: wiping and REUSING the same checkpoint path restarts
    batch ids at 0 — a path-derived run tag would let the new batch 0's
    dynamic overwrite delete the prior deployment's batch-0 documents.
    The tag derives from the checkpoint-instance query id (regenerated
    on wipe), so the reused path lands in a fresh partition scope."""
    import shutil

    src = str(tmp_path / "wipe_src")
    store = str(tmp_path / "wipe_store")
    corpus = str(tmp_path / "wipe_corpus")
    ck = str(tmp_path / "wipe_ck")
    docs = "doc_id long, text string"
    spark.createDataFrame([(1, "alpha"), (2, "beta")], docs) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(docs).option("maxFilesPerTrigger", 1).parquet(src)
    q = structured.stream_ingest_dedup(spark, stream, store, corpus, checkpoint_dir=ck)
    q.awaitTermination(120)
    tags_before = {r["ingest_run"] for r in spark.read.parquet(corpus).collect()}
    assert spark.read.parquet(corpus).count() == 2

    # routine ops move: wipe the checkpoint to restart the stream
    # fresh, keep stores + corpus + the SAME path; land a new doc
    shutil.rmtree(ck)
    spark.createDataFrame([(3, "gamma")], docs) \
        .coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(docs).option("maxFilesPerTrigger", 1).parquet(src)
    q2 = structured.stream_ingest_dedup(spark, stream2, store, corpus, checkpoint_dir=ck)
    q2.awaitTermination(120)
    final = {r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()}
    assert final == {1: "alpha", 2: "beta", 3: "gamma"}   # nothing lost
    tags_after = {r["ingest_run"] for r in spark.read.parquet(corpus).collect()}
    assert len(tags_after - tags_before) == 1             # fresh instance scope


def test_events_stream_queries_restore_nanos_conf(spark, sf_small):
    """r16 optimization-round greenness fix: the s01-s03 events-stream
    queries held spark.sql.legacy.parquet.nanosAsLong=true session-wide
    (the same leak the load_table read-scoping fix closed for the batch
    path), which broke test_load_table_nanos_conf_is_read_scoped's
    precondition whenever a streaming query ran first. The conf must
    span the stream's construction AND drain (the file-stream source
    re-resolves the footer per micro-batch) and be restored after."""
    from spaceparts_data_pipeline_spark.queries import stream as stream_q

    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    if prev is not None:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        out = stream_q.QUERIES["s03_stream_dedup"](spark, sf_small)
        n = out.agg(F.sum("n_events")).collect()[0][0]
        assert n and n > 0                       # the drain really ran
        assert spark.conf.get(
            "spark.sql.legacy.parquet.nanosAsLong", None) is None
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
