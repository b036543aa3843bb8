"""Structured Streaming queries that are still driver-verifiable.

A streaming aggregation drained with ``trigger(availableNow=True)`` in
``complete`` output mode is a pure function of the input files — the
same rows flow through the same stateful operator the continuous job
would run, and the final emitted state equals the batch aggregation.
That makes the streaming path oracle-checkable: the driver runs the
REAL ``readStream`` → stateful-agg → memory-sink pipeline and DuckDB
computes the batch equivalent; row counts, schema, and value hashes
must match. (Watermark-driven *dropping* semantics are exercised in
``tests/test_streaming.py`` instead — late-row behavior depends on
micro-batch boundaries, which no batch SQL can express.)
"""

from __future__ import annotations

import contextlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.functions.scalars import dsum

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


@contextlib.contextmanager
def _nanos_read_conf(spark: SparkSession):
    """Hold ``spark.sql.legacy.parquet.nanosAsLong=true`` across an
    events-stream construction AND drain, restoring the prior value
    after. Unlike the batch path (sources/parquet.load_table resolves
    the schema once inside ``spark.read.parquet`` and scopes the conf
    to that read), the file-stream source re-resolves the parquet
    footer's TIMESTAMP(NANOS) on every micro-batch, so the conf must
    span ``awaitTermination``. Restoring it afterwards closes the same
    session-wide leak the load_table fix closed: a leaked ``true``
    makes any unrelated later nanosecond-parquet read silently arrive
    as bigint instead of Spark's loud unsupported-type error."""
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sources.parquet.load_table("events"): same
    UTC session, same ns→µs integer truncation, via readStream. The
    caller must hold :func:`_nanos_read_conf` through the drain."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file-stream source wants a DIRECTORY of files (its basePath
    # check rejects a bare file); expose the single events file through
    # a per-sf temp dir of symlinks — zero copy, and exactly the layout
    # a production stream (a landing directory of parquet drops) has
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    stream_dir = os.path.join(tempfile.gettempdir(), f"stream_events_{tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    if dict(stream.dtypes).get("ts") in ("bigint", "long"):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


@register(
    "s02_stream_stateful_profile",
    """
    SELECT user_id, COUNT(*) AS event_count,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def s02_stream_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator through the driver gate: per-user
    (count, first_ts, last_ts) accumulated in applyInPandasWithState —
    the escape hatch for stateful logic the built-in windowed operators
    can't express. Drained availableNow; because counts/extrema only
    grow, the final per-user emission (max event_count) equals the batch
    aggregate even if the source splits into several micro-batches.
    State sticks to integers and epoch-micros — exact in every engine —
    rather than float accumulation, which would drift from the oracle's
    summation order.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, event_count bigint, first_us bigint, last_us bigint"
    state_schema = "event_count bigint, first_us bigint, last_us bigint"

    def update(key, pdfs, state: GroupState):
        count, first, last = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            us = (pdf["ts"].astype("datetime64[us]").astype("int64"))
            count += len(pdf)
            first = int(us.min()) if first is None else min(first, int(us.min()))
            last = int(us.max()) if last is None else max(last, int(us.max()))
        state.update((count, first, last))
        yield pd.DataFrame({
            "user_id": [key[0]], "event_count": [count],
            "first_us": [first], "last_us": [last],
        })

    with _nanos_read_conf(spark):
        stream = _events_stream(spark, sf_dir)
        q = (
            stream.select("user_id", "ts")
            .groupBy("user_id")
            .applyInPandasWithState(
                update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
            )
            .writeStream.format("memory").queryName("s02_mem")
            .outputMode("update").trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    per_user = (
        spark.table("s02_mem")
        .groupBy("user_id")
        .agg(
            F.max("event_count").alias("event_count"),
            F.min("first_us").alias("__f"), F.max("last_us").alias("__l"),
        )
    )
    return per_user.select(
        "user_id", "event_count",
        F.timestamp_micros(F.col("__f")).alias("first_ts"),
        F.timestamp_micros(F.col("__l")).alias("last_ts"),
    )


@register(
    "s01_stream_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def s01_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _nanos_read_conf(spark):
        stream = _events_stream(spark, sf_dir)
        agg = (
            stream.groupBy(F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory").queryName("s01_mem")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("s01_mem").select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type", "n", "total_value",
    )


@register(
    "s03_stream_dedup",
    """
    SELECT event_id % 100 AS bucket, COUNT(DISTINCT event_id) AS n_events
    FROM events GROUP BY 1
    """,
)
def s03_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT dedup — the training-pipeline op (d01's streaming
    twin): ``dropDuplicates`` on the event key holds the seen-key set in
    state and emits each key's first arrival only. Drained availableNow
    into an append memory sink, then batch-bucketed so the result is
    invariant to which duplicate copy arrived first (only the key and a
    key-derived bucket survive the projection) — making the REAL
    streaming state path value-hash-checkable against batch
    COUNT(DISTINCT). Unbounded-state caveat: a continuous deployment
    bounds the seen-key set with ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` (exercised in
    tests/test_streaming.py); the exact variant here is the one whose
    final state is batch-equivalent and oracle-checkable.
    """
    with _nanos_read_conf(spark):
        stream = _events_stream(spark, sf_dir)
        deduped = (
            stream.select(
                F.col("event_id"), (F.col("event_id") % 100).alias("bucket")
            )
            .dropDuplicates(["event_id"])
        )
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory").queryName("s03_mem")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table("s03_mem")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "s04_stream_ingest_dedup",
    """
    WITH store AS (
      SELECT DISTINCT md5(text) AS fingerprint
      FROM documents WHERE doc_id % 10 < 6
    ),
    batch AS (
      -- text IS NOT NULL pins incremental_dedup's NULL semantics (the
      -- engine drops NULL text; md5(NULL) would otherwise survive the
      -- NOT EXISTS screen as a NULL-fingerprint group)
      SELECT MIN(doc_id) AS doc_id, md5(text) AS fingerprint
      FROM documents WHERE doc_id % 10 >= 4 AND text IS NOT NULL
      GROUP BY md5(text)
    )
    SELECT doc_id, fingerprint FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fingerprint = b.fingerprint)
    """,
)
def s04_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion with cross-run dedup (d15's streaming
    twin): the REAL readStream → foreachBatch pipeline of
    ``streaming.structured.stream_ingest_dedup`` — new documents
    screened against a fingerprint store seeded by prior runs (deciles
    <6 here), survivors landed in a batch-id-partitioned corpus and
    their fingerprints appended to the store. Oracle-checkable because
    the admitted TEXT set is a pure function of (store, stream rows)
    however the source micro-batches — and the admitted IDS equal the
    oracle's batch-mode min-id canonicalization here because the
    landing dir is one parquet file → one micro-batch BY CONSTRUCTION.
    Across multiple micro-batches the surviving id for a text is the
    first-arriving batch's min id, not the global min (the cross-batch
    copy is screened by the store the earlier batch extended) — that
    batching-dependent id choice is exercised in
    tests/test_streaming.py, not oracle-checked."""
    import hashlib
    import shutil

    from spaceparts_data_pipeline_spark.sources.parquet import load_table
    from spaceparts_data_pipeline_spark.streaming.structured import stream_ingest_dedup

    docs_path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(docs_path).schema

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    stream_dir = os.path.join(tempfile.gettempdir(), f"stream_docs_{tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(docs_path, link)

    # Deterministic per-sf work dir, RESET at the start of each
    # invocation and left in place afterwards, so the returned
    # DataFrame is the LAZY read of the durable corpus — no collect()
    # in the query path (what a real deployment does: keep the corpus,
    # read it where it lands). Bounded: one survivor set per sf dir,
    # overwritten on the next invocation.
    work = os.path.join(tempfile.gettempdir(), f"s04_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    store_path = os.path.join(work, "store")
    corpus_path = os.path.join(work, "corpus")
    # seed the store as prior runs would have left it
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 < 6
    ).select(F.md5("text").alias("fingerprint")).write.parquet(store_path)

    stream = (
        spark.readStream.schema(schema).parquet(stream_dir)
        .filter(F.col("doc_id") % 10 >= 4)
    )
    q = stream_ingest_dedup(
        spark, stream, store_path, corpus_path,
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    q.awaitTermination()
    return (
        spark.read.parquet(corpus_path)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "fingerprint")
    )


@register(
    "s05_stream_ingest_near_dedup",
    r"""
    WITH RECURSIVE
    store AS (
      SELECT DISTINCT md5(text) AS fingerprint
      FROM documents WHERE doc_id % 10 < 6
    ),
    fpb AS (
      SELECT MIN(doc_id) AS doc_id, md5(text) AS fingerprint
      FROM documents WHERE doc_id % 10 >= 4 AND text IS NOT NULL
      GROUP BY md5(text)
    ),
    ex AS (
      SELECT doc_id, fingerprint FROM fpb b
      WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fingerprint = b.fingerprint)
    ),
    b AS (
      SELECT e.doc_id, e.fingerprint,
             string_split_regex(trim(d.text), '\s+') AS t
      FROM ex e JOIN documents d USING (doc_id)
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM b WHERE len(t) >= 3
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b2 ON a.shingle = b2.shingle AND a.doc_id < b2.doc_id
      GROUP BY 1, 2
    ),
    sim AS (
      SELECT id_a, id_b FROM pairs
      JOIN cnt ca ON id_a = ca.doc_id
      JOIN cnt cb ON id_b = cb.doc_id
      WHERE inter / (ca.n + cb.n - inter) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM sim
      UNION ALL
      SELECT id_b, id_a FROM sim
    ),
    reach AS (
      SELECT doc_id AS a, doc_id AS b FROM b
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
    surv AS (
      SELECT b.doc_id, b.fingerprint FROM b JOIN comp USING (doc_id)
      WHERE comp.component = comp.doc_id
    ),
    stoks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE doc_id % 10 < 6),
    ssh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM stoks WHERE len(t) >= 3
    ),
    scnt AS (SELECT doc_id, COUNT(*) AS n FROM ssh GROUP BY doc_id),
    xpairs AS (
      SELECT a.doc_id AS bid, s.doc_id AS sid, COUNT(*) AS inter
      FROM sh a JOIN ssh s ON a.shingle = s.shingle
      GROUP BY 1, 2
    ),
    hits AS (
      SELECT DISTINCT bid FROM xpairs
      JOIN cnt ON bid = cnt.doc_id
      JOIN scnt ON sid = scnt.doc_id
      WHERE inter / (cnt.n + scnt.n - inter) >= 0.5
    )
    SELECT doc_id, fingerprint FROM surv
    WHERE NOT EXISTS (SELECT 1 FROM hits WHERE hits.bid = surv.doc_id)
    """,
)
def s05_stream_ingest_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion with the NEAR-dup screen (d16's
    streaming twin): stream_ingest_dedup with a band store — each
    micro-batch is exact-screened, within-batch LSH-deduplicated, then
    band-screened against everything prior runs admitted; survivors
    land in the corpus and extend BOTH stores.

    ORACLE NOTE (the d14/d16 playbook, round 9): the SQL above replays
    the whole single-micro-batch composition on the EXACT path — s04's
    fingerprint screen, then d13's recursive-CTE components over the
    exact-screen survivors, then an exact-Jaccard>=0.5 screen against
    the store deciles — sound because (a) one landing file → one
    micro-batch BY CONSTRUCTION (s04's argument), and (b) admit-set
    equality between the band screen at the pinned num_perm=32 /
    rows_per_band=4 profile and the exact screen is a TESTED PROPERTY
    at the oracle SFs (tests/test_llm_ops.py::
    test_stream_near_dedup_composition_equals_exact_screen). Multi-
    batch behavior and replay idempotence stay pinned in
    tests/test_streaming.py."""
    import hashlib
    import shutil

    from spaceparts_data_pipeline_spark.operators import dedup_fuzzy
    from spaceparts_data_pipeline_spark.sources.parquet import load_table
    from spaceparts_data_pipeline_spark.streaming.structured import stream_ingest_dedup

    docs_path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(docs_path).schema

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    stream_dir = os.path.join(tempfile.gettempdir(), f"stream_docs_{tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(docs_path, link)

    work = os.path.join(tempfile.gettempdir(), f"s05_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    store_path = os.path.join(work, "store")
    band_store_path = os.path.join(work, "band_store")
    corpus_path = os.path.join(work, "corpus")
    # seed both stores as prior runs would have left them
    prior = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 < 6)
    prior.select(F.md5("text").alias("fingerprint")).write.parquet(store_path)
    dedup_fuzzy.band_table(prior, num_perm=32, rows_per_band=4).write.parquet(band_store_path)

    stream = (
        spark.readStream.schema(schema).parquet(stream_dir)
        .filter(F.col("doc_id") % 10 >= 4)
    )
    q = stream_ingest_dedup(
        spark, stream, store_path, corpus_path,
        checkpoint_dir=os.path.join(work, "ckpt"),
        band_store_path=band_store_path,
        num_perm=32, rows_per_band=4,
    )
    q.awaitTermination()
    return (
        spark.read.parquet(corpus_path)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "fingerprint")
    )


# ---------------------------------------------------------------------------
# s06 — streaming SEMANTIC ingestion (d26's streaming twin, completing
# the screen-family symmetry: d15/s04 exact, d16/s05 MinHash, d26/s06
# embeddings): the vector store is seeded exactly as d26's round 1
# leaves it (batch 1 = vec_id < 250 admitted against an empty store),
# then batch 2 streams through stream_ingest_semdedup as ONE
# micro-batch (one landing file — the s04 construction). The output is
# the corpus's admitted vec_ids, and the oracle is d26's FULL oracle
# VERBATIM: the streaming path composes the identical deterministic
# operators, so the value hash must match — no admit-set-equality
# assumption needed (every rejection exact-cosine verified).
# ---------------------------------------------------------------------------

def _s06_oracle() -> str:
    from spaceparts_data_pipeline_spark.queries.llm import _d26_oracle

    return _d26_oracle()


@register("s06_stream_ingest_semdedup", _s06_oracle())
def s06_stream_ingest_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from spaceparts_data_pipeline_spark.operators import similarity
    from spaceparts_data_pipeline_spark.queries.llm import _D26_SPLIT, _E03C
    from spaceparts_data_pipeline_spark.sources.parquet import load_table
    from spaceparts_data_pipeline_spark.streaming.structured import (
        stream_ingest_semdedup,
    )

    embs_path = f"{sf_dir}/embeddings.parquet"
    schema = spark.read.parquet(embs_path).schema

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    stream_dir = os.path.join(tempfile.gettempdir(), f"stream_embs_{tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "embeddings.parquet")
    if not os.path.exists(link):
        os.symlink(embs_path, link)

    work = os.path.join(tempfile.gettempdir(), f"s06_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    sem_store = os.path.join(work, "sem_store")
    corpus_path = os.path.join(work, "corpus")

    # seed the store exactly as d26's round 1 leaves it
    e = load_table(spark, sf_dir, "embeddings")
    b1 = e.filter(F.col("vec_id") < _D26_SPLIT)
    _, store_rows = similarity.incremental_semdedup(
        b1, None, threshold=_E03C["threshold"])
    store_rows.write.mode("append").parquet(sem_store)

    stream = (
        spark.readStream.schema(schema).parquet(stream_dir)
        .filter(F.col("vec_id") >= _D26_SPLIT)
    )
    q = stream_ingest_semdedup(
        spark, stream, sem_store, corpus_path,
        checkpoint_dir=os.path.join(work, "ckpt"),
        threshold=_E03C["threshold"],
    )
    q.awaitTermination()
    return (
        spark.read.parquet(corpus_path)
        .select(F.col("vec_id").cast("long").alias("vec_id"))
    )
