"""Kill-point tests for the screen stores: the in-place compaction
(``dedup.compact_store``) and the store appends of both corpus ingest
paths.

Compaction lists the store's data files F, appends ``distinct(read F)``
into the same directory, then deletes F. Each test seeds a store with
three duplicate-bearing appends, kills a real compaction at one point,
and then checks two things:

- the next batch's admit decisions equal those made against an
  uncompacted twin of the store;
- the next ``maybe_compact_store`` leaves one file set (the data files
  of a single write job) holding exactly the distinct rows.

The kill points are: after the distinct append and before any delete;
after half of F is deleted; after only part of the distinct set was
appended (a job killed mid-commit, leaving its ``_temporary`` tree).
Each runs against the md5 fingerprint, MinHash band and vector stores.

The store appends run after ``dedup.land_partition`` commits the
corpus partition, and derive from what it landed. A fingerprint append
killed mid-commit leaves part of the run's fingerprints visible, so a
replay's screen rejects those docs; the tests below replay the batch
funnel (``run_corpus_ingest``) and a streaming micro-batch
(``stream_ingest_dedup``) from that state and require every durable
doc to survive and the store to converge. A killed FIRST append leaves
only a ``_temporary`` tree, which must read as an empty store rather
than wedge every later screen. The funnel addresses its run partition
by directory, so run ids that Spark would infer as one number, or
whose names it escapes, stay separate partitions.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.operators import dedup, dedup_fuzzy, similarity
from spaceparts_data_pipeline_spark.plans.corpus import run_corpus_ingest
from spaceparts_data_pipeline_spark.streaming import structured

DIM = 64
BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
OTHER = "completely different text about spark query engines and shuffles at scale"


class Kill(Exception):
    """The injected crash."""


def _vec(axis, scale=1.0):
    v = [0.0] * DIM
    v[axis] = float(scale)
    return v


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# Per store: (seed rows, next batch, screen(batch, store) -> admitted ids)
def _fp(spark):
    seed = dedup.incremental_dedup(
        _docs(spark, [(1, "alpha"), (2, "beta"), (3, "gamma")]), None).select("fingerprint")
    batch = _docs(spark, [(10, "beta"), (11, "delta"), (12, "alpha"), (13, "epsilon")])
    return seed, batch, lambda b, st: {r["doc_id"] for r in dedup.incremental_dedup(b, st).collect()}


def _band(spark):
    seed = dedup_fuzzy.band_table(_docs(spark, [(1, BASE), (2, OTHER)]))
    batch = _docs(spark, [(10, BASE), (11, BASE.replace("lazy", "sleepy")),
                          (12, "fresh unseen document text about window functions entirely")])

    def screen(b, st):
        admitted, _ = dedup_fuzzy.incremental_near_dedup(b, st)
        return {r["doc_id"] for r in admitted.collect()}

    return seed, batch, screen


def _sem(spark):
    _, seed = similarity.incremental_semdedup(
        _vecs(spark, [(1, _vec(0)), (2, _vec(1)), (3, _vec(2))]), None)
    batch = _vecs(spark, [(10, _vec(0, 3.0)), (11, _vec(5)), (12, _vec(2, 0.5)), (13, _vec(7))])

    def screen(b, st):
        admitted, _ = similarity.incremental_semdedup(b, st)
        return {r["vec_id"] for r in admitted.collect()}

    return seed, batch, screen


STORES = {"fp": _fp, "band": _band, "sem": _sem}


@pytest.fixture(scope="module")
def twins(spark, tmp_path_factory):
    """Per store kind: an uncompacted three-append store, the next
    batch, its screen, the decisions against the twin and the twin's
    distinct row count."""
    root = tmp_path_factory.mktemp("store_twins")
    out = {}
    for kind, build in STORES.items():
        seed, batch, screen = build(spark)
        path = str(root / f"{kind}_store")
        for _ in range(3):  # one append per run, each a full duplicate set
            seed.write.mode("append").parquet(path)
        twin = spark.read.parquet(path)
        want = screen(batch, twin)
        assert want, kind                     # the screen admits something ...
        assert len(want) < batch.count(), kind  # ... and rejects something
        out[kind] = (path, batch, screen, want, twin.distinct().count())
    return out


def _kill_nth_delete(spark, monkeypatch, n):
    """Make the store filesystem's ``delete`` raise on its ``n``-th call
    (1-based), after ``n - 1`` deletes went through. Returns the row
    counts of the files deleted before the kill."""
    real = dedup._hadoop_fs
    deleted_rows = []

    class KillingFs:
        def __init__(self, fs):
            self._fs = fs

        def delete(self, path, recursive):
            if len(deleted_rows) == n - 1:
                raise Kill(f"delete #{n}")
            deleted_rows.append(spark.read.parquet(path.toString()).count())
            return self._fs.delete(path, recursive)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def patched(spark, path):
        fs, jvm = real(spark, path)
        return KillingFs(fs), jvm

    monkeypatch.setattr(dedup, "_hadoop_fs", patched)
    return deleted_rows


def _kill_mid_append(monkeypatch, store):
    """The distinct append into ``store`` commits one row, leaves a
    killed task's half-written file under ``_temporary``, and dies."""
    real = DataFrameWriter.parquet

    def partial(self, path, *args, **kwargs):
        if path != store:
            return real(self, path, *args, **kwargs)
        real(self._df.limit(1).write.mode("append"), path)
        _plant_crumb(store)
        raise Kill("mid-append")

    monkeypatch.setattr(DataFrameWriter, "parquet", partial)


def _plant_crumb(store):
    """A killed task's half-written file under ``store/_temporary``."""
    crumb = os.path.join(store, "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(crumb)
    with open(os.path.join(crumb, "part-00001-crumb.snappy.parquet"), "wb") as f:
        f.write(b"PAR1 truncated")


def _rows(spark, path):
    return spark.read.parquet(path).count()


def _write_jobs(spark, path):
    """The write-job ids of the store's data files (Spark names each
    output file part-<task>-<job uuid>-c<n>)."""
    uuid = re.compile(r"part-\d+-([0-9a-f-]{36})")
    return {uuid.match(p.getName()).group(1) for p in dedup._data_files(spark, path)}


@pytest.mark.parametrize("kind", sorted(STORES))
@pytest.mark.parametrize("point", ["before_delete", "half_deleted", "partial_append"])
def test_killed_compaction_changes_no_decision(spark, twins, tmp_path, monkeypatch, kind, point):
    twin_path, batch, screen, want, n_distinct = twins[kind]
    store = str(tmp_path / f"{kind}_store")
    shutil.copytree(twin_path, store)
    n_files = dedup.data_file_count(spark, store)
    n_rows = _rows(spark, store)
    assert n_files >= 3 and n_rows == 3 * n_distinct

    deleted = []
    with monkeypatch.context() as m:
        if point == "before_delete":
            deleted = _kill_nth_delete(spark, m, 1)
        elif point == "half_deleted":
            deleted = _kill_nth_delete(spark, m, n_files // 2 + 1)
        else:
            _kill_mid_append(m, store)
        with pytest.raises(Kill):
            dedup.compact_store(spark, store)
    assert len(deleted) == (n_files // 2 if point == "half_deleted" else 0)

    # the kill left a superset of the store: the screens read the same
    # distinct rows, plus whatever duplicates the crash left behind
    left = spark.read.parquet(store)
    n_left = left.count()
    assert left.distinct().count() == n_distinct
    if point == "partial_append":
        assert n_left == n_rows + 1
    else:  # the whole distinct set landed before the first delete
        assert n_left == n_rows + n_distinct - sum(deleted)

    assert screen(batch, dedup.read_store(spark, store)) == want

    assert dedup.maybe_compact_store(spark, store, 0) == {
        "rows_before": n_left, "rows_after": n_distinct}
    assert len(_write_jobs(spark, store)) == 1
    assert _rows(spark, store) == n_distinct


# -- the store appends of the corpus commit ---------------------------------

def _ingest(spark, out, run_id, rows):
    batch = spark.createDataFrame(rows, "doc_id long, text string, source string")
    return run_corpus_ingest(spark, batch, out, run_id, quality_gate=False)


def _ids(spark, path):
    return sorted(r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect())


def _fingerprints(spark, store):
    return {r["fingerprint"] for r in spark.read.parquet(store).collect()}


def _md5(*texts):
    return {hashlib.md5(t.encode()).hexdigest() for t in texts}


@pytest.mark.parametrize("run_id, part", [
    ("r1", "run_id=r1"),
    ("2026-10-22T07:00", "run_id=2026-10-22T07%3A00"),  # Spark escapes ':'
])
def test_batch_replay_after_partial_store_append_keeps_every_doc(spark, tmp_path, run_id, part):
    out = str(tmp_path / "out")
    rows = [(1, BASE, "s"), (4, OTHER, "s")]
    _ingest(spark, out, run_id, rows)
    corpus = os.path.join(out, "corpus", part)
    manifest = os.path.join(out, "manifest", part)
    assert _ids(spark, corpus) == [1, 4]

    # a fingerprint append killed mid-commit: only doc 1's fingerprint
    # became visible, and the band append never ran
    fp_store = os.path.join(out, "fp_store")
    shutil.rmtree(fp_store)
    spark.createDataFrame([(BASE,)], "text string").select(
        F.md5("text").alias("fingerprint")).coalesce(1).write.parquet(fp_store)
    shutil.rmtree(os.path.join(out, "band_store"))

    stats = _ingest(spark, out, run_id, rows)
    assert stats["admitted"] == 1              # the screen now rejects doc 1
    assert _ids(spark, corpus) == [1, 4]       # ... and doc 1 stays durable
    assert _ids(spark, manifest) == [1, 4]
    assert _fingerprints(spark, fp_store) == _md5(BASE, OTHER)


def test_all_screened_run_appends_nothing_to_the_stores(spark, tmp_path):
    out = str(tmp_path / "out")
    _ingest(spark, out, "r1", [(1, BASE, "s")])
    stores = [os.path.join(out, s) for s in ("fp_store", "band_store")]
    before = [dedup.data_file_count(spark, p) for p in stores]

    stats = _ingest(spark, out, "r2", [(5, BASE, "s")])   # exact dup of doc 1
    assert stats["admitted"] == 0
    assert [dedup.data_file_count(spark, p) for p in stores] == before
    assert "sec_store_append" not in stats


def test_killed_first_store_append_does_not_wedge_the_screen(spark, tmp_path):
    out = str(tmp_path / "out")
    fp_store = os.path.join(out, "fp_store")
    _plant_crumb(fp_store)                      # no committed data file
    stats = _ingest(spark, out, "r1", [(1, BASE, "s"), (4, OTHER, "s")])
    assert stats["admitted"] == 2
    assert _fingerprints(spark, fp_store) == _md5(BASE, OTHER)


def test_run_ids_inferred_as_one_number_stay_apart(spark, tmp_path):
    out = str(tmp_path / "out")
    _ingest(spark, out, "7", [(1, BASE, "s")])
    _ingest(spark, out, "007", [(4, OTHER, "s")])
    assert _ids(spark, os.path.join(out, "corpus", "run_id=007")) == [4]
    assert _ids(spark, os.path.join(out, "manifest", "run_id=007")) == [4]


def test_land_partition_union_preserves_durable_rows(spark, tmp_path):
    """A replay after a partially committed store append re-screens to
    a SMALLER survivor set; the partition rewrite must union the
    already-durable rows back in instead of deleting them (their store
    rows remain, so the loss would be permanent)."""
    root = str(tmp_path / "corpus_union")
    part = {"ingest_run": "rtest", "ingest_batch_id": 7}
    full = _docs(spark, [(1, "alpha"), (2, "beta")])
    dedup.land_partition(full, root, part, "doc_id")
    assert spark.read.parquet(root).count() == 2

    # replay computes only doc 2 (doc 1's fp became visible in the store)
    dedup.land_partition(full.filter("doc_id = 2"), root, part, "doc_id")
    out = {r["doc_id"]: r["text"] for r in spark.read.parquet(root).collect()}
    assert out == {1: "alpha", 2: "beta"}               # doc 1 preserved

    # replay with a NEW survivor unions, not replaces
    dedup.land_partition(_docs(spark, [(3, "gamma")]), root, part, "doc_id")
    assert spark.read.parquet(root).count() == 3

    # a different batch id is a fresh partition — no union across batches
    dedup.land_partition(_docs(spark, [(9, "delta")]), root,
                         {**part, "ingest_batch_id": 8}, "doc_id")
    got = spark.read.parquet(root)
    assert got.count() == 4
    assert got.filter("ingest_batch_id = 8").count() == 1


def test_stream_ingest_replay_after_partial_store_append(spark, tmp_path):
    """Batch N lands {A, B} in the corpus; the fingerprint append
    partially commits (only A's fp visible); the checkpoint commit
    never lands, so a restart REPLAYS batch N — whose screen now
    rejects A. The replayed rewrite must not delete A's corpus row."""
    src = str(tmp_path / "replay_src")
    store = str(tmp_path / "replay_store")
    corpus = str(tmp_path / "replay_corpus")
    ck = str(tmp_path / "replay_ck")
    docs = "doc_id long, text string"
    spark.createDataFrame([(1, "alpha"), (2, "beta")], docs) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(docs).option("maxFilesPerTrigger", 1).parquet(src)
    q = structured.stream_ingest_dedup(spark, stream, store, corpus, checkpoint_dir=ck)
    q.awaitTermination(120)
    corpus_rows = spark.read.parquet(corpus).collect()
    assert len(corpus_rows) == 2
    fp_by_doc = {r["doc_id"]: r["fingerprint"] for r in corpus_rows}
    assert spark.read.parquet(store).distinct().count() == 2

    # simulate the crash window: batch 0's checkpoint commit never
    # landed (delete commits/0 AND its local-FS .crc sibling — a stale
    # checksum makes the replay's metadata-log rename fail) and the
    # store append only half-committed (rewrite the store with doc 1's
    # fp only — the store holds bare fingerprints)
    for c in glob.glob(os.path.join(ck, "commits", "*")) \
            + glob.glob(os.path.join(ck, "commits", ".*.crc")):
        if os.path.isfile(c):
            os.remove(c)
    shutil.rmtree(store)
    spark.createDataFrame([(fp_by_doc[1],)], "fingerprint string") \
        .coalesce(1).write.mode("overwrite").parquet(store)

    # restart with the SAME checkpoint: batch 0 replays; its screen now
    # rejects doc 1 (fp visible) and admits doc 2 — the rewrite must
    # keep BOTH corpus rows
    stream2 = spark.readStream.schema(docs).option("maxFilesPerTrigger", 1).parquet(src)
    q2 = structured.stream_ingest_dedup(spark, stream2, store, corpus, checkpoint_dir=ck)
    q2.awaitTermination(120)
    out = {r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()}
    assert out == {1: "alpha", 2: "beta"}
    # and the store converged back to both fingerprints
    assert _fingerprints(spark, store) == set(fp_by_doc.values())
