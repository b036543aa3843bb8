"""Kill-point tests for the in-place screen-store compaction
(``dedup.compact_store``).

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
"""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import DataFrameWriter

from spaceparts_data_pipeline_spark.operators import dedup, dedup_fuzzy, similarity

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
        crumb = os.path.join(store, "_temporary", "0", "_temporary", "attempt_0")
        os.makedirs(crumb)
        with open(os.path.join(crumb, "part-00001-crumb.snappy.parquet"), "wb") as f:
            f.write(b"PAR1 truncated")
        raise Kill("mid-append")

    monkeypatch.setattr(DataFrameWriter, "parquet", partial)


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
