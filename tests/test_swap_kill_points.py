"""Kill-point tests for the versioned swap (``maintenance.overwrite_via_staging``).

Each test runs a real swap and injects a failure at one step of it:
either a module function is replaced by one that raises, or
``spark.sql`` raises on one statement prefix. After the kill, two
things must hold:

- ``spark.table(t)`` resolves to the complete old rows or the complete
  new rows, both after the startup sweep (``recover_all``) and after
  the next overwrite;
- no ``{t}__old`` remains, and at most ``retain_versions`` physical
  versions do.

The swap's steps are: write ``{t}__v{N+1}`` → mark it and carry the
``spaceparts.*`` properties → (legacy migration only: rename the live
table to ``{t}__old``) → repoint the view → drop ``{t}__old`` → prune.
"""

from __future__ import annotations

import pytest

from spaceparts_data_pipeline_spark.operators import maintenance as mt

DB = "killpt_db"
T = "kp_t"
OLD, NEW, NEXT = [1, 2], [10, 20], [100]
PROP = "spaceparts.test.carried"


class Kill(Exception):
    """The injected crash."""


@pytest.fixture()
def killpt_db(spark):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    spark.catalog.setCurrentDatabase(DB)
    yield
    spark.catalog.setCurrentDatabase("default")
    spark.sql(f"DROP DATABASE {DB} CASCADE")


def _df(spark, ids, partitioned=False):
    if partitioned:
        return spark.createDataFrame([(i, f"p{i % 2}") for i in ids], "id long, p string")
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _swap(spark, ids, partitioned=False):
    mt.overwrite_via_staging(spark, T, _df(spark, ids, partitioned),
                             partition_by="p" if partitioned else None)


def _versioned(spark, partitioned=False):
    """A version-managed table at v2 holding OLD (v1 still retained, so
    the next swap has a version to prune)."""
    _swap(spark, [0], partitioned)
    _swap(spark, OLD, partitioned)
    mt.set_pipeline_prop(spark, mt.resolve_physical(spark, T), PROP, "yes")


def _legacy(spark):
    """A pre-versioned real table holding OLD."""
    _df(spark, OLD).write.saveAsTable(T)
    mt.set_pipeline_prop(spark, T, PROP, "yes")


def _kill_sql(spark, m, prefix):
    real = spark.sql

    def sql(stmt, *args, **kwargs):
        if stmt.startswith(prefix):
            raise Kill(stmt)
        return real(stmt, *args, **kwargs)

    m.setattr(spark, "sql", sql)


def _kill_fn(m, name):
    def killed(*_args, **_kwargs):
        raise Kill(name)

    m.setattr(mt, name, killed)


def _check(spark, want):
    assert sorted(r["id"] for r in spark.table(T).collect()) == want
    assert not spark.catalog.tableExists(f"{T}__old")
    assert len(mt.list_versions(spark, T)) <= mt.DEFAULT_RETAIN_VERSIONS
    phys = mt.resolve_physical(spark, T)
    assert mt.get_pipeline_prop(spark, phys, PROP) == "yes"
    if phys != T:
        assert mt.is_managed(spark, phys)


def _recover_then_overwrite(spark, want, partitioned=False, action="any"):
    actions = mt.recover_all(spark)
    if action != "any":
        assert actions.get(T) == action, actions
    _check(spark, want)
    _swap(spark, NEXT, partitioned)
    _check(spark, NEXT)


def _crashed_swap(spark, monkeypatch, inject, partitioned=False):
    with monkeypatch.context() as m:
        inject(m)
        with pytest.raises(Kill):
            _swap(spark, NEW, partitioned)


def test_kill_mid_version_write_leaves_crumb(spark, killpt_db, monkeypatch):
    """A kill inside saveAsTable leaves a catalog-less directory under
    the version name; the next write of that name clears it."""
    _versioned(spark)
    loc = mt._db_location(spark, DB)

    def crumb_then_kill(df, table, **_kwargs):
        df.write.parquet(f"{loc}/{table.lower()}")
        raise Kill(table)

    _crashed_swap(spark, monkeypatch,
                  lambda m: m.setattr(mt, "safe_save_as_table", crumb_then_kill))
    assert not spark.catalog.tableExists(f"{T}__v3")
    _recover_then_overwrite(spark, OLD, action=None)


def test_kill_after_write_before_mark(spark, killpt_db, monkeypatch):
    _versioned(spark)
    _crashed_swap(spark, monkeypatch, lambda m: _kill_fn(m, "_mark_managed"))
    _recover_then_overwrite(spark, NEW, action="promoted_version")


def test_kill_before_view_repoint(spark, killpt_db, monkeypatch):
    _versioned(spark)
    _crashed_swap(spark, monkeypatch,
                  lambda m: _kill_sql(spark, m, "CREATE OR REPLACE VIEW"))
    _recover_then_overwrite(spark, NEW, action="promoted_version")


def test_kill_before_old_drop(spark, killpt_db, monkeypatch):
    _versioned(spark)
    _crashed_swap(spark, monkeypatch,
                  lambda m: _kill_sql(spark, m, f"DROP TABLE IF EXISTS {T}__old"))
    _recover_then_overwrite(spark, NEW, action="pruned_versions")


def test_kill_during_pruning(spark, killpt_db, monkeypatch):
    _versioned(spark)
    _crashed_swap(spark, monkeypatch,
                  lambda m: _kill_sql(spark, m, f"DROP TABLE IF EXISTS {T}__v"))
    assert mt.list_versions(spark, T) == [1, 2, 3]
    _recover_then_overwrite(spark, NEW, action="pruned_versions")


def test_kill_migration_before_live_moved_aside(spark, killpt_db, monkeypatch):
    """The first version is written while the legacy table is still
    live: recovery drops the unreferenced version, the legacy table
    stays current, and the next overwrite migrates again."""
    _legacy(spark)
    _crashed_swap(spark, monkeypatch,
                  lambda m: _kill_sql(spark, m, f"ALTER TABLE {T} RENAME"))
    assert mt.list_versions(spark, T) == [1]
    _recover_then_overwrite(spark, OLD, action="dropped_unreferenced_versions")


def test_kill_migration_after_live_moved_aside(spark, killpt_db, monkeypatch):
    """Live table renamed to __old, view not yet created: the name does
    not resolve until recovery recreates the view at the new version."""
    _legacy(spark)
    _crashed_swap(spark, monkeypatch,
                  lambda m: _kill_sql(spark, m, "CREATE OR REPLACE VIEW"))
    assert not spark.catalog.tableExists(T)
    _recover_then_overwrite(spark, NEW, action="recreated_view")


def test_kill_migration_before_old_drop(spark, killpt_db, monkeypatch):
    _legacy(spark)
    _crashed_swap(spark, monkeypatch,
                  lambda m: _kill_sql(spark, m, f"DROP TABLE IF EXISTS {T}__old"))
    _recover_then_overwrite(spark, NEW, action="dropped_old")


def test_kill_before_partition_registration(spark, killpt_db, monkeypatch):
    """saveAsTable of a partitioned version creates the catalog entry,
    then registers the partitions; a kill in between leaves a version
    that reads empty until recovery repairs it before the promote."""
    _versioned(spark, partitioned=True)

    def unregistered_then_kill(df, table, **_kwargs):
        spark.sql(f"CREATE TABLE {table} (id BIGINT, p STRING) USING parquet"
                  " PARTITIONED BY (p)")
        df.write.mode("append").partitionBy("p").parquet(
            mt.table_location(spark, table, raw=True))
        raise Kill(table)

    _crashed_swap(spark, monkeypatch,
                  lambda m: m.setattr(mt, "safe_save_as_table", unregistered_then_kill),
                  partitioned=True)
    assert spark.table(f"{T}__v3").count() == 0
    _recover_then_overwrite(spark, NEW, partitioned=True, action="promoted_version")
