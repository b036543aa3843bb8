"""Kill-point and crash-recovery tests for the versioned swap
(``maintenance.overwrite_via_staging``, ``recover_staged_swap``,
``recover_all``).

Each kill-point test runs a real swap and injects a failure at one step
of it: either a module function is replaced by one that raises, or
``spark.sql`` raises on one statement prefix. After the kill, two
things must hold:

- ``spark.table(t)`` resolves to the complete old rows or the complete
  new rows, both after the startup sweep (``recover_all``) and after
  the next overwrite;
- at most ``retain_versions`` physical versions remain, and the one
  the view resolves to carries the managed marker.

The swap's steps are: write ``{t}__v{N+1}`` (a CTAS that carries the
managed marker in its create) → repoint the view → prune. A table's
first swap (N = 0) has no view to fall back on, so its kill points get
their own tests.

The recovery tests below them plant the two crash states recovery
knows — a view behind its newest version (or no view over a marked
version) and stale versions — and check ``recover_all``'s ownership
and database scoping.
"""

from __future__ import annotations

import pytest

from spaceparts_data_pipeline_spark.operators import maintenance as mt

DB = "killpt_db"
T = "kp_t"
OLD, NEW, NEXT = [1, 2], [10, 20], [100]


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


def _kill_sql(spark, m, prefix):
    real = spark.sql

    def sql(stmt, *args, **kwargs):
        if stmt.startswith(prefix):
            raise Kill(stmt)
        return real(stmt, *args, **kwargs)

    m.setattr(spark, "sql", sql)


def _kill_after_create(m):
    """The version's create completes, then the process dies."""
    real = mt._create_version

    def created_then_kill(df, table, **kwargs):
        real(df, table, **kwargs)
        raise Kill(table)

    m.setattr(mt, "_create_version", created_then_kill)


def _ids(spark, table):
    return sorted(r["id"] for r in spark.table(table).collect())


def _check(spark, want):
    assert _ids(spark, T) == want
    assert len(mt.list_versions(spark, T)) <= mt.DEFAULT_RETAIN_VERSIONS
    phys = mt.resolve_physical(spark, T)
    assert phys != T and mt.is_managed(spark, phys)


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
                  lambda m: m.setattr(mt, "_create_version", crumb_then_kill))
    assert not spark.catalog.tableExists(f"{T}__v3")
    _recover_then_overwrite(spark, OLD, action=None)


def test_kill_after_marked_create(spark, killpt_db, monkeypatch):
    _versioned(spark)
    _crashed_swap(spark, monkeypatch, _kill_after_create)
    assert mt.is_managed(spark, f"{T}__v3")
    _recover_then_overwrite(spark, NEW, action="promoted_version")


def test_kill_before_view_repoint(spark, killpt_db, monkeypatch):
    _versioned(spark)
    _crashed_swap(spark, monkeypatch,
                  lambda m: _kill_sql(spark, m, "CREATE OR REPLACE VIEW"))
    _recover_then_overwrite(spark, NEW, action="promoted_version")


def test_kill_during_pruning(spark, killpt_db, monkeypatch):
    _versioned(spark)
    _crashed_swap(spark, monkeypatch,
                  lambda m: _kill_sql(spark, m, f"DROP TABLE IF EXISTS {T}__v"))
    assert mt.list_versions(spark, T) == [1, 2, 3]
    _recover_then_overwrite(spark, NEW, action="pruned_versions")


def test_kill_first_write_after_marked_create(spark, killpt_db, monkeypatch):
    """A first swap killed right after its ``__v1`` create: the version
    carries the marker from the create on, so the startup sweep owns it
    and promotes it (no state shows an unmarked version that the sweep
    would have to leave for the next overwrite)."""
    _crashed_swap(spark, monkeypatch, _kill_after_create)
    assert mt.list_versions(spark, T) == [1]
    assert not spark.catalog.tableExists(T)
    _recover_then_overwrite(spark, NEW, action="promoted_version")
    assert _ids(spark, f"{T}__v1") == NEW


def test_kill_first_write_before_view(spark, killpt_db, monkeypatch):
    """A first swap killed before its first ``CREATE OR REPLACE VIEW``:
    the name does not resolve until the sweep promotes the marked
    ``__v1``."""
    _crashed_swap(spark, monkeypatch,
                  lambda m: _kill_sql(spark, m, "CREATE OR REPLACE VIEW"))
    assert not spark.catalog.tableExists(T)
    _recover_then_overwrite(spark, NEW, action="promoted_version")
    assert _ids(spark, f"{T}__v1") == NEW


def test_kill_before_partition_registration(spark, killpt_db, monkeypatch):
    """The CTAS of a partitioned version creates the catalog entry,
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
                  lambda m: m.setattr(mt, "_create_version", unregistered_then_kill),
                  partitioned=True)
    assert spark.table(f"{T}__v3").count() == 0
    _recover_then_overwrite(spark, NEW, partitioned=True, action="promoted_version")


def test_overwrite_reading_its_own_table(spark, killpt_db):
    """The new version may be derived from the table it replaces: the
    old version stays readable until the view repoints."""
    mt.overwrite_via_staging(spark, "swap_t", spark.range(10))
    doubled = spark.table("swap_t").selectExpr("id * 2 AS id")
    mt.overwrite_via_staging(spark, "swap_t", doubled)
    assert _ids(spark, "swap_t") == [i * 2 for i in range(10)]
    assert mt.list_versions(spark, "swap_t") == [1, 2]


def test_crash_between_write_and_repoint_promotes(spark, killpt_db):
    mt.overwrite_via_staging(spark, "crv_t", _df(spark, [1]))
    # crash state: v2 complete but the view still at v1
    _df(spark, [2]).write.saveAsTable("crv_t__v2")
    assert mt.recover_staged_swap(spark, "crv_t") == "promoted_version"
    assert mt.current_version(spark, "crv_t") == 2
    assert _ids(spark, "crv_t") == [2]


def test_crash_with_view_missing_promotes_max_version(spark, killpt_db):
    _df(spark, [1]).write.saveAsTable("crm_t__v1")
    _df(spark, [2]).write.saveAsTable("crm_t__v2")
    assert mt.recover_staged_swap(spark, "crm_t") == "promoted_version"
    assert mt.current_version(spark, "crm_t") == 2
    assert _ids(spark, "crm_t") == [2]


def test_recovery_prunes_when_retain_depth_lowered(spark, killpt_db):
    """The recovery sweep honors ``retain_versions`` too: versions
    kept at depth 3 are pruned to depth 2 on the next recovery pass
    that asks for 2."""
    for i in range(1, 5):
        mt.overwrite_via_staging(spark, "retc_t", spark.range(i * 10), retain_versions=3)
    assert mt.list_versions(spark, "retc_t") == [2, 3, 4]
    assert mt.recover_staged_swap(spark, "retc_t", retain_versions=2) == "pruned_versions"
    assert mt.list_versions(spark, "retc_t") == [3, 4]


def test_sweep_repairs_view_missing_and_prunes(spark, killpt_db):
    """Catalog-wide startup sweep: crash states on tables a run only
    READS are repaired without waiting for that table's next write."""
    # table A: a first write killed before its view (the swap marks
    # every __v{N} it writes — stamp it here too)
    _df(spark, [1]).write.saveAsTable("sw_a__v1")
    mt._mark_managed(spark, "sw_a__v1")
    # table B: versioned table whose next version was written but the
    # view not yet repointed
    mt.overwrite_via_staging(spark, "sw_b", _df(spark, [2]))
    _df(spark, [99]).write.saveAsTable("sw_b__v2")

    actions = mt.recover_all(spark)
    assert actions == {"sw_a": "promoted_version", "sw_b": "promoted_version"}
    assert _ids(spark, "sw_a") == [1]
    assert _ids(spark, "sw_b") == [99]


def test_pipeline_entry_runs_the_sweep(spark, killpt_db):
    from spaceparts_data_pipeline_spark.plans import runner

    # leave a view-missing crash state, then start a pipeline run
    _df(spark, [7]).write.saveAsTable("sw_c__v3")
    mt._mark_managed(spark, "sw_c__v3")
    res = runner.run_pipeline(spark, sources={})
    assert res.get("recovered", {}).get("sw_c") == "promoted_version"
    assert _ids(spark, "sw_c") == [7]


def test_sweep_never_touches_user_tables_matching_the_convention(spark, killpt_db):
    """A user table that merely LOOKS like a swap artifact — no managed
    marker, no version view — must survive the sweep intact: putting a
    view over report__v2 or dropping foo__v1 would be destructive
    actions on tables the pipeline never managed."""
    # user table named like an unpromoted version, with no base table
    _df(spark, [1]).write.saveAsTable("report__v2")
    # user version-convention table next to a real user table
    spark.range(3).write.saveAsTable("foo")
    _df(spark, [9]).write.saveAsTable("foo__v1")

    actions = mt.recover_all(spark)
    assert "report" not in actions and "foo" not in actions
    assert _ids(spark, "report__v2") == [1]
    assert not spark.catalog.tableExists("report")
    assert _ids(spark, "foo__v1") == [9]
    assert spark.table("foo").count() == 3


def test_sweep_still_acts_on_marked_artifacts(spark, killpt_db):
    """The inverse guard: a marked unpromoted version IS promoted — but
    never over a plain table holding the name, which recovery leaves
    alone along with its neighbours."""
    _df(spark, [9]).write.saveAsTable("mk__v1")
    mt._mark_managed(spark, "mk__v1")
    spark.range(4).write.saveAsTable("mkp")
    _df(spark, [8]).write.saveAsTable("mkp__v1")
    mt._mark_managed(spark, "mkp__v1")

    actions = mt.recover_all(spark)
    assert actions == {"mk": "promoted_version"}
    assert _ids(spark, "mk") == [9]
    assert mt.recover_staged_swap(spark, "mkp") is None
    assert spark.table("mkp").count() == 4
    assert _ids(spark, "mkp__v1") == [8]


def test_recover_all_scopes_recovery_to_the_given_db(spark, killpt_db):
    """``recover_all(db=...)`` probes ownership with db-qualified names
    and must recover the db-qualified base too: an unqualified repair
    resolved in the CURRENT database, leaving the target db's crashed
    view missing and mutating same-named artifacts the current db
    happened to hold."""
    other = f"{DB}_other"
    # decoy in the CURRENT db: a versioned table with a marked version
    # ahead of its view — an unqualified recovery would promote it
    mt.overwrite_via_staging(spark, "sw_x", spark.range(3))
    _df(spark, [9]).write.saveAsTable("sw_x__v2")
    mt._mark_managed(spark, "sw_x__v2")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {other}")
    try:
        # a first write killed before its view, in the TARGET db
        _df(spark, [1]).write.saveAsTable(f"{other}.sw_x__v1")
        mt._mark_managed(spark, f"{other}.sw_x__v1")

        actions = mt.recover_all(spark, db=other)

        assert actions == {f"{other}.sw_x": "promoted_version"}
        assert _ids(spark, f"{other}.sw_x") == [1]
        # the current db's same-named tables are untouched
        assert mt.current_version(spark, "sw_x") == 1
        assert spark.table("sw_x").count() == 3
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {other} CASCADE")


def test_clear_orphan_location_refuses_plain_names(spark, killpt_db):
    """The proactive sweep only ever deletes version names (``__v{N}``);
    any other name raises — the reactive force path is reserved for
    safe_save_as_table's proven-wedge precondition."""
    for name in ("totally_normal_table", "nope__compact", "nope__old"):
        with pytest.raises(ValueError):
            mt._clear_orphan_location(spark, name)
    # a version name passes the check (nothing to delete → False)
    assert mt._clear_orphan_location(spark, "nope__v3") is False
