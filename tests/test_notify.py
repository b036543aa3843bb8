"""Failure-notification hook (plans/notify.py): the reference's
Lookup_Error_* → Email_Notificacion_Error_* chain (ETL_FABRIC.json:1)
with a pluggable transport."""

from __future__ import annotations

import json

import pytest

from spaceparts_data_pipeline_spark.plans import logs
from spaceparts_data_pipeline_spark.plans.notify import (
    CallableNotifier, CompositeNotifier, FileNotifier, Notification,
    WebhookNotifier, notify_on_failure, render_failure,
)

#: soak tier (r16 verdict #2): excluded from the default
#: driver-facing run (see pytest.ini); run with -m soak / -m ""
pytestmark = pytest.mark.soak


@pytest.fixture()
def notify_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS notify_db")
    spark.catalog.setCurrentDatabase("notify_db")
    yield
    spark.catalog.setCurrentDatabase("default")
    spark.sql("DROP DATABASE notify_db CASCADE")


def _log(spark, log_table, layer, table_name, execution_id, status,
         record_count=None, message=None):
    """One execution-log row, appended at once through the pipeline's
    own sink."""
    buf = logs.LogBuffer(spark, log_table)
    buf.add(layer, table_name, execution_id, status, record_count, message)
    buf.flush()


def _note(**kw):
    base = dict(layer="gold", subject="s", body="b")
    base.update(kw)
    return Notification(**base)


class TestTransports:
    def test_file_notifier_appends_json_lines(self, tmp_path):
        path = str(tmp_path / "alerts.jsonl")
        n = FileNotifier(path)
        assert n.send(_note(execution_id="e1"))
        assert n.send(_note(execution_id="e2"))
        lines = [json.loads(ln) for ln in open(path).read().splitlines()]
        assert [x["execution_id"] for x in lines] == ["e1", "e2"]
        assert lines[0]["layer"] == "gold" and lines[0]["subject"] == "s"

    def test_webhook_notifier_reports_failure_never_raises(self):
        # unroutable port: connection refused fast — the alert channel
        # being down must not raise into the pipeline
        n = WebhookNotifier("http://127.0.0.1:9/", timeout_s=2.0)
        assert n.send(_note()) is False
        assert n.last_error

    def test_webhook_notifier_malformed_url_never_raises(self):
        # r16 review: a schemeless URL used to raise ValueError at
        # Request CONSTRUCTION, before the try — a misconfigured alert
        # endpoint must not crash the pipeline either
        n = WebhookNotifier("example.com/hook", timeout_s=2.0)
        assert n.send(_note()) is False
        assert n.last_error

    def test_file_notifier_unwritable_path_never_raises(self, tmp_path):
        n = FileNotifier(str(tmp_path / "no" / "such" / "dir" / "a.jsonl"))
        assert n.send(_note()) is False
        assert n.last_error

    def test_callable_notifier_never_raises(self):
        def boom(_d):
            raise RuntimeError("slack down")

        n = CallableNotifier(boom)
        assert n.send(_note()) is False
        assert "slack down" in n.last_error
        # and the composite still attempts transports AFTER the crasher
        got = []
        combo = CompositeNotifier([n, CallableNotifier(got.append)])
        assert combo.send(_note())
        assert got

    def test_composite_attempts_every_transport(self, tmp_path):
        """No short-circuit: the file landing first must not suppress
        the webhook the on-call channel reads (r14 review finding)."""
        got_a, got_b = [], []
        ok_first = CallableNotifier(got_a.append)
        ok_second = CallableNotifier(got_b.append)
        dead = WebhookNotifier("http://127.0.0.1:9/", timeout_s=2.0)
        combo = CompositeNotifier([ok_first, dead, ok_second])
        assert combo.send(_note(table_name="t"))     # any success wins
        assert got_a and got_a[0]["table_name"] == "t"
        assert got_b and got_b[0]["table_name"] == "t"   # still attempted
        assert dead.last_error                            # and so was the dead one


class TestLookupChain:
    def test_notifies_from_latest_failure_row(self, spark, notify_db, tmp_path):
        _log(spark, "gold_execution_log", "gold", "gold_fact_sales",
             "e-old", "failed", None, "older failure")
        _log(spark, "gold_execution_log", "gold", "gold_dim_date",
             "e-new", "failed", None, "boom: join exploded")
        _log(spark, "gold_execution_log", "gold", "gold_dim_customer",
             "e-new", "success", 10)
        path = str(tmp_path / "alerts.jsonl")
        assert notify_on_failure(spark, "gold_execution_log", "gold",
                                 FileNotifier(path))
        (alert,) = [json.loads(ln) for ln in open(path).read().splitlines()]
        # TOP-1 by timestamp: the NEWEST failure, not the oldest
        assert alert["table_name"] == "gold_dim_date"
        assert alert["execution_id"] == "e-new"
        assert "boom: join exploded" in alert["body"]
        assert "gold" in alert["subject"]

    def test_execution_id_scope_prevents_stale_realert(self, spark, notify_db, tmp_path):
        _log(spark, "silver_execution_log", "silver", "events",
             "e-old", "failed", None, "yesterday's failure")
        path = str(tmp_path / "alerts.jsonl")
        # a later healthy run scoped to ITS execution id must not re-alert
        assert not notify_on_failure(spark, "silver_execution_log", "silver",
                                     FileNotifier(path), execution_id="e-healthy")
        # unscoped (the reference's shape) still alerts on the latest row
        assert notify_on_failure(spark, "silver_execution_log", "silver",
                                 FileNotifier(path))

    def test_no_failures_or_no_table_sends_nothing(self, spark, notify_db, tmp_path):
        path = str(tmp_path / "alerts.jsonl")
        assert not notify_on_failure(spark, "absent_log", "bronze", FileNotifier(path))
        _log(spark, "bronze_execution_log", "bronze", "orders",
             "e1", "success", 5)
        assert not notify_on_failure(spark, "bronze_execution_log", "bronze",
                                     FileNotifier(path))
        import os
        assert not os.path.exists(path)

    def test_gold_run_failure_feeds_the_chain_end_to_end(self, spark, notify_db, tmp_path):
        """A failing gold model builder → failed execution-log row
        (flushed immediately by LogBuffer) → notification with the
        model name and error details."""
        from spaceparts_data_pipeline_spark.plans import gold

        def bad_builder(_spark):
            raise ValueError("synthetic builder failure")

        bad = gold.GoldModel("gold_bad_model", bad_builder, ["k"])
        res = gold.run_full(spark, models=[bad])
        assert res["gold_bad_model"]["status"] == "failed"
        path = str(tmp_path / "alerts.jsonl")
        assert notify_on_failure(spark, "gold_execution_log", "gold",
                                 FileNotifier(path))
        (alert,) = [json.loads(ln) for ln in open(path).read().splitlines()]
        assert alert["table_name"] == "gold_bad_model"
        assert "synthetic builder failure" in alert["body"]


def test_render_failure_carries_reference_fields(spark, notify_db):
    _log(spark, "gold_execution_log", "gold", "t1", "e9",
         "failed", None, "why it died")
    row = spark.table("gold_execution_log").collect()[0]
    n = render_failure("gold", row, pipeline="p")
    assert n.subject == "ERROR in gold layer — pipeline p"
    for needle in ("t1", "e9", "why it died", "Timestamp (UTC):"):
        assert needle in n.body


def test_cli_builds_composite_notifier():
    import argparse

    from spaceparts_data_pipeline_spark.__main__ import _build_notifier

    ns = argparse.Namespace(notify_file=None, notify_webhook=None)
    assert _build_notifier(ns) is None
    ns = argparse.Namespace(notify_file="/tmp/x.jsonl", notify_webhook=None)
    assert isinstance(_build_notifier(ns), FileNotifier)
    ns = argparse.Namespace(notify_file="/tmp/x.jsonl", notify_webhook="http://h/")
    combo = _build_notifier(ns)
    assert isinstance(combo, CompositeNotifier) and len(combo.notifiers) == 2


def test_incremental_pipeline_isolates_table_failures(spark, notify_db, monkeypatch, tmp_path):
    """A failing table in the INCREMENTAL pipeline must not halt the
    layer: the failure lands as a 'failed' execution-log row (feeding
    the alert chain) and the other tables still run (r14 review
    finding: these failures previously crashed main() before the
    notify block could fire)."""
    import datetime as dt

    from spaceparts_data_pipeline_spark.plans import silver as silver_plan
    from spaceparts_data_pipeline_spark.streaming.incremental import run_incremental_pipeline

    t0 = dt.datetime(2025, 1, 1, 10, 0)
    src = {
        "good": spark.createDataFrame([("a", 1.0, t0)],
                                      "order_number string, amount double, dwcreateddate timestamp"),
        "bad": spark.createDataFrame([("b", 2.0, t0)],
                                     "order_number string, amount double, dwcreateddate timestamp"),
    }
    real = silver_plan.run_incremental

    def flaky(spark_, table, incoming, **kw):
        if table == "bad":
            raise ValueError("synthetic silver failure")
        return real(spark_, table, incoming, **kw)

    monkeypatch.setattr(silver_plan, "run_incremental", flaky)
    res = run_incremental_pipeline(spark, src, skip_gold=True)
    assert res["silver"]["good"]["status"] == "success"
    assert res["silver"]["bad"]["status"] == "failed"
    assert res["bronze"]["bad"]["status"] == "success"   # bronze side unaffected
    # ONE execution id threads the whole run: the failure row carries it
    # (so the alert chain can scope to this run), and it is returned
    exec_id = res["execution_id"]
    (frow,) = spark.table("silver_execution_log") \
        .filter("status = 'failed'").collect()
    assert frow["execution_id"] == exec_id
    # the failed row is in the log, so the alert chain can fire
    path = str(tmp_path / "alerts.jsonl")
    assert notify_on_failure(spark, "silver_execution_log", "silver",
                             FileNotifier(path))
    (alert,) = [json.loads(ln) for ln in open(path).read().splitlines()]
    assert alert["table_name"] == "bad"
    assert "synthetic silver failure" in alert["body"]


def test_cli_main_wires_notify_file_on_layer_failure(spark, tmp_path, capsys, monkeypatch):
    """The main() notify wiring end-to-end: a failing silver table in an
    incremental CLI run lands a notification in --notify-file, the
    summary records notified_layers, and the process still exits with
    the pipeline's own status (the alert path adds no failure mode)."""
    import datetime as dt
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spaceparts_data_pipeline_spark.__main__ import main
    from spaceparts_data_pipeline_spark.plans import silver as silver_plan

    landing = tmp_path / "landing"
    landing.mkdir()
    # landing table WITH the watermark column, so bronze succeeds and
    # the monkeypatched silver stage is what fails
    pq.write_table(pa.table({
        "order_number": ["a", "b"],
        "amount": [1.0, 2.0],
        "dwcreateddate": [dt.datetime(2025, 1, 1, 10, 0)] * 2,
    }), landing / "ordersx.parquet")

    def always_fail(*a, **kw):
        raise ValueError("synthetic incremental silver failure")

    monkeypatch.setattr(silver_plan, "run_incremental", always_fail)
    alerts = str(tmp_path / "alerts.jsonl")
    db = f"cli_notify_{_uuid.uuid4().hex[:8]}"
    prev_db = spark.catalog.currentDatabase()
    try:
        rc = main([
            "--source-dir", str(landing), "--database", db, "--skip-gold",
            "--mode", "incremental", "--ts-col", "dwcreateddate",
            "--notify-file", alerts,
        ])
        out = capsys.readouterr().out.strip().splitlines()[-1]
        summary = json.loads(out)
        assert rc == 1 and summary["status"] == "completed_with_errors"
        assert summary["notified_layers"] == ["silver"]
        (alert,) = [json.loads(ln) for ln in open(alerts).read().splitlines()]
        assert alert["layer"] == "silver"
        assert "synthetic incremental silver failure" in alert["body"]
    finally:
        spark.catalog.setCurrentDatabase(prev_db)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_cli_skipped_silver_does_not_resurrect_stale_failure(spark, tmp_path, capsys, monkeypatch):
    """r14 review finding: run 1 fails SILVER (failure row logged);
    run 2 fails BRONZE, so silver is skipped — the skipped stage wrote
    no row this run and must NOT re-alert run 1's silver failure. Only
    bronze (the root cause, scoped to run 2's execution id) alerts."""
    import datetime as dt
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spaceparts_data_pipeline_spark.__main__ import main
    from spaceparts_data_pipeline_spark.plans import bronze as bronze_plan
    from spaceparts_data_pipeline_spark.plans import silver as silver_plan

    landing = tmp_path / "landing"
    landing.mkdir()
    pq.write_table(pa.table({
        "order_number": ["a"],
        "amount": [1.0],
        "dwcreateddate": [dt.datetime(2025, 1, 1, 10, 0)],
    }), landing / "ordersy.parquet")
    alerts = str(tmp_path / "alerts.jsonl")
    db = f"cli_stale_{_uuid.uuid4().hex[:8]}"
    prev_db = spark.catalog.currentDatabase()
    base_args = ["--source-dir", str(landing), "--database", db, "--skip-gold",
                 "--mode", "incremental", "--notify-file", alerts]
    try:
        # run 1: silver fails
        def silver_fail(*a, **kw):
            raise ValueError("run-1 silver failure")

        monkeypatch.setattr(silver_plan, "run_incremental", silver_fail)
        main(base_args)
        monkeypatch.undo()
        run1 = [json.loads(ln) for ln in open(alerts).read().splitlines()]
        assert [a["layer"] for a in run1] == ["silver"]

        # run 2: bronze fails -> silver skipped
        def bronze_fail(*a, **kw):
            raise ValueError("run-2 bronze failure")

        monkeypatch.setattr(bronze_plan, "run_incremental", bronze_fail)
        main(base_args)
        capsys.readouterr()
        run2 = [json.loads(ln) for ln in open(alerts).read().splitlines()][len(run1):]
        assert [a["layer"] for a in run2] == ["bronze"]     # no stale silver alert
        assert "run-2 bronze failure" in run2[0]["body"]
    finally:
        spark.catalog.setCurrentDatabase(prev_db)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


class TestNotifyFailedLayers:
    def test_stale_last_error_not_harvested_for_silent_layer(self, spark, notify_db, tmp_path):
        """r15 advice #1: a transport's last_error from a PREVIOUS
        layer's send must not be recorded under a later layer whose
        notify sent nothing (no failure row / missing log table) —
        that reports a delivery failure for a send that never
        happened. last_error is reset before each layer's send."""
        from spaceparts_data_pipeline_spark.plans.notify import notify_failed_layers

        # gold HAS a failure row; its delivery dies -> last_error set
        _log(spark, "gold_execution_log", "gold", "gold_fact_sales",
             "e1", "failed", None, "gold blew up")

        def boom(_d):
            raise RuntimeError("transport down")

        dead = CallableNotifier(boom)
        # silver has NO log table at all: notify sends nothing there
        notified, errors = notify_failed_layers(
            spark, {"gold": "e1", "silver": "e1"}, dead)
        assert notified == []
        assert "CallableNotifier:gold" in errors          # real failed send
        assert "CallableNotifier:silver" not in errors    # no send happened

    def test_composite_reset_and_per_layer_harvest(self, spark, notify_db, tmp_path):
        """Composite transports: each part resets per layer; a healthy
        file transport records nothing while the dead webhook records
        one error per layer that actually sent."""
        from spaceparts_data_pipeline_spark.plans.notify import notify_failed_layers

        _log(spark, "bronze_execution_log", "bronze", "landing_x",
             "e2", "failed", None, "bad parquet footer")
        ok = FileNotifier(str(tmp_path / "alerts.jsonl"))
        dead = WebhookNotifier("http://127.0.0.1:9/", timeout_s=2.0)
        dead.last_error = "stale from an earlier run"     # must be cleared
        combo = CompositeNotifier([ok, dead])
        notified, errors = notify_failed_layers(spark, {"bronze": "e2"}, combo)
        assert notified == ["bronze"]                     # file landed
        assert "FileNotifier:bronze" not in errors
        assert "stale from an earlier run" not in errors.get("WebhookNotifier:bronze", "")
        assert errors.get("WebhookNotifier:bronze")       # the REAL failure
