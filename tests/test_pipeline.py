"""End-to-end ETL protocol tests: checkpoint/watermark semantics (T1-T7),
idempotent re-runs, partial-failure verdicts, provisioning DDL."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
from bigquery_cross_environment_etl_pipeline_spark.operators.config import (
    ConfigStore,
    StepStatusStore,
    attach_config,
)
from bigquery_cross_environment_etl_pipeline_spark.operators.load import load_append
from bigquery_cross_environment_etl_pipeline_spark.pipeline import identity_transform, process_etl_job
from bigquery_cross_environment_etl_pipeline_spark.schemas import (
    CONFIG_SCHEMA,
    STATUS_SUCCESS,
    STEP_STATUS_SCHEMA,
)
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_SMOKE, "events")


def _config_store(spark, tmp_path):
    store = ConfigStore(spark, str(tmp_path / "config"))
    rows = [
        (1, "proj-1", "bds1", "t1", "pulse_ds_1", "pt1", "sa-1"),
        (2, "proj-2", "bds2", "t2", None, None, "sa-2"),
    ]
    store.write(spark.createDataFrame(rows, CONFIG_SCHEMA))
    return store


def test_checkpoint_watermark_roundtrip(spark, tmp_path):
    log = CheckpointLog(spark, str(tmp_path / "ckpt"))
    assert log.last_success_watermark(1, "p") is None
    t1 = dt.datetime(2024, 1, 5)
    t2 = dt.datetime(2024, 1, 9)
    log.save("IN_PROGRESS", 1, "p")
    log.save("SUCCESS", 1, "p", t1)
    log.save("SUCCESS", 1, "p", t2)
    log.save("FAILED", 1, "p", dt.datetime(2024, 1, 20))  # FAILED never advances
    log.save("SUCCESS", 2, "p", dt.datetime(2024, 2, 1))  # other tenant
    assert log.last_success_watermark(1, "p") == t2
    latest = {
        (r["org_id"], r["project_id"]): r["watermark"]
        for r in log.latest_per_key().collect()
    }
    assert latest[(1, "p")] == t2


def test_checkpoint_rejects_bad_status(spark, tmp_path):
    log = CheckpointLog(spark, str(tmp_path / "ckpt"))
    with pytest.raises(ValueError):
        log.save("BOGUS", 1, "p")


def test_etl_job_incremental_windows(spark, tmp_path, events):
    """Two consecutive runs partition the stream: no dup/lost rows across
    the half-open boundary (T3), watermark advances to max(ts) (T2)."""
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))
    dest = str(tmp_path / "dest")
    mid = dt.datetime(2024, 1, 15)
    end = dt.datetime(2024, 2, 1)

    r1 = process_etl_job(spark, 1, events, "ts", dest, ckpt, now=mid)
    assert r1.status == STATUS_SUCCESS
    expected_1 = events.filter(F.col("ts") < F.lit(mid)).count()
    assert r1.rows_loaded == expected_1
    wm1 = ckpt.last_success_watermark(1, "default")
    max1 = events.filter(F.col("ts") < F.lit(mid)).agg(F.max("ts")).first()[0]
    assert wm1 == max1 + dt.timedelta(microseconds=1)

    r2 = process_etl_job(spark, 1, events, "ts", dest, ckpt, now=end)
    total = spark.read.parquet(dest).count()
    assert total == events.count(), "runs must partition the stream exactly"
    assert r2.rows_loaded == events.count() - expected_1


def test_etl_job_empty_batch_advances_watermark(spark, tmp_path, events):
    """T2: an empty window still advances the watermark to `now`."""
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))
    dest = str(tmp_path / "dest")
    end = dt.datetime(2024, 2, 1)
    process_etl_job(spark, 1, events, "ts", dest, ckpt, now=end)
    later = dt.datetime(2024, 3, 1)
    r = process_etl_job(spark, 1, events, "ts", dest, ckpt, now=later)
    assert r.rows_loaded == 0
    assert ckpt.last_success_watermark(1, "default") == later


def test_etl_job_rerun_is_idempotent(spark, tmp_path, events):
    """Re-running the same window overwrites its own batch (no at-least-
    once duplicates — the deliberate divergence, SURVEY.md §7.4.1)."""
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))
    dest = str(tmp_path / "dest")
    mid = dt.datetime(2024, 1, 15)
    process_etl_job(spark, 1, events, "ts", dest, ckpt, now=mid)
    n1 = spark.read.parquet(dest).count()
    # wipe the checkpoint so the same window re-runs from epoch
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    ckpt2 = CheckpointLog(spark, str(tmp_path / "ckpt"))
    process_etl_job(spark, 1, events, "ts", dest, ckpt2, now=mid)
    assert spark.read.parquet(dest).count() == n1


class _Crash(BaseException):
    """A process death: not an ``Exception``, so the T7 retry does not
    catch it and nothing after the crash point runs."""


class _CrashingLog(CheckpointLog):
    """Crashes the first ``save`` of ``status``."""

    def __init__(self, spark, path, status):
        super().__init__(spark, path)
        self.crash_on = status

    def save(self, status, *args, **kwargs):
        if status == self.crash_on:
            self.crash_on = None
            raise _Crash(status)
        super().save(status, *args, **kwargs)


def _crash_in_transform(df):
    raise _Crash("transform")


@pytest.mark.parametrize("crash_at", ["transform", "save_success"])
def test_crash_then_rerun_loads_each_row_once(spark, tmp_path, events, crash_at):
    """A job killed between IN_PROGRESS and load, or between load and
    SUCCESS, re-runs later (a new ``now``) from the same watermark; the
    destination ends with every source row exactly once."""
    ckpt = _CrashingLog(
        spark, str(tmp_path / "ckpt"), STATUS_SUCCESS if crash_at == "save_success" else None
    )
    dest = str(tmp_path / "dest")
    transform = _crash_in_transform if crash_at == "transform" else identity_transform
    with pytest.raises(_Crash):
        process_etl_job(
            spark, 1, events, "ts", dest, ckpt, now=dt.datetime(2024, 1, 15), transform=transform
        )
    assert ckpt.last_success_watermark(1, "default") is None

    r = process_etl_job(spark, 1, events, "ts", dest, ckpt, now=dt.datetime(2024, 2, 1))
    assert r.status == STATUS_SUCCESS
    loaded = spark.read.parquet(dest)
    assert loaded.count() == loaded.select("event_id").distinct().count() == events.count()


def test_empty_window_never_moves_watermark_back(spark, tmp_path, events):
    """T2: a run whose ``now`` is at or before the watermark loads nothing
    and leaves the watermark where it was; the next run re-extracts
    nothing."""
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))
    dest = str(tmp_path / "dest")
    end = dt.datetime(2024, 2, 1)
    process_etl_job(spark, 1, events, "ts", dest, ckpt, now=end)
    wm = ckpt.last_success_watermark(1, "default")

    early = process_etl_job(spark, 1, events, "ts", dest, ckpt, now=dt.datetime(2024, 1, 15))
    assert early.rows_loaded == 0 and early.new_watermark == wm
    assert ckpt.last_success_watermark(1, "default") == wm

    again = process_etl_job(spark, 1, events, "ts", dest, ckpt, now=end)
    assert again.rows_loaded == 0
    assert spark.read.parquet(dest).count() == events.count()


def test_load_partial_success_verdict(spark, tmp_path, events):
    dest = str(tmp_path / "dest")
    rejects = str(tmp_path / "rejects")
    res = load_append(
        events,
        dest,
        batch_id="b1",
        validate=F.col("event_type") != "error",
        reject_path=rejects,
    )
    assert res.status == "PARTIAL_SUCCESS" and res.code == 206
    assert res.loaded_rows + res.rejected_rows == res.total_rows
    assert spark.read.parquet(dest).count() == res.loaded_rows
    assert spark.read.parquet(rejects).count() == res.rejected_rows


def test_config_lookup_update_and_broadcast_join(spark, tmp_path):
    store = _config_store(spark, tmp_path)
    row = store.lookup(1)
    assert row["projectid"] == "proj-1"
    assert store.lookup(99) is None

    with pytest.raises(ValueError):
        store.update_values(1, "proj-1", {"org_id": 5})
    assert store.update_values(1, "proj-1", {"pulsetableid": "newtable"}) == 1
    assert store.update_values(99, "nope", {"pulsetableid": "x"}) == 0
    fresh = store.read().filter("org_id = 1").first()
    assert fresh["pulsetableid"] == "newtable"

    msgs = spark.createDataFrame([(1,), (2,), (3,)], "org_id long")
    joined = attach_config(msgs, store.read(), "left")
    got = {r["org_id"]: r["projectid"] for r in joined.collect()}
    assert got == {1: "proj-1", 2: "proj-2", 3: None}


def test_step_status_update(spark, tmp_path):
    steps = StepStatusStore(spark, str(tmp_path / "steps"))
    steps.write(spark.createDataFrame([(3, 1, False), (3, 2, False)], STEP_STATUS_SCHEMA))
    assert steps.set_step_completed(3, 1, True) == 1
    got = {
        (r["stepid"], r["org_id"]): r["step_completed"]
        for r in steps.read().collect()
    }
    assert got == {(3, 1): True, (3, 2): False}


def test_provision_workflow_and_rollback(spark, tmp_path):
    from bigquery_cross_environment_etl_pipeline_spark.operators import catalog

    store = _config_store(spark, tmp_path)
    steps = StepStatusStore(spark, str(tmp_path / "steps"))
    steps.write(spark.createDataFrame([(3, 2, False)], STEP_STATUS_SCHEMA))

    res = catalog.provision(spark, 2, store, steps)
    assert res.created, res.message
    assert catalog.database_exists(spark, "org_2_standard_export")
    assert catalog.table_exists(spark, "org_2_standard_export", "org_2_standard_export_table")
    assert store.read().filter("org_id = 2").first()["pulsebillingdataset"] == "org_2_standard_export"
    assert steps.read().first()["step_completed"] is True
    # nested schema survived the catalog round-trip
    cols = dict(
        spark.table("`org_2_standard_export`.`org_2_standard_export_table`").dtypes
    )
    assert cols["credits"].startswith("array<struct<")
    assert "export_time" in cols

    missing = catalog.provision(spark, 42, store, steps)
    assert not missing.created

    catalog.drop_database_cascade(spark, "org_2_standard_export")
    assert not catalog.database_exists(spark, "org_2_standard_export")


def test_analyze_table_records_statistics(spark):
    """ANALYZE TABLE puts rowCount/size into the catalog for the CBO."""
    from bigquery_cross_environment_etl_pipeline_spark.operators import catalog as cat
    from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (
        load_table,
    )

    from .conftest import SF_SMOKE

    db = "stats_test_db"
    cat.create_database(spark, db)
    try:
        orders = load_table(spark, SF_SMOKE, "orders")
        orders.write.mode("overwrite").saveAsTable(f"{db}.orders_stats")
        got = cat.analyze_table(spark, db, "orders_stats")
        assert got["statistics"] is not None
        assert "rows" in got["statistics"], got
        n = orders.count()
        assert str(n) in got["statistics"], got
    finally:
        cat.drop_database_cascade(spark, db)
