"""The checkpoint log's driver-side point operations.

``save`` and ``last_success_watermark`` run on the driver with pyarrow;
``read`` and ``latest_per_key`` stay Spark DataFrames. These tests pin
that the two sides agree on every history (Spark-written INT96 files and
foreign NULL-key rows included, under more than one host timezone), that
appends from several threads or processes are neither lost nor torn, and that the
point operations start no Spark job.
"""

from __future__ import annotations

import contextlib
import copy
import datetime as dt
import multiprocessing
import os
import sys
import tempfile
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
from bigquery_cross_environment_etl_pipeline_spark.schemas import (
    CHECKPOINT_SCHEMA,
    STATUS_IN_PROGRESS,
    STATUS_SUCCESS,
    VALID_STATUSES,
)

BASE = dt.datetime(2024, 1, 1)
ORGS, PROJECTS = (1, 2), ("p", "q")

#: the schema a foreign writer may use: nullability is not enforced on
#: file reads, so a NULL org_id can reach the log
_NULLABLE = copy.deepcopy(CHECKPOINT_SCHEMA)
for _f in _NULLABLE.fields:
    _f.nullable = True


@contextlib.contextmanager
def _host_tz(name: str):
    prev = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time.tzset()


def _spark_append(spark, path: str, rows: list[tuple]) -> None:
    """Append ``rows`` the way the log used to (createDataFrame + a Spark
    parquet write), in Spark's default INT96 timestamp encoding."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        spark.createDataFrame(rows, _NULLABLE).coalesce(1).write.mode("append").parquet(path)
    finally:
        spark.conf.set(key, prev)


def _spark_watermark(log: CheckpointLog, org_id: int, project_id: str):
    """The watermark read as a Spark aggregate over ``read()``."""
    return (
        log.read()
        .filter(
            (F.col("org_id") == org_id)
            & (F.col("project_id") == project_id)
            & (F.col("status") == STATUS_SUCCESS)
        )
        .agg(F.max("end_date_time"))
        .first()[0]
    )


# Naive (host wall-clock) and tz-aware instants, plus the two New York
# DST edges: a wall-clock time that does not exist and one that occurs
# twice.
_instants = st.one_of(
    st.datetimes(
        min_value=dt.datetime(2001, 1, 1),
        max_value=dt.datetime(2039, 12, 31),
        timezones=st.none() | st.sampled_from(
            [dt.timezone.utc, dt.timezone(dt.timedelta(hours=5, minutes=30))]
        ),
    ),
    st.sampled_from([dt.datetime(2024, 3, 10, 2, 30), dt.datetime(2024, 11, 3, 1, 30)]),
)
# (org, project, status, end_date_time, now, written by Spark?)
_entries = st.lists(
    st.tuples(
        st.sampled_from(ORGS),
        st.sampled_from(PROJECTS),
        st.sampled_from(sorted(VALID_STATUSES)),
        st.none() | _instants,
        _instants,
        st.booleans(),
    ),
    max_size=10,
)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(history=_entries)
def test_point_reads_match_spark_aggregate(spark, tz, history):
    with _host_tz(tz), tempfile.TemporaryDirectory(prefix="ckpt_parity_") as tmp:
        log = CheckpointLog(spark, f"{tmp}/log")
        # a foreign writer's NULL-org SUCCESS row, later than any tenant's
        legacy = [(None, "p", STATUS_SUCCESS, dt.datetime(2040, 1, 1), BASE)]
        for org, project, status, end, now, by_spark in history:
            if by_spark:
                legacy.append((org, project, status, end, now))
            else:
                log.save(status, org, project, end, now=now)
        _spark_append(spark, log.path, legacy)

        # every row reads back through Spark exactly as if Spark wrote it
        control = f"{tmp}/control"
        spark.createDataFrame(
            [(o, p, s, e, n) for o, p, s, e, n, _ in history] + legacy[:1], _NULLABLE
        ).coalesce(1).write.parquet(control)
        rows = sorted(map(tuple, log.read().collect()), key=repr)
        assert rows == sorted(map(tuple, CheckpointLog(spark, control).read().collect()), key=repr)

        latest = {(r["org_id"], r["project_id"]): r["watermark"] for r in log.latest_per_key().collect()}
        for org in (*ORGS, 3):
            for project in PROJECTS:
                got = log.last_success_watermark(org, project)
                assert got == _spark_watermark(log, org, project), (org, project)
                assert got == latest.get((org, project)), (org, project)


def _append_many(path: str, worker: int, n: int) -> None:
    log = CheckpointLog(None, path)
    for i in range(n):
        log.save(STATUS_SUCCESS, worker, "p", BASE + dt.timedelta(microseconds=i), now=BASE)


def test_multi_process_appenders_lose_no_rows(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    ctx = multiprocessing.get_context("spawn")
    procs = [ctx.Process(target=_append_many, args=(path, w, 25)) for w in range(4)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(180)
    assert [p.exitcode for p in procs] == [0] * 4

    log = CheckpointLog(spark, path)
    rows = log.read().collect()
    assert len(rows) == 100
    assert sorted((r["org_id"], r["end_date_time"]) for r in rows) == [
        (w, BASE + dt.timedelta(microseconds=i)) for w in range(4) for i in range(25)
    ]
    names = os.listdir(path)
    assert sum(n.startswith("part-") and n.endswith(".parquet") for n in names) == 100
    assert not [n for n in names if n.startswith(".")], "a temp file outlived its append"
    for w in range(4):
        assert log.last_success_watermark(w, "p") == BASE + dt.timedelta(microseconds=24)


def test_threaded_appenders_lose_no_rows(tmp_path):
    """The orchestrator's thread pool appends to one log with no lock:
    more threads than cores, a short switch interval, every row kept."""
    log = CheckpointLog(None, str(tmp_path / "ckpt"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(_append_many, log.path, w, 10) for w in range(16)]
            for f in futures:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert sum(n.endswith(".parquet") for n in os.listdir(log.path)) == 160
    for w in range(16):
        assert log.last_success_watermark(w, "p") == BASE + dt.timedelta(microseconds=9)


def test_point_operations_start_no_spark_jobs(spark, tmp_path):
    """``save`` and ``last_success_watermark`` stay off the job scheduler;
    the relational ``latest_per_key`` is the positive control."""
    sc = spark.sparkContext
    log = CheckpointLog(spark, str(tmp_path / "ckpt"))
    group = f"checkpoint-point-ops-{uuid.uuid4()}"
    sc.setJobGroup(group, "checkpoint point operations")
    try:
        assert log.last_success_watermark(1, "p") is None
        log.save(STATUS_IN_PROGRESS, 1, "p", now=BASE)
        log.save(STATUS_SUCCESS, 1, "p", BASE, now=BASE)
        assert log.last_success_watermark(1, "p") == BASE
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        log.latest_per_key().collect()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
