"""How many Spark jobs a tenant attempt and a tick's routing start, and
the routing query's answers on edge-case envelope batches.

Each tenant attempt runs one action, the load's write; the batch
watermark rides on it as an ``Observation``. The tick's control plane
runs one routing query: the envelopes grouped by org, with the reject
count in the NULL-org group, joined to the tenant config.
"""

from __future__ import annotations

import base64
import contextlib
import datetime as dt
import json
import uuid

import pytest

from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
from bigquery_cross_environment_etl_pipeline_spark.operators.config import (
    ConfigStore,
    attach_config,
)
from bigquery_cross_environment_etl_pipeline_spark.operators.extract import window_scan
from bigquery_cross_environment_etl_pipeline_spark.operators.load import load_append
from bigquery_cross_environment_etl_pipeline_spark.orchestrator import run_jobs_for_messages
from bigquery_cross_environment_etl_pipeline_spark.pipeline import EPOCH, process_etl_job
from bigquery_cross_environment_etl_pipeline_spark.schemas import CONFIG_SCHEMA, STATUS_FAILED
from bigquery_cross_environment_etl_pipeline_spark.sources.pubsub import (
    decode_envelopes,
    rejected_messages,
    valid_messages,
)
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE

NOW = dt.datetime(2024, 1, 15)


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_SMOKE, "events")


@contextlib.contextmanager
def started_jobs(spark):
    """Collects the ids of the Spark jobs started inside the block (in
    this thread) into the yielded list."""
    sc = spark.sparkContext
    group = f"etl-actions-{uuid.uuid4()}"
    ids: list[int] = []
    sc.setJobGroup(group, "job count")
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def sql_executions(spark, job_ids: list[int]) -> int:
    """Number of SQL queries (executions) the jobs belong to."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 50), 50)
    wanted, found = set(job_ids), 0
    for i in range(recent.size()):
        jobs = {int(j) for j in str(recent.apply(i).jobs().keySet().mkString(",")).split(",") if j}
        if jobs & wanted:
            found += 1
            wanted -= jobs
    assert not wanted, f"jobs {sorted(wanted)} belong to no recent SQL execution"
    return found


def _env(payload: dict) -> str:
    return json.dumps(
        {"message": {"data": base64.b64encode(json.dumps(payload).encode()).decode()}}
    )


def _config(spark, tmp_path, orgs=(1, 2)) -> ConfigStore:
    store = ConfigStore(spark, str(tmp_path / "config"))
    store.write(
        spark.createDataFrame(
            [(o, f"proj-{o}", "b", "t", f"ds{o}", f"tb{o}", "sa") for o in orgs], CONFIG_SCHEMA
        )
    )
    return store


def test_attempt_starts_the_load_jobs_only(spark, tmp_path, events):
    """A single-attempt job on a non-empty window starts exactly the jobs
    of ``load_append`` alone on the same batch: the watermark costs none."""
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))
    with started_jobs(spark) as job_ids:
        res = process_etl_job(spark, 1, events, "ts", str(tmp_path / "dest"), ckpt, now=NOW)
    assert res.rows_loaded > 0 and res.attempts == 1

    batch = window_scan(events, "ts", EPOCH, NOW)
    with started_jobs(spark) as load_ids:
        load_append(batch, str(tmp_path / "dest2"), batch_id="b")
    assert len(load_ids) > 0
    assert len(job_ids) == len(load_ids)
    assert sql_executions(spark, job_ids) == 1


def test_attempt_whose_transform_raises_starts_no_job(spark, tmp_path, events):
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))

    def broken(df):
        raise RuntimeError("transform failure")

    with started_jobs(spark) as job_ids:
        with pytest.raises(RuntimeError, match="failed after 1 attempts"):
            process_etl_job(
                spark, 1, events, "ts", str(tmp_path / "dest"), ckpt,
                now=NOW, transform=broken, max_attempts=1,
            )
    assert job_ids == []
    assert [r["status"] for r in ckpt.read().collect()].count(STATUS_FAILED) == 1


def test_tick_without_runnable_tenant_runs_only_the_routing_query(spark, tmp_path, events):
    config = _config(spark, tmp_path)
    envelopes = spark.createDataFrame(
        [(_env({"org_id": 99}),), ("not json",), (_env({"nope": 1}),)], "body string"
    )
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))
    with started_jobs(spark) as job_ids:
        res = run_jobs_for_messages(
            spark, envelopes, config, events, "ts", str(tmp_path / "dest"), ckpt, now=NOW
        )
    assert (res.jobs, res.rejected_messages, res.unknown_orgs) == ([], 2, [99])
    assert len(job_ids) > 0
    assert sql_executions(spark, job_ids) == 1


def _old_routing(decoded, config: ConfigStore) -> tuple[int, list[int], list[int]]:
    """The routing of the separate-count implementation: a reject
    count, a distinct of the valid orgs, and a left join to the config."""
    n_rejected = rejected_messages(decoded).count()
    msgs = valid_messages(decoded).select("org_id").distinct()
    routed = sorted(attach_config(msgs, config.read(), "left").collect(), key=lambda r: r["org_id"])
    unknown = [r["org_id"] for r in routed if r["projectid"] is None]
    runnable = [r["org_id"] for r in routed if r["projectid"] is not None]
    return n_rejected, unknown, runnable


def _empty_parquet(spark, tmp_path):
    path = str(tmp_path / "envelopes.parquet")
    spark.createDataFrame([], "body string").write.parquet(path)
    return spark.read.parquet(path)


ENVELOPE_BATCHES = {
    "empty_parquet": _empty_parquet,
    "empty_created": lambda spark, _: spark.createDataFrame([], "body string"),
    "all_malformed": lambda spark, _: spark.createDataFrame(
        [("not json",), (_env({"nope": True}),), (json.dumps({"message": {"data": "%%"}}),),
         (_env({"org_id": None}),)],
        "body string",
    ),
    "duplicates_for_one_org": lambda spark, _: spark.createDataFrame(
        [(_env({"org_id": 1}),)] * 3 + [("garbage",)], "body string"
    ),
    "unknown_org": lambda spark, _: spark.createDataFrame(
        [(_env({"org_id": 7}),), (_env({"org_id": 2}),)], "body string"
    ),
}


@pytest.mark.parametrize("batch", sorted(ENVELOPE_BATCHES))
def test_routing_matches_separate_count_and_distinct(spark, tmp_path, events, batch):
    config = _config(spark, tmp_path)
    envelopes = ENVELOPE_BATCHES[batch](spark, tmp_path)
    want_rejected, want_unknown, want_runnable = _old_routing(decode_envelopes(envelopes), config)

    res = run_jobs_for_messages(
        spark, envelopes, config, events, "ts", str(tmp_path / "dest"),
        CheckpointLog(spark, str(tmp_path / "ckpt")), now=dt.datetime(2000, 1, 1),
    )
    assert res.rejected_messages == want_rejected
    assert res.unknown_orgs == want_unknown
    assert [j.org_id for j in res.jobs] == want_runnable
