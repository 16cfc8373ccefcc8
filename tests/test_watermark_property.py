"""The observed batch watermark equals the separate ``batch.agg(max)``.

``process_etl_job`` reads max(ts) of the extracted batch from an
``Observation`` on the load's pass. This drives random sources and run
histories through it and through the same job with the watermark
computed the old way (a ``max`` job over the batch before the load),
and checks that both give the same watermarks, loaded-row counts,
checkpoints and destinations, under two host time zones. Source
windows straddle a DST change of America/New_York.
"""

from __future__ import annotations

import datetime as dt
import glob
import shutil
import tempfile
import threading

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.operators import extract
from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
from bigquery_cross_environment_etl_pipeline_spark.operators.extract import extract_incremental
from bigquery_cross_environment_etl_pipeline_spark.operators.load import load_append
from bigquery_cross_environment_etl_pipeline_spark.pipeline import EPOCH, process_etl_job
from bigquery_cross_environment_etl_pipeline_spark.schemas import (
    STATUS_FAILED,
    STATUS_IN_PROGRESS,
    STATUS_SUCCESS,
)

from .test_checkpoint_log import _host_tz

SCHEMA = "id long, v long, ts timestamp, tag string"
US = dt.timedelta(microseconds=1)
HOUR_US = 3_600_000_000
#: the night before a DST change in America/New_York: spring gap, autumn fold
BASES = (dt.datetime(2024, 3, 9, 12), dt.datetime(2024, 11, 2, 12))
TZS = ("UTC", "America/New_York")


def _passthrough(batches):
    yield from batches


TRANSFORMS = {
    "identity": lambda df: df,
    "filter": lambda df: df.filter(F.col("v") % 2 == 0),
    "projection": lambda df: df.select("ts", "v", "id"),
    "map_in_pandas": lambda df: df.mapInPandas(_passthrough, df.schema),
    "self_union": lambda df: df.unionByName(df),
    # the optimizer removes the observed node: the observation completes
    # with an empty row, which is not an empty batch
    "drop_all": lambda df: df.filter(F.lit(False)),
}


def _validate():
    return F.col("v") % 3 != 0


def _old_job(org, source, dest, ckpt, now, transform, validate):
    """One attempt with the watermark computed by a ``max`` job over the
    batch before the load. Returns (new watermark, rows loaded), or
    None when the load failed."""
    wm = ckpt.last_success_watermark(org, "default")
    batch, start, _ = extract_incremental(source, "ts", wm, now, epoch=EPOCH)
    max_ts = batch.agg(F.max("ts").alias("wm")).first()["wm"]
    new_wm = (max_ts + US) if max_ts else max(start, now)
    ckpt.save(STATUS_IN_PROGRESS, org, "default", None, now=now)
    result = load_append(
        batch.transform(transform), dest,
        batch_id=f"org{org}-{start:%Y%m%dT%H%M%S%f}", validate=validate,
    )
    if result.status == STATUS_FAILED:
        ckpt.save(STATUS_FAILED, org, "default", None, now=now)
        return None
    ckpt.save(STATUS_SUCCESS, org, "default", new_wm, now=now)
    return new_wm, result.loaded_rows


def _new_job(spark, org, source, dest, ckpt, now, transform, validate):
    try:
        r = process_etl_job(
            spark, org, source, "ts", dest, ckpt, now=now,
            transform=transform, validate=validate, max_attempts=1,
        )
    except RuntimeError:
        return None
    return r.new_watermark, r.rows_loaded


def _rows(spark, path: str) -> list[tuple]:
    if not glob.glob(f"{path}/**/*.parquet", recursive=True):
        return []  # no load yet, or only loads of empty batches
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _source(spark, root, base, offsets, created):
    rows = [(i, (o * 7) % 10, base + o * US, f"t{i % 3}") for i, o in enumerate(offsets)]
    df = spark.createDataFrame(rows, SCHEMA)
    if created:
        return df
    df.write.parquet(f"{root}/source")
    return spark.read.schema(SCHEMA).parquet(f"{root}/source")


histories = st.fixed_dictionaries({
    "base": st.sampled_from(BASES),
    "offsets": st.lists(st.integers(0, 30 * HOUR_US), max_size=25),
    # run `now`s as offsets from base: may fall before the data, or at
    # or before the watermark an earlier run left
    "nows": st.lists(st.integers(-2 * HOUR_US, 32 * HOUR_US), min_size=1, max_size=3),
    "transform": st.sampled_from(sorted(TRANSFORMS)),
    "validate": st.booleans(),
    "created": st.booleans(),
})


def _case(transform, **kw):
    case = {"base": BASES[1], "offsets": [0, 5, HOUR_US, 2 * HOUR_US + 1, 26 * HOUR_US],
            "nows": [26 * HOUR_US, 2 * HOUR_US, 30 * HOUR_US], "transform": transform,
            "validate": True, "created": False}
    return {**case, **kw}


@pytest.mark.parametrize("tz", TZS)
@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(h=histories)
@example(h=_case("identity"))
@example(h=_case("filter"))
@example(h=_case("projection", validate=False))
@example(h=_case("map_in_pandas"))
@example(h=_case("self_union", base=BASES[0]))
@example(h=_case("drop_all", validate=False))
@example(h=_case("identity", offsets=[], created=True, validate=False))
def test_observed_watermark_matches_max_job(spark, tz, h):
    root = tempfile.mkdtemp(prefix="wm_parity_")
    try:
        with _host_tz(tz):
            source = _source(spark, root, h["base"], h["offsets"], h["created"])
            transform = TRANSFORMS[h["transform"]]
            validate = _validate() if h["validate"] else None
            old_log = CheckpointLog(spark, f"{root}/old_ckpt")
            new_log = CheckpointLog(spark, f"{root}/new_ckpt")
            for k, offset in enumerate(h["nows"]):
                now = h["base"] + offset * US
                want = _old_job(7, source, f"{root}/old", old_log, now, transform, validate)
                got = _new_job(spark, 7, source, f"{root}/new", new_log, now, transform, validate)
                assert got == want, f"run {k} at {now}"
            assert new_log.last_success_watermark(7, "default") == old_log.last_success_watermark(7, "default")
            assert _rows(spark, f"{root}/new") == _rows(spark, f"{root}/old")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_unrelated_transform_result_falls_back_without_hanging(spark, tmp_path, monkeypatch):
    """A hook returning a frame not built from its input leaves the
    observation unfired; the reader must not wait for it, and the
    watermark must come from the fallback ``max`` over the batch."""
    base = BASES[0]
    source = _source(spark, str(tmp_path), base, [0, 10, 20], created=False)
    unrelated = spark.createDataFrame([(1, 1, base - dt.timedelta(days=9), "x")], SCHEMA)
    reads = []

    def spy(obs):
        out = real(obs)
        reads.append(out)
        return out

    real = extract.observed_metrics
    monkeypatch.setattr(extract, "observed_metrics", spy)
    outcome = {}

    def run():
        try:
            outcome["result"] = process_etl_job(
                spark, 1, source, "ts", str(tmp_path / "dest"),
                CheckpointLog(spark, str(tmp_path / "ckpt")),
                now=base + dt.timedelta(hours=1), transform=lambda df: unrelated, max_attempts=1,
            )
        except Exception as exc:  # noqa: BLE001 — reported by the asserts below
            outcome["error"] = exc

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "the watermark reader hung"
    assert "error" not in outcome, outcome.get("error")
    res = outcome["result"]
    assert reads == [None]
    assert res.new_watermark == base + 20 * US + US
    assert res.rows_loaded == 1
