"""The end-to-end incremental ETL job (entry point 1, SURVEY.md §3.1).

Composes extract -> transform -> load -> checkpoint with the reference's
commit protocol (reference core/services/billing_etl.py:43-219):

1. resolve tenant config (S3); provision destination if missing (D7)
2. read watermark = latest SUCCESS end_date_time, else epoch (T1)
3. extract window [watermark, now) (S1/P4) — ``now`` pinned once per run
4. attach an observation of max(ts) to the batch; it is read after the
   load, which computes it in the same pass (T2)
5. checkpoint IN_PROGRESS  (T4)
6. transform hook (U1) — ``DataFrame.transform``, identity by default
7. append-load with partial-failure accounting (S8) — the attempt's one
   Spark action
8. new watermark = max(ts) + 1 µs of the batch; ``now`` on an empty
   batch, never before the current watermark (T2)
9. checkpoint SUCCESS / FAILED (T4), retry whole attempt <= 3 with
   exponential backoff (T7)

Divergences (documented, SURVEY.md §7.4): idempotent overwrite-by-batch-id
instead of at-least-once append; no LIMIT/OFFSET pagination; ``now``
pinned at the driver.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators.checkpoint import CheckpointLog
from .operators.config import ConfigStore
from .operators.extract import batch_watermark, extract_incremental
from .operators.load import LoadResult, load_append
from .schemas import STATUS_FAILED, STATUS_IN_PROGRESS, STATUS_SUCCESS

Transform = Callable[[DataFrame], DataFrame]

EPOCH = dt.datetime(1970, 1, 1)


def identity_transform(df: DataFrame) -> DataFrame:
    """U1: the documented custom-transformation hook
    (reference billing_etl.py:301-303) — identity by default."""
    return df


@dataclasses.dataclass
class JobResult:
    status: str
    code: int
    org_id: int
    project_id: str
    window_start: dt.datetime
    window_end: dt.datetime
    rows_extracted: int
    rows_loaded: int
    new_watermark: dt.datetime
    attempts: int


def process_etl_job(
    spark: SparkSession,
    org_id: int,
    source: DataFrame,
    ts_col: str,
    dest_path: str,
    checkpoints: CheckpointLog,
    config: ConfigStore | None = None,
    project_id: str = "default",
    transform: Transform = identity_transform,
    now: dt.datetime | None = None,
    max_attempts: int = 3,
    backoff: Callable[[int], float] | None = None,
    validate=None,
) -> JobResult:
    """Run one incremental ETL job for one tenant.

    Each attempt starts one Spark action, the load's write; an attempt
    whose ``transform`` raises starts none. The watermark is max(ts) of
    the extracted batch *before* ``transform``, observed during that
    write.

    ``transform`` contract: a per-record hook over the frame it is
    given — a map, a filter or a UDF, as in the reference's recipe
    (SURVEY.md U1, reference README.md:274-288). A ``limit``- or
    sample-style hook stops the pass early, so the observed max covers
    only the rows it consumed. If the hook returns a frame not built
    from its input, the watermark comes from a separate ``max`` job
    over the batch: one more job per attempt.
    """
    now = now or dt.datetime.now()
    if config is not None and config.lookup(org_id) is None:
        raise KeyError(f"no config for org_id={org_id}")

    last_exc: Exception | None = None
    for attempt in range(1, max_attempts + 1):
        try:
            wm = checkpoints.last_success_watermark(org_id, project_id)
            batch, start, end = extract_incremental(source, ts_col, wm, now, epoch=EPOCH)
            observed, read_max_ts = batch_watermark(batch, ts_col)

            checkpoints.save(STATUS_IN_PROGRESS, org_id, project_id, None, now=now)
            transformed = observed.transform(transform)
            # Keyed on the window START only: a re-run after a crash
            # between load and SUCCESS reads the same watermark but a later
            # `now`, and must overwrite the batch it already loaded.
            # Microseconds, because watermarks are max(ts) + 1 µs.
            batch_id = f"org{org_id}-{start:%Y%m%dT%H%M%S%f}"
            result: LoadResult = load_append(
                transformed, dest_path, batch_id=batch_id, validate=validate
            )
            if result.status == STATUS_FAILED:
                raise RuntimeError(f"load failed: {result}")
            # T2: data-driven watermark, observed by the load's pass; an
            # empty batch advances to `now` (reference
            # billing_etl.py:160-168). Divergence: we advance one
            # microsecond PAST max(ts) — the reference restarts the next
            # window AT max(ts) and re-extracts the boundary row
            # (at-least-once); with the +1µs tick adjacent windows
            # partition the stream exactly. A `now` at or before the
            # current watermark never moves it back.
            max_ts = read_max_ts()
            new_wm = (max_ts + dt.timedelta(microseconds=1)) if max_ts else max(start, now)
            checkpoints.save(STATUS_SUCCESS, org_id, project_id, new_wm, now=now)
            return JobResult(
                status=result.status,
                code=result.code,
                org_id=org_id,
                project_id=project_id,
                window_start=start,
                window_end=end,
                rows_extracted=result.total_rows,
                rows_loaded=result.loaded_rows,
                new_watermark=new_wm,
                attempts=attempt,
            )
        except Exception as exc:  # T7 retry envelope (billing_etl.py:144-219)
            last_exc = exc
            if attempt < max_attempts:
                time.sleep(backoff(attempt) if backoff else 0.0)

    # Final failure: FAILED checkpoint with the *old* watermark untouched —
    # avoiding the reference's possible NameError on an unset end_date_time
    # (SURVEY.md §7.4.7).
    checkpoints.save(STATUS_FAILED, org_id, project_id, None, now=now)
    raise RuntimeError(f"ETL job failed after {max_attempts} attempts: {last_exc}")
