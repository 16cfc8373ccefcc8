"""Incremental time-windowed extraction (S1/S2/P4/A1/A2).

Semantics from the reference's extract path
(reference core/services/billing_etl.py:251-298):
- half-open interval ``ts in [start, end)`` — the boundary rule that makes
  adjacent windows partition the stream with no duplicates or gaps
  (billing_etl.py:280-281)
- a counting scan with the same predicate (billing_etl.py:253-257)
- watermark derivation ``max(ts)`` over the extracted batch
  (billing_etl.py:167), observed during the load's pass over the batch
  rather than computed by a job of its own (``batch_watermark``)

Nothing here starts a Spark job except ``count_in_window`` and the
watermark reader's fallback: extraction builds a plan, and the caller's
load runs it.

Architecture divergence (deliberate, SURVEY.md §7.4.3): the reference
paginates with ``LIMIT n OFFSET k`` and no ORDER BY — O(pages * scan)
server work and nondeterministic page boundaries. Here the window is ONE
declarative filter on the scan; Catalyst pushes it into the parquet
reader (row-group min/max skipping), executors read only matching data in
parallel, and results are deterministic. At 100 TB with a time-partitioned
layout this prunes whole partitions before any IO.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .observe import observed_metrics

TimeLike = dt.datetime | str


def _ts_literal(value: TimeLike) -> Column:
    """Timestamp literal that is HOST-TIMEZONE-FREE: PySpark converts a
    naive ``datetime`` through the OS timezone (``time.mktime``) before
    the session zone is ever consulted, so ``F.lit(datetime(...))``
    shifts with the host's TZ (caught by a TZ=America/New_York parity
    run). Rendering to a wall-clock string first makes the literal
    parse through the session zone (pinned UTC) instead."""
    if isinstance(value, dt.datetime):
        if value.tzinfo is not None:
            # aware datetimes: normalize to UTC wall-clock before
            # rendering — strftime alone would drop the offset and
            # shift the instant by it in the UTC session zone
            value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
        value = value.strftime("%Y-%m-%d %H:%M:%S.%f")
    return F.lit(value).cast("timestamp")


def half_open_interval(ts_col: str | Column, start: TimeLike, end: TimeLike) -> Column:
    """``start <= ts < end`` — the reference's core incremental predicate."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return (c >= _ts_literal(start)) & (c < _ts_literal(end))


def window_scan(
    source: DataFrame,
    ts_col: str,
    start: TimeLike,
    end: TimeLike,
    columns: list[str] | None = None,
) -> DataFrame:
    """S1: SELECT * (or a projection) restricted to ``[start, end)``.

    The filter is attached before the projection so it pushes down to the
    scan regardless of which columns the caller keeps.
    """
    out = source.filter(half_open_interval(ts_col, start, end))
    if columns:
        out = out.select(*columns)
    return out


def count_in_window(source: DataFrame, ts_col: str, start: TimeLike, end: TimeLike) -> int:
    """S2: COUNT(*) with the same interval predicate.

    The reference used this to pre-size pagination; kept as an exposed
    operator (it is a metadata-only parquet scan after pushdown).
    """
    return source.filter(half_open_interval(ts_col, start, end)).count()


def batch_watermark(
    batch: DataFrame, ts_col: str
) -> tuple[DataFrame, Callable[[], dt.datetime | None]]:
    """A2/T2: new watermark = max(ts) of the extracted batch (None if empty).

    Starts no job. Returns ``batch`` with an ``Observation`` of
    ``max(ts_col)`` attached, and a reader for that value. Run the
    returned frame (or a per-record transform of it) through an action
    first, then call the reader: the max is folded into that action's
    pass over the batch, where the reference's driver-side
    ``max(row[...] for row in rows)`` (billing_etl.py:167) would need
    the batch collected.

    If the action did not run the observed batch, or the optimizer
    removed the observed node, the reader falls back to a
    ``batch.agg(max)`` job over the un-observed ``batch``.
    """
    obs = Observation()
    observed = batch.observe(obs, F.max(ts_col).alias("wm"))

    def read() -> dt.datetime | None:
        metrics = observed_metrics(obs)
        if metrics is None:
            return batch.agg(F.max(ts_col).alias("wm")).first()["wm"]
        return metrics["wm"]

    return observed, read


def backfill_windows(
    start: TimeLike, end: TimeLike, n_windows: int
) -> list[tuple[dt.datetime, dt.datetime]]:
    """Split ``[start, end)`` into ``n_windows`` adjacent half-open
    windows (last one absorbs the remainder). Because each window keeps
    the half-open boundary rule, the windows partition the range
    exactly: a historical backfill run as N independent window scans
    touches every row once — the parallel generalization of the
    reference's one-window-per-trigger re-run (billing_etl.py:144-219).
    Each window is an independent (extract, load, checkpoint) unit, so
    a failed window retries alone and progress is per-window durable."""
    to_dt = lambda v: (
        dt.datetime.fromisoformat(v) if isinstance(v, str) else v
    )
    lo, hi = to_dt(start), to_dt(end)
    if n_windows < 1 or hi <= lo:
        raise ValueError("need n_windows >= 1 and end > start")
    step = (hi - lo) / n_windows
    bounds = [lo + i * step for i in range(n_windows)] + [hi]
    return [(bounds[i], bounds[i + 1]) for i in range(n_windows)]


def backfill_scan(
    source: DataFrame,
    ts_col: str,
    windows: list[tuple[dt.datetime, dt.datetime]],
    window_id_col: str = "_backfill_window",
) -> DataFrame:
    """One declarative plan for a whole backfill: the union of the
    window scans, each row tagged with its window ordinal (the
    downstream writer partitions on it for per-window idempotent
    overwrite). Catalyst merges the disjoint predicates into one scan
    per window over the same files — and since the windows partition
    [start, end), the union equals a single range scan, verified by
    the partition-invariant test."""
    parts = [
        window_scan(source, ts_col, lo, hi).withColumn(
            window_id_col, F.lit(i)
        )
        for i, (lo, hi) in enumerate(windows)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def extract_incremental(
    source: DataFrame,
    ts_col: str,
    watermark: dt.datetime | None,
    now: dt.datetime,
    epoch: dt.datetime = dt.datetime(1970, 1, 1),
) -> tuple[DataFrame, dt.datetime, dt.datetime]:
    """The full S1+T1 extract step: window = [watermark or epoch, now).

    ``now`` is pinned once by the caller (the reference calls
    ``datetime.now()`` inside the loop, billing_etl.py:152 — a
    reproducibility bug we do not inherit, SURVEY.md §7.4.4).
    Returns (batch, start, end).
    """
    start = watermark if watermark is not None else epoch
    return window_scan(source, ts_col, start, now), start, now
