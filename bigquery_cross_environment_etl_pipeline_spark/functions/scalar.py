"""Scalar function surface (F1-F8 in SURVEY.md §2.8).

All engine-side (JVM, whole-stage codegen) — no Python UDFs. Each helper
returns a Column so it composes inside any plan.

Reference semantics:
- ISO-8601 formatting at the JSON boundary
  (reference core/services/billing_etl.py:35-40, core/utility/return_type.py:9-16)
- epoch default for a missing watermark (billing_etl.py:138-139)
- ``project.dataset.table`` identifier assembly
  (core/utility/dataset_utils.py:344-348)
- ``org_{id}_standard_export[_table]`` name mangling
  (core/utility/dataset_utils.py:127, 141; billing_etl.py:117)
- JSON serialization of records (core/utility/return_type.py:19-28)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss"
EPOCH_LIT = "1970-01-01 00:00:00"


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, for column names
    interpolated into ``selectExpr``/``expr`` text: a name with a space,
    a hyphen or a keyword in it then parses as one column."""
    return "`" + name.replace("`", "``") + "`"


def finite_metric(col: str | Column) -> Column:
    """TRUE iff ``col`` is a finite double — the ONE Spark spelling of
    the finite-values contract every rank/stat query shares (DuckDB
    mirror: ``isfinite(value)``). NULL yields NULL, so using this in a
    ``filter`` also drops NULL rows — exactly what the SQL ``WHERE
    isfinite(value)`` does on the oracle side."""
    c = F.col(col) if isinstance(col, str) else col
    return ~F.isnan(c) & (F.abs(c) < F.lit(float("inf")))


def epoch_seconds(col: str | Column) -> Column:
    """NTZ-safe epoch seconds for ordering / gap arithmetic.

    ``CAST(ts AS BIGINT)`` raises on TIMESTAMP_NTZ (Spark 4), and
    ``unix_timestamp`` re-interprets through the session zone. This
    helper is total over both timestamp types and timezone-stable:
    normalize to TIMESTAMP_NTZ (identity for NTZ inputs; session-zone
    wall-clock — UTC in this engine, session.py — for LTZ inputs), then
    take the day-time interval since the NTZ epoch literal, whose cast
    to BIGINT yields whole seconds.
    """
    c = F.col(col) if isinstance(col, str) else col
    ntz = c.cast("timestamp_ntz")
    return (ntz - F.lit(EPOCH_LIT).cast("timestamp_ntz")).cast("long")


def iso_format(col: str | Column, fmt: str = ISO_FMT) -> Column:
    """F2: timestamp -> ISO-8601 string (JSON-boundary only; stays a
    native timestamp everywhere else)."""
    return F.date_format(col, fmt)


def epoch_default(col: str | Column) -> Column:
    """F3: COALESCE(watermark, epoch)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(EPOCH_LIT).cast("timestamp"))


def fully_qualified_table_id(project: str | Column, dataset: str | Column, table: str | Column) -> Column:
    """F6: ``project.dataset.table``."""
    to_col = lambda x: F.lit(x) if isinstance(x, str) else x  # noqa: E731
    return F.concat_ws(".", to_col(project), to_col(dataset), to_col(table))


def org_dataset_name(org_id: str | Column) -> Column:
    """F7: ``org_{org_id}_standard_export``.

    NULL-propagating concat, NOT format_string: java's String.format
    renders a NULL argument as the literal text "null" ("org_null_
    standard_export" — a plausible-looking but garbage identifier),
    while every SQL ``||`` spelling of the same mangle yields NULL.
    A NULL org id has no dataset name (round-7 edge-fixture finding)."""
    c = F.lit(org_id) if isinstance(org_id, str) else org_id
    return F.concat(F.lit("org_"), c.cast("string"), F.lit("_standard_export"))


def org_table_name(org_id: str | Column) -> Column:
    """F7: ``org_{org_id}_standard_export_table`` (NULL-propagating —
    see ``org_dataset_name``)."""
    c = F.lit(org_id) if isinstance(org_id, str) else org_id
    return F.concat(
        F.lit("org_"), c.cast("string"), F.lit("_standard_export_table")
    )


def to_json_payload(*cols: str | Column) -> Column:
    """F8: record -> JSON string (timestamps rendered ISO-8601 by Spark's
    writer, matching the reference's custom encoder semantics)."""
    return F.to_json(F.struct(*cols))
