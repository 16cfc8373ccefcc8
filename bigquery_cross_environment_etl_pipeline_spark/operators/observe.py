"""Reading an ``Observation`` without trusting that it fired.

``df.observe(obs, ...)`` folds aggregates into whatever action runs
``df``, so a metric costs no job of its own. ``Observation.get`` assumes
that action happened and kept the observed node; when it did not,
PySpark 4.1 misbehaves in two ways:

- the observed frame was in no finished action (a transform hook that
  returned an unrelated DataFrame): ``.get`` waits forever;
- the optimizer removed the observed node (say, a filter above it that
  is always false): the observation completes with an empty row and
  ``.get`` fails with a Py4J ``AssertionError``.

``observed_metrics`` reports both as "not observed", so the caller can
compute the value another way.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Observation


def observed_metrics(obs: Observation) -> dict[str, Any] | None:
    """The metrics ``obs`` collected, or None if it collected none.

    Call it after the action that should have run the observed frame.
    The JVM ``getRowOrEmpty`` waits at most ~100 ms for the
    query-execution listener that completes the observation; that
    listener completes every observation of one query together, so
    after a blocking ``.get`` on another observation of the same action
    the wait is immediate.
    """
    row = obs._jo.getRowOrEmpty()
    if row.isEmpty() or row.get().length() == 0:
        return None
    return obs.get
