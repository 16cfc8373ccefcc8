"""Spans, Spark job tags and status-store counters for the traced run.

A span is ``[name, start, end, parent, op, tag, counts]``. Spans stay in
a list in memory and are written once, at the end of the run. Every
span sets a Spark job tag (``SparkContext.addJobTag``) while it is open,
so each Spark job carries the tags of all spans enclosing it; the job
and stage counters per span are read back from the AppStatusStore once
the timed operations are over.

Wrappers are installed where names are looked up at call time: a
module global (``orchestrator.process_etl_job``) or a class attribute
(``CheckpointLog.save``). ``from … import`` binds a name at import time,
so patching the defining module would miss every caller.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

import bench

NAME, START, END, PARENT, OP, TAG, COUNTS = range(7)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        idx = len(self.spans)
        tag = f"perfbench-{idx}"
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None,
               self.op, tag, counts]
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.addJobTag(tag)
        try:
            yield rec
        finally:
            self.sc.removeJobTag(tag)
            self._stack.pop()
            rec[END] = time.perf_counter()

    def patch(self, owner, attr: str, name: str, counts=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        around each call; ``counts(*args)`` adds counters to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, **(counts(*args) if counts else {})):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # --- derived numbers ----------------------------------------------------

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its direct children cover."""
        s = self.spans[idx]
        kids = sum(c[END] - c[START] for c in self.spans if c[PARENT] == idx)
        return (s[END] - s[START]) - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["name", "start", "end", "parent", "op", "tag", "counts"],
                       "spans": self.spans}, fh)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StatusStore(bench.JvmCpuMeter):
    """Job and stage counters from Spark's AppStatusStore over py4j,
    through the store handles of ``bench.JvmCpuMeter``."""

    def max_stage_id(self) -> int:
        self._bus.waitUntilEmpty()
        return max((s.stageId() for s in _seq(self._stages())), default=-1)

    def stages(self, after: int = -1) -> dict[int, dict[str, float]]:
        """Counters of every stage with id > ``after``, summed over
        attempts."""
        self._bus.waitUntilEmpty()
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in _seq(self._stages()):
            sid = s.stageId()
            if sid <= after:
                continue
            m = out[sid]
            m["executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["input_bytes"] += s.inputBytes()
            m["input_records"] += s.inputRecords()
            m["output_bytes"] += s.outputBytes()
            m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def jobs(self) -> list[tuple[int, set[str], list[int]]]:
        """(job id, tags, stage ids) of every job the store retains."""
        self._bus.waitUntilEmpty()
        return [(j.jobId(), set(_seq(j.jobTags())), list(_seq(j.stageIds())))
                for j in _seq(self._store.jobsList(self._jvm.java.util.ArrayList()))]


class SpanCounters:
    """Spark work attributed to spans: a job counts toward every span
    whose tag it carries (the span and all its ancestors)."""

    def __init__(self, store: StatusStore, tracer: Tracer):
        stages = store.stages()
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, int] = defaultdict(int)
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        tags = {s[TAG] for s in tracer.spans}
        for _, job_tags, stage_ids in store.jobs():
            for tag in job_tags & tags:
                self.jobs[tag] += 1
                self.stages[tag] += len(stage_ids)
                for sid in stage_ids:
                    for k, v in stages.get(sid, {}).items():
                        self.totals[tag][k] += v

    def total(self, spans: list[list], key: str) -> float:
        return sum(self.totals[s[TAG]][key] for s in spans)
