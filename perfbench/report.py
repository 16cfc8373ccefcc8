"""The result every workload returns, and the statistics behind it."""

from __future__ import annotations

import dataclasses
import json
import statistics


def tail(values: list[float]) -> tuple[int | None, float]:
    """(percentile, value): the highest of p50/p75/p90/p95/p99 with at
    least ten samples beyond it; (None, max) when none qualifies."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return None, max(values)


def vm_cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of this machine, summed over its CPUs
    (``/proc/stat``). Steal is time a runnable CPU waited for the
    hypervisor."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def unstolen(wall: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``wall`` scaled by the share of runnable CPU time that ran:
    busy / (busy + steal) over the interval."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def op_count(seconds: float, nominal_s: float, least: int) -> int:
    """Timed operations in a run: as many as take ``seconds`` at
    ``nominal_s`` each (an operation's typical wall on a 4-core host),
    and at least ``least``. The count is fixed, not timed, so that a busy
    host measures the same stretch of the JVM's warm-up as an idle one
    (operations get cheaper as the JIT compiler catches up, and a
    timed loop would stop earlier on a busy host)."""
    return max(least, round(seconds / nominal_s))


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


@dataclasses.dataclass
class Result:
    workload: str
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = dataclasses.field(default_factory=dict)
    layer: dict[str, float] = dataclasses.field(default_factory=dict)
    #: report lines: (name, value, unit, note)
    report: list[tuple[str, float, str, str]] = dataclasses.field(default_factory=list)
    checks: list[str] = dataclasses.field(default_factory=list)
    #: failed checks of known defects, reported but not counted
    known: list[str] = dataclasses.field(default_factory=list)
    inputs: dict = dataclasses.field(default_factory=dict)
    #: raw samples behind the metrics, in run order
    samples: dict = dataclasses.field(default_factory=dict)
    host: dict = dataclasses.field(default_factory=dict)
    tracer: object = None

    def fail(self, what: str) -> None:
        self.correct = False
        self.checks.append(what)

    def final(self, wanted: list[dict], not_run: tuple[str, ...]) -> dict:
        """The result line: every metric of ``wanted`` (an ``end_to_end``
        or ``per_layer`` list of ``BENCHMARK.json``) with its unit. A
        metric whose name starts with one of ``not_run`` belongs to a
        layer this workload does not run and reads 0; any other metric
        without a value is an error."""
        values = {**self.metrics, **self.layer}
        missing = [m["name"] for m in wanted
                   if m["name"] not in values and not m["name"].startswith(not_run)]
        if missing:
            raise KeyError(f"{self.workload} measured no value for {missing}")
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        return {"correct": self.correct, "attempted": int(self.attempted),
                "failed": int(self.failed), "metrics": metrics}

    def report_lines(self) -> list[str]:
        lines = [f"# perfbench {self.workload}", "host " + json.dumps(self.host),
                 "inputs " + json.dumps(self.inputs)]
        for name, value, unit, note in self.report + [
                ("peak_rss_mb", self.metrics["peak_rss_mb"], "MB", "process tree"),
                ("fail_frac", self.failed / max(1, self.attempted), "ratio",
                 f"{self.failed} of {self.attempted} operations")]:
            lines.append(f"{self.workload}  {name:<22} {value:14.6g} {unit:<6} {note}")
        lines += [f"CHECK FAILED: {c}" for c in self.checks]
        lines += [f"KNOWN DEFECT (not counted): {c}" for c in self.known]
        return lines

    def write(self, stem: str) -> None:
        with open(stem + ".json", "w") as fh:
            json.dump({"workload": self.workload, "host": self.host, "inputs": self.inputs,
                       "metrics": self.metrics, "layer": self.layer, "checks": self.checks,
                       "known": self.known,
                       "samples": self.samples,
                       "report": self.report}, fh, indent=1)
        if self.tracer is not None:
            self.tracer.dump(stem + ".spans.json")
