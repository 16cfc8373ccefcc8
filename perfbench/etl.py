"""The ETL workload ``etl_fanout``: ticks of ``orchestrator.run_jobs_for_messages``.

8 configured tenants with a pre-seeded checkpoint history; each tick
routes 2 of them (rotating quarters) plus 1 unknown org and 1
malformed envelope. ``now`` advances one simulated hour per tick, so
every tenant loads a trickle of rows every fourth tick. One routed
tenant per tick fails its first attempt in the transform hook, so the
retry path runs every tick.

A tick's wall runs from reading the envelope batch to the return of
``run_jobs_for_messages``, after the last status row is committed. A
tenant's commit latency runs from the same start to the append of its
SUCCESS row, seen through ``CommitClock`` (the checkpoint log the
benchmark hands to the orchestrator); when no SUCCESS append is seen
for a tenant, its commit latency is the tick's wall.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
from pyspark.sql import functions as F

import bench
import gen
from report import Result, median, op_count, tail, unstolen, vm_cpu_ticks
from spans import COUNTS, END, NAME, OP, START, TAG, SpanCounters, StatusStore, Tracer

from bigquery_cross_environment_etl_pipeline_spark import orchestrator, pipeline
from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
from bigquery_cross_environment_etl_pipeline_spark.operators.config import ConfigStore
from bigquery_cross_environment_etl_pipeline_spark.schemas import (
    BILLING_EXPORT_SCHEMA,
    STATUS_SUCCESS,
)

TS_COL = "export_time"
COLUMNS = [f.name for f in BILLING_EXPORT_SCHEMA]
EPOCH = dt.datetime(1970, 1, 1)
UNKNOWN_ORG = 999_999
#: envelope batches generated per run; a run stops after this many ticks
MAX_TICKS = 60
#: configured tenants; each tick routes a quarter of them (rotating
#: quarters), so every tenant runs every fourth tick on a 4-hour window
TENANTS, PER_TICK = 8, 2
#: prior runs per tenant in the pre-seeded checkpoint log
HISTORY_TICKS = 12
#: the source: ROWS_PER_HOUR rows per simulated hour over SOURCE_HOURS
ROWS_PER_HOUR, SOURCE_HOURS, ROW_GROUP_ROWS = 100, HISTORY_TICKS + MAX_TICKS + 3, 1_000
#: malformed envelopes per routed tenant; routed tenants per tick whose
#: first attempt fails
MALFORMED_SHARE, FAIL_SHARE = 0.5, 0.5
#: tenants routed by the warm-up tick (tick 0)
WARMUP_TENANTS = 2
#: a tick's typical wall on a 4-core host, which sets the number of timed
#: ticks (``report.op_count``); and the fewest timed ticks in a run
NOMINAL_TICK_S, MIN_TICKS = 3.0, 3
#: set-ups per run (input generation + warm-up tick); setup_s reports
#: their median
SETUP_REPS = 3


def to_us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def ts_lit(d: dt.datetime):
    return F.lit(d.strftime("%Y-%m-%d %H:%M:%S.%f")).cast("timestamp")


def count_files(root: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, fs in os.walk(root) for f in fs)


def tree_bytes(root: str) -> int:
    return gen.input_bytes(root) if os.path.isdir(root) else 0


class CommitClock(CheckpointLog):
    """The checkpoint log, plus the time each SUCCESS append returned."""

    def __init__(self, spark, path: str):
        super().__init__(spark, path)
        self.commits: list[tuple[int, float]] = []

    def save(self, status, org_id, *args, **kwargs):
        super().save(status, org_id, *args, **kwargs)
        if status == STATUS_SUCCESS:
            self.commits.append((int(org_id), time.perf_counter()))


class InjectedFailure(RuntimeError):
    pass


class FlakyTransform:
    """Transform hook that fails the first attempt of chosen tenants.

    The orchestrator runs tenants in ``org_id`` order and calls the hook
    once per attempt, so the hook knows whose attempt it is from the
    call order alone."""

    def __init__(self):
        self.order: list[int] = []
        self.fail: set[int] = set()

    def arm(self, orgs: list[int], fail: set[int]) -> None:
        self.order, self.fail = sorted(orgs), set(fail)

    def __call__(self, df):
        org = self.order[0] if self.order else None
        if org in self.fail:
            self.fail.discard(org)
            raise InjectedFailure(f"injected transform failure for org {org}")
        if self.order:
            self.order.pop(0)
        return df


class Plan:
    """Everything generated for one run, and the expected outcome."""

    def __init__(self, seed: int, root: str):
        self.seed, self.root = seed, root
        self.src = os.path.join(root, "source")
        self.cfg = os.path.join(root, "config")
        self.log = os.path.join(root, "checkpoints")
        self.dest = os.path.join(root, "dest")
        self.env_dir = os.path.join(root, "envelopes")
        self.fleet = [101 + j for j in range(TENANTS)]

    def orgs(self, tick: int) -> list[int]:
        """Tenants routed on ``tick``; tick 0 is the warm-up."""
        if tick == 0:
            return self.fleet[:WARMUP_TENANTS]
        lo = (tick - 1) * PER_TICK % TENANTS
        return self.fleet[lo: lo + PER_TICK]

    def now(self, tick: int) -> dt.datetime:
        return self.t_hist + dt.timedelta(hours=tick + 1)

    def envelopes(self, tick: int) -> str:
        return os.path.join(self.env_dir, f"tick-{tick:03d}.parquet")

    def generate(self) -> None:
        info, self.us = gen.write_billing_source(self.src, self.seed, ROWS_PER_HOUR * SOURCE_HOURS,
                                                 SOURCE_HOURS, ROW_GROUP_ROWS)
        self.t_hist = gen.T0 + dt.timedelta(hours=HISTORY_TICKS)
        gen.write_config(self.cfg, self.fleet)
        project = {o: f"proj-{o}" for o in self.fleet}
        self.start_wm = {o: self.t_hist - dt.timedelta(hours=j % 3) for j, o in enumerate(self.fleet)}
        gen.write_checkpoint_history(self.log, self.seed, self.start_wm, project, HISTORY_TICKS)
        os.makedirs(self.env_dir, exist_ok=True)
        self.malformed = {}
        self.fail: dict[int, set[int]] = {}
        for k in range(MAX_TICKS + 1):
            orgs = self.orgs(k)
            self.malformed[k] = gen.write_envelopes(
                self.envelopes(k), self.seed, k, orgs, UNKNOWN_ORG, MALFORMED_SHARE)
            pick = gen.rng_for(self.seed, f"fail:{k}").permutation(len(orgs))
            self.fail[k] = {orgs[i] for i in pick[: int(round(FAIL_SHARE * len(orgs)))]}
        self.info = {**info, "digest": gen.digest(self.root), "bytes": gen.input_bytes(self.root),
                     "history_files": count_files(self.log)}
        self.wm = dict(self.start_wm)

    def expect(self, org: int, now: dt.datetime) -> tuple[int, dt.datetime]:
        """(rows, new watermark) of ``org``'s window ``[wm, now)``."""
        i0, i1 = np.searchsorted(self.us, [to_us(self.wm[org]), to_us(now)], side="left")
        if i1 == i0:
            return 0, now
        return int(i1 - i0), EPOCH + dt.timedelta(microseconds=int(self.us[i1 - 1]) + 1)


class Tick:
    def __init__(self, plan: Plan, spark, clock: CommitClock, transform: FlakyTransform):
        self.plan, self.spark, self.clock, self.transform = plan, spark, clock, transform
        self.config = ConfigStore(spark, plan.cfg)
        self.source = spark.read.schema(BILLING_EXPORT_SCHEMA).parquet(plan.src)

    def run(self, k: int):
        """One tick; returns (result or exception, wall, commit latencies)."""
        p = self.plan
        self.transform.arm(p.orgs(k), p.fail[k])
        self.clock.commits.clear()
        t0 = time.perf_counter()
        try:
            envelopes = self.spark.read.parquet(p.envelopes(k))
            out = orchestrator.run_jobs_for_messages(
                self.spark, envelopes, self.config, self.source, TS_COL, p.dest, self.clock,
                now=p.now(k), transform=self.transform)
        except Exception as exc:  # noqa: BLE001 — a failed tick is counted, not fatal
            out = exc
        wall = time.perf_counter() - t0
        seen = {org: t - t0 for org, t in self.clock.commits}
        return out, wall, [seen.get(o, wall) for o in p.orgs(k)]

    def verify(self, k: int, out, result: Result) -> set[int]:
        """Check one tick's outcome against the plan; advance the
        expected watermarks. Returns the tenants whose job was wrong."""
        p = self.plan
        orgs = p.orgs(k)
        if isinstance(out, Exception):
            result.fail(f"tick {k} raised {type(out).__name__}: {out}")
            return set(orgs)
        bad = set()
        if out.rejected_messages != p.malformed[k]:
            result.fail(f"tick {k}: {out.rejected_messages} rejected, expected {p.malformed[k]}")
            bad |= set(orgs)
        if out.unknown_orgs != [UNKNOWN_ORG]:
            result.fail(f"tick {k}: unknown orgs {out.unknown_orgs}")
            bad |= set(orgs)
        jobs = {j.org_id: j for j in out.jobs}
        for org in orgs:
            rows, wm = p.expect(org, p.now(k))
            want_attempts = 2 if org in p.fail[k] else 1
            j = jobs.get(org)
            got = None if j is None else (j.status, j.rows_loaded, j.new_watermark, j.attempts)
            if got != (STATUS_SUCCESS, rows, wm, want_attempts):
                result.fail(f"tick {k} org {org}: got {got}, expected "
                            f"{(STATUS_SUCCESS, rows, wm, want_attempts)}")
                bad.add(org)
            p.wm[org] = wm
        if set(jobs) - set(orgs):
            result.fail(f"tick {k}: jobs for unexpected orgs {sorted(set(jobs) - set(orgs))}")
        return bad


def final_check(spark, plan: Plan, orgs: list[int], clock: CommitClock, result: Result) -> set[int]:
    """Each tenant's destination equals the source rows in
    ``[start watermark, final watermark)``, once, with no duplicate
    ``export_time`` (the source's unique key); its last SUCCESS
    watermark is max(export_time) + 1 µs. Returns the failing tenants."""
    hashed = F.xxhash64(*COLUMNS).cast("decimal(38,0)")
    src = spark.read.schema(BILLING_EXPORT_SCHEMA).parquet(plan.src)
    aggs = []
    for o in orgs:
        inside = (F.col(TS_COL) >= ts_lit(plan.start_wm[o])) & (F.col(TS_COL) < ts_lit(plan.wm[o]))
        aggs += [F.count(F.when(inside, 1)).alias(f"n{o}"), F.sum(F.when(inside, hashed)).alias(f"h{o}")]
    want = src.agg(*aggs).first()
    parts = [spark.read.parquet(os.path.join(plan.dest, f"org_{o}")).select(F.lit(o).alias("org"), *COLUMNS)
             for o in orgs if os.path.isdir(os.path.join(plan.dest, f"org_{o}"))]
    got = {}
    if parts:
        dest = parts[0]
        for part in parts[1:]:
            dest = dest.unionByName(part)
        got = {r["org"]: r for r in dest.groupBy("org").agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct(TS_COL).alias("keys"),
            F.sum(hashed).alias("h"), F.max(TS_COL).alias("max_ts")).collect()}
    logged = {r["org_id"]: r["watermark"] for r in clock.latest_per_key().collect()}
    bad = set()
    for o in orgs:
        g = got.get(o)
        n, h = want[f"n{o}"], want[f"h{o}"]
        if g is None or (g["n"], g["keys"], g["h"]) != (n, n, h):
            result.fail(f"org {o}: destination {None if g is None else (g['n'], g['keys'])} "
                        f"rows/keys, source window has {n} (or hashes differ)")
            bad.add(o)
            continue
        if not (logged.get(o) == plan.wm[o] == g["max_ts"] + dt.timedelta(microseconds=1)):
            result.fail(f"org {o}: SUCCESS watermark {logged.get(o)}, expected {plan.wm[o]}, "
                        f"max(export_time) {g['max_ts']}")
            bad.add(o)
    return bad


def layer_metrics(tracer: Tracer, counters: SpanCounters, traced: dict[int, dict]) -> dict[str, float]:
    """Per-layer numbers of the traced ticks: times and counts per tick,
    except where the name says per job or per row."""
    n = max(1, len(traced))
    spans = [s for s in tracer.spans if s[OP] in traced]
    tick_ids = [i for i, s in enumerate(tracer.spans) if s[OP] in traced and s[NAME] == "tick"]
    by = lambda name: [s for s in spans if s[NAME] == name]  # noqa: E731
    dur = lambda name: sum(s[END] - s[START] for s in by(name))  # noqa: E731
    ticks = by("tick")
    jobs = [j for t in traced.values() for j in t["jobs"]]
    rows_window = sum(j.rows_extracted for j in jobs)
    rows_loaded = sum(j.rows_loaded for j in jobs)
    scan_spans = by("extract.watermark") + by("load")
    return {
        "orchestrator.self_s": sum(tracer.self_time(i) for i in tick_ids) / n,
        "checkpoint.read_s": dur("checkpoint.read") / n,
        "checkpoint.files_listed": sum(s[COUNTS]["files"] for s in by("checkpoint.read")) / n,
        "checkpoint.write_s": dur("checkpoint.write") / n,
        "checkpoint.files_written": sum(t["log_files"] for t in traced.values()) / n,
        "pipeline.job_s": median(s[END] - s[START] for s in by("pipeline.job")),
        "pipeline.attempts_per_job": sum(j.attempts for j in jobs) / max(1, len(jobs)),
        "extract.s": (dur("extract.window") + dur("extract.watermark")) / n,
        "extract.rows_scanned_per_row": counters.total(scan_spans, "input_records") / max(1, rows_window),
        "load.s": dur("load") / n,
        "load.bytes_written_per_row": counters.total(by("load"), "output_bytes") / max(1, rows_loaded),
        "load.files_written": sum(t["dest_files"] for t in traced.values()) / n,
        "spark.jobs_per_op": sum(counters.jobs[s[TAG]] for s in ticks) / n,
        "spark.stages_per_op": sum(counters.stages[s[TAG]] for s in ticks) / n,
        "spark.executor_cpu_s": counters.total(ticks, "executor_cpu_s") / n,
        "spark.input_bytes": counters.total(ticks, "input_bytes") / n,
        "spark.output_bytes": counters.total(ticks, "output_bytes") / n,
        "spark.spill_bytes": counters.total(ticks, "spill_bytes") / n,
    }


def install_spans(tracer: Tracer) -> None:
    tracer.patch(orchestrator, "process_etl_job", "pipeline.job")
    tracer.patch(pipeline, "extract_incremental", "extract.window")
    tracer.patch(pipeline, "batch_watermark", "extract.watermark")
    tracer.patch(pipeline, "load_append", "load")
    tracer.patch(CheckpointLog, "save", "checkpoint.write")
    tracer.patch(CheckpointLog, "last_success_watermark", "checkpoint.read",
                 counts=lambda log, *a, **k: {"files": count_files(log.path)})


#: per-layer metrics of layers this workload does not run (they read 0)
NOT_RUN = ("catalog.",)


def prepare(args, work: str) -> tuple[list[Plan], list[float]]:
    """Generate the inputs ``SETUP_REPS`` times (before Spark starts)."""
    plans, gen_s = [], []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        plan = Plan(args.seed, os.path.join(work, f"inputs-{rep}"))
        plan.generate()
        gen_s.append(time.perf_counter() - t0)
        plans.append(plan)
    return plans, gen_s


def measure(prepared, spark, args, session_s: float) -> Result:
    plans, gen_s = prepared
    result = Result("etl_fanout")
    digests = {p.info["digest"] for p in plans}
    if len(digests) != 1:
        result.fail(f"seed {args.seed} generated different inputs: {sorted(digests)}")
    plan = plans[-1]
    result.inputs = plan.info

    # each set-up ends with an untimed warm-up tick (tick 0) on its own
    # copy of the inputs; the timed ticks go on in the last copy
    warm_s = []
    for p in plans:
        t0 = time.perf_counter()
        tick = Tick(p, spark, CommitClock(spark, p.log), FlakyTransform())
        out, _, _ = tick.run(0)
        warm_s.append(time.perf_counter() - t0)
        tick.verify(0, out, result)
    clock = tick.clock
    warm_rows = 0 if isinstance(out, Exception) else sum(j.rows_loaded for j in out.jobs)

    tracer = Tracer(spark.sparkContext) if args.trace else None
    walls = {True: [], False: []}
    adjusted = {True: [], False: []}
    items, rows, cpu = [], 0, []
    traced: dict[int, dict] = {}
    bad: dict[int, set[int]] = {}
    begin = time.perf_counter()
    k = 0
    n_ticks = min(MAX_TICKS, op_count(args.seconds, NOMINAL_TICK_S, MIN_TICKS))
    while k < n_ticks:
        k += 1
        on = bool(args.trace) and k % 2 == 1
        if on:
            files0 = (count_files(plan.log), count_files(plan.dest))
            install_spans(tracer)
            tracer.op = k
        c0, v0 = bench.proc_tree_cpu_by_class(), vm_cpu_ticks()
        if on:
            with tracer.span("tick"):
                out, wall, latencies = tick.run(k)
            tracer.unpatch()
        else:
            out, wall, latencies = tick.run(k)
        c1, v1 = bench.proc_tree_cpu_by_class(), vm_cpu_ticks()
        walls[on].append(wall)
        adjusted[on].append(unstolen(wall, v0, v1))
        if c0 and c1:
            cpu.append(c1[0] - c0[0])
        bad[k] = tick.verify(k, out, result)
        if not isinstance(out, Exception):
            rows += sum(j.rows_loaded for j in out.jobs)
            if on:
                traced[k] = {"jobs": out.jobs, "log_files": count_files(plan.log) - files0[0],
                             "dest_files": count_files(plan.dest) - files0[1]}
        if not on:
            items += latencies

    timed_s = time.perf_counter() - begin
    run_orgs = sorted({o for i in range(k + 1) for o in plan.orgs(i)})
    t0 = time.perf_counter()
    wrong = final_check(spark, plan, run_orgs, clock, result)
    check_s = time.perf_counter() - t0
    result.attempted = sum(len(plan.orgs(i)) for i in range(1, k + 1))
    result.failed = sum(1 for i in range(1, k + 1) for o in plan.orgs(i) if o in bad[i] or o in wrong)

    ticks = walls[False] + walls[True]
    result.samples = {"timed_s": timed_s, "untraced_tick_s": walls[False], "traced_tick_s": walls[True],
                      "untraced_unstolen_s": adjusted[False],
                      "commit_s": items, "cpu_s": cpu, "generate_s": gen_s,
                      "warmup_s": warm_s, "final_check_s": check_s}
    setups = [g + w for g, w in zip(gen_s, warm_s)]
    # the destination also holds the last warm-up tick's rows
    stored = (tree_bytes(plan.dest) + tree_bytes(plan.log)) / max(1, rows + warm_rows)
    pct, tail_s = tail(items) if items else (None, 0.0)
    result.metrics = {
        "setup_s": session_s + median(setups),
        "op_p50_s": median(walls[False] or ticks),
        "cpu_s_per_op": median(cpu),
    }
    result.report = [
        ("setup_s", result.metrics["setup_s"], "s",
         f"session {session_s:.2f} + median of {SETUP_REPS} set-ups (generation + warm-up tick) "
         f"{median(setups):.2f}; first warm-up tick {warm_s[0]:.2f}"),
        ("tick_p50_s", result.metrics["op_p50_s"], "s",
         f"median wall of {len(walls[False])} untraced ticks (op_p50_s)"),
        ("tick_p50_unstolen_s", median(adjusted[False] or adjusted[True]), "s",
         "the same, each wall scaled by busy/(busy+steal) CPU ticks of the machine"),
        ("commit_p50_s", median(items), "s", f"{len(items)} tenant commits"),
        ("tick_tail_s", tail_s, "s", f"commit latency p{pct or 'max'} over n={len(items)}"),
        ("rows_per_s", rows / sum(ticks), "1/s", f"{rows} rows committed"),
        ("stored_bytes_per_row", stored, "B", "destination + checkpoint log on disk"),
        ("cpu_s_per_op", result.metrics["cpu_s_per_op"], "s", "median process-tree CPU per tick"),
    ]
    if tracer is not None:
        counters = SpanCounters(StatusStore(spark), tracer)
        result.layer = layer_metrics(tracer, counters, traced)
        result.layer["storage.bytes_per_row"] = stored
        result.layer["trace.overhead_frac"] = median(walls[True]) / median(walls[False]) - 1
        result.tracer = tracer
    return result
