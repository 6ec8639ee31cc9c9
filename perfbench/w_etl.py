"""etl_ticks: ``Scheduler.tick`` over a seeded control table of 32 jobs at
``max_concurrency=1``, on a simulated clock (one minute per tick).

Op = one job run. Op latency runs from the tick's start (the moment its due
jobs became due) to the job's success/failure stamp, read from the injected
clock, so it includes queueing behind earlier jobs of the same tick. Write
latency is the job's own service time (consecutive completion stamps);
read latency is the tick's control-table scan (tick start to the first
claim stamp, or the whole tick when nothing is due).
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import types as T

import flusher_spark.control.scheduler as sched_mod
from flusher_spark.control import JobStore, Scheduler
from flusher_spark.control.model import Job
from flusher_spark.functions.a1 import col_letters
from flusher_spark.instrumentation import Recorder
from flusher_spark.sinks.table import Warehouse
from flusher_spark.sources.sheet import SheetGrid, SheetSource

from perfbench import gen
from perfbench.common import NewFiles, OpLog, Result, data_files, median, tail_pct, work_units
from perfbench.trace import Proxy, patched

N_JOBS = 32
#: (period in ticks, first due tick) per job slot. Due jobs per tick then
#: run 4, 0, 8, 3, 0, 12, 4, 0, 6, 4, 0, 7, ... for every seed.
SLOTS = (
    [(3, 0)] + [(3, 2)] * 2 + [(6, 0)] + [(6, 2)] * 2 + [(6, 3)] + [(6, 5)] * 3
    + [(12, p) for p, k in ((0, 2), (2, 2), (3, 1), (5, 3), (6, 2), (8, 2), (9, 2), (11, 2)) for _ in range(k)]
    + [(24, 2)] * 2 + [(24, 5)] * 4
)
TICKS = 5  # per 10 s: 4 + 0 + 8 + 4 + 0 job runs (tick 3 runs the first new job)
TAIL = tail_pct(16)
CHURN_EVERY = 4  # every 4th tick one job is retired and a new one added
N_CHURN = 8
T0 = dt.datetime(2026, 1, 5, 8, 0, 0)
#: The type inference must give each generated column kind.
SHEET_TYPES = {
    "int": T.LongType(),
    "decimal": T.DoubleType(),
    "timestamp": T.TimestampNTZType(),
    "boolean": T.BooleanType(),
    "text": T.StringType(),
    "blank": T.StringType(),
}


class SimClock:
    """The scheduler's injected clock: returns simulated time and records
    the wall time of every call (the success/failure stamps)."""

    def __init__(self) -> None:
        self.now = T0
        self.calls: list[float] = []

    def __call__(self) -> str:
        self.calls.append(time.perf_counter())
        return self.now.isoformat(timespec="seconds")


class KeepingRecorder(Recorder):
    """The scheduler's recorder, also keeping each metric for the checks."""

    def __init__(self) -> None:
        super().__init__()
        self.kept = []

    def observe(self, op, seconds, rows=-1, **args):
        m = super().observe(op, seconds, rows, **args)
        self.kept.append((op, args.get("document"), rows))
        return m


@dataclass
class Spec:
    """What the benchmark generated for one job: its expected output."""

    job: Job
    kind: str  # csv | full | incr
    rows: int  # data rows inside the cell range
    col_lo: int  # first column of the cell range (1-based)
    width: int  # columns inside the cell range
    schema: T.StructType  # what infer_schema must pin for the range


def make_spec(
    job_id: int, kind: str, data_rows: int, n_cols: int, period: int, ranged: bool, rng
) -> tuple[Spec, SheetGrid]:
    kinds, cells = gen.sheet_rows(data_rows, n_cols, rng)
    grid = SheetGrid(f"sheet{job_id}", cells)
    n = data_rows + 1
    cellrange, rows, c_lo, width = "", data_rows, 1, n_cols
    if ranged:
        c_lo, c_hi = 2, n_cols
        r_lo = rng.choice((1, 2))
        r_hi = round(n * rng.uniform(0.7, 0.8))
        cellrange = f"{col_letters(c_lo)}{r_lo}:{col_letters(c_hi)}{r_hi}"
        rows = max(0, min(r_hi, n) - max(r_lo, 2) + 1)
        width = c_hi - c_lo + 1
    schema = T.StructType(
        [T.StructField(cells[0][c], SHEET_TYPES[kinds[c]], True) for c in range(c_lo - 1, c_lo - 1 + width)]
    )
    job = Job(
        job_id=job_id,
        document=f"doc{job_id}",
        sheet=grid.name,
        cellrange=cellrange,
        target_system="" if kind == "csv" else "warehouse",
        destination="" if kind == "csv" else f"t{job_id}",
        incremental=kind == "incr",
        refresh_interval=f"{period - 1} minutes",
    )
    return Spec(job, kind, rows, c_lo, width, schema), grid


class EtlInputs:
    """Sheets and jobs for one seed. Jobs first due at the same tick form a
    group. Position i of a group fixes the job's size stratum (log-uniform
    strata of 100-20 000 rows), column count, kind, whether it reads an A1
    range and whether it is a first run (one load in four: no pinned schema
    yet), so every tick carries the same mix of work for every seed; the
    seed draws the sizes within their strata, the cells, the column order
    and the range's row bounds."""

    def __init__(self, seed: int) -> None:
        rng = random.Random(seed)
        groups: dict[int, list[int]] = {}
        for period, phase in SLOTS:
            groups.setdefault(phase, []).append(period)
        plan = []  # (period, phase, kind, first_run, rows, cols, ranged)
        loads = 0
        for phase in sorted(groups):
            periods = sorted(groups[phase])
            k = len(periods)
            sizes = gen.stratified_sizes(k, rng)
            for i, period in enumerate(periods):
                kind = ("csv", "full", "incr")[(i + phase) % 3]
                first = kind != "csv" and loads % 4 == 1
                loads += kind != "csv"
                cols = 4 + (12 * ((i * 7 + phase) % k) + 6) // k
                plan.append((period, phase, kind, first, sizes[i], cols, (i + phase) % 3 == 1))
        for i, size in enumerate(gen.stratified_sizes(N_CHURN, rng)):
            plan.append((12, None, ("full", "csv", "incr")[i % 3], True, size, 4 + 12 * i // N_CHURN, i % 3 == 1))
        self.specs: dict[int, Spec] = {}
        self.source = SheetSource()
        self.slots: dict[int, tuple[int, int]] = {}
        self.first_runs: set[int] = set()
        for i, (period, phase, kind, first, size, cols, ranged) in enumerate(plan):
            spec, grid = make_spec(i, kind, size, cols, period, ranged, rng)
            self.specs[i] = spec
            self.source.documents[spec.job.document] = {grid.name: grid}
            if phase is not None:
                self.slots[i] = (period, phase)
            if first:
                self.first_runs.add(i)
        self.churn_order = rng.sample(range(N_JOBS), N_JOBS)


class Checker:
    """Post-tick correctness checks, run outside the timed region with the
    standard library and pyarrow only (no Spark jobs)."""

    def __init__(self, store_root: str, lake_root: str) -> None:
        self.store_root = store_root
        self.lake_root = lake_root
        self.table_rows: dict[str, int] = {}
        self.runs = 0

    @staticmethod
    def parquet_rows(path: str) -> int:
        if not os.path.isdir(path):
            return 0
        files = data_files(os.path.join(path, f) for f in os.listdir(path))
        return sum(pq.read_metadata(f).num_rows for f in files if f.endswith(".parquet"))

    @staticmethod
    def csv_rows(path: str, header: list[str]) -> int:
        """Data records over the export's part files; -1 if any part does
        not open with the header line."""
        total = 0
        for f in sorted(data_files(os.path.join(path, f) for f in os.listdir(path))):
            if not f.endswith(".csv"):
                continue
            with open(f, newline="") as fh:
                recs = list(csv.reader(fh))
            if recs and recs[0] != header:
                return -1
            total += max(0, len(recs) - 1)
        return total

    def check(self, spec: Spec, status: str, result: str, observed: int | None, store, source) -> str | None:
        job = spec.job
        self.runs += 1
        if status != "Success":
            return f"job {job.job_id} failed: {result}"
        if observed != spec.rows:
            return f"job {job.job_id}: observed {observed} rows, generated {spec.rows}"
        if spec.kind != "csv" and store.get_pinned_schema(job.job_id) != spec.schema:
            return f"job {job.job_id}: pinned {store.get_pinned_schema(job.job_id)}, generated {spec.schema}"
        if spec.kind == "csv":
            grid = source.worksheet(job.document, job.sheet)
            header = grid.rows[0][spec.col_lo - 1 : spec.col_lo - 1 + spec.width]
            got = self.csv_rows(result, header)
        else:
            got = self.parquet_rows(os.path.join(self.lake_root, "g_sheets", job.destination))
            before = self.table_rows.get(job.destination, 0) if spec.kind == "incr" else 0
            self.table_rows[job.destination] = got
            got -= before
        if got != spec.rows:
            return f"job {job.job_id} ({spec.kind}): sink holds {got} new rows, generated {spec.rows}"
        return None

    def check_log(self) -> str | None:
        got = self.parquet_rows(os.path.join(self.store_root, "run_log"))
        if got != self.runs:
            return f"run_log has {got} rows after {self.runs} runs"
        return None


def build(spark, root: str, source: SheetSource, tracer=None):
    store = JobStore(spark, os.path.join(root, "store"))
    warehouse = Warehouse(spark, os.path.join(root, "lake"))
    export_dir = os.path.join(root, "exports")
    os.makedirs(export_dir, exist_ok=True)
    clock = SimClock()
    recorder = KeepingRecorder()
    s_store, s_source, s_wh = store, source, warehouse
    if tracer is not None:
        store_methods = (
            "reload jobs jobs_df get mark_running mark_success mark_failure "
            "mark_invalid_schedule append_logs append_metrics get_pinned_schema pin_schema"
        ).split()
        s_store = Proxy(store, tracer, {m: f"control.store.{m}" for m in store_methods})
        s_source = Proxy(source, tracer, {"worksheet": "sources.worksheet"})
        s_wh = Proxy(warehouse, tracer, {"load": "sinks.warehouse_load"})
    sched = Scheduler(
        spark, s_store, s_source, s_wh, export_dir, clock=clock, recorder=recorder, max_concurrency=1
    )
    return sched, store, clock, recorder


def warm_up(spark, root: str, seed: int) -> None:
    """Cold-JVM pass over every job path (CSV export, full refresh, first
    incremental load with inference) on a separate small store."""
    rng = random.Random(seed + 1)
    source = SheetSource()
    sched, store, _clock, _rec = build(spark, root, source)
    for i, kind in enumerate(("csv", "full", "incr")):
        spec, grid = make_spec(i, kind, 300, 6, 2, i == 2, rng)
        spec.job.refresh_now = True
        source.documents[spec.job.document] = {grid.name: grid}
        store.put(spec.job)
    for status in [r[1] for r in sched.tick(now=T0.isoformat())]:
        if status != "Success":
            raise RuntimeError("warm-up job failed")


def run(spark, ctx) -> Result:
    res = Result()
    t0 = time.perf_counter()
    inputs = EtlInputs(ctx.seed)
    gen_s = time.perf_counter() - t0
    root = os.path.join(ctx.tmp, "etl")
    t0 = time.perf_counter()
    warm_up(spark, os.path.join(ctx.tmp, "warm"), ctx.seed)
    warm_s = time.perf_counter() - t0

    tr = ctx.tracer
    sched, store, clock, recorder = build(spark, root, inputs.source, tr)
    for i, (period, phase) in inputs.slots.items():
        spec = inputs.specs[i]
        spec.job.last_success = (T0 + dt.timedelta(minutes=phase - period)).isoformat(timespec="seconds")
        spec.job.state = "Success"
        store.put(spec.job)
        if spec.kind != "csv" and i not in inputs.first_runs:
            store.pin_schema(i, spec.schema)
    ctx.setup(gen_s, warm_s)

    checker = Checker(store.root, os.path.join(root, "lake"))
    lake_files, export_files = NewFiles(os.path.join(root, "lake")), NewFiles(os.path.join(root, "exports"))
    log = OpLog()
    ticks: list[dict] = []
    op_specs: list[Spec] = []
    new_lake_files = loads = churned = tick = 0
    if tr is not None:
        real_run_job = sched.run_job

        def run_job(job):
            tr.op = len(op_specs)
            op_specs.append(inputs.specs[job.job_id])
            with tr.span("control.run_job"):
                return real_run_job(job)

        sched.run_job = run_job
        module_spans = {
            "read_sheet": "sources.read_sheet",
            "infer_schema": "sources.infer_schema",
            "due_jobs": "control.due_jobs",
            "to_csv": "sinks.csv_export",
        }
    with patched(sched_mod, tr, module_spans) if tr is not None else nullcontext():
        while tick < work_units(ctx.seconds, TICKS):
            if tick % CHURN_EVERY == CHURN_EVERY - 1 and churned < N_CHURN:
                # A user retires one job (blank document) and adds a new one
                # with Refresh Now: first runs keep arriving.
                old = store.get(inputs.churn_order[churned])
                old.document = ""
                store.put(old)
                new = inputs.specs[N_JOBS + churned].job
                new.refresh_now = True
                store.put(new)
                churned += 1
            clock.now = T0 + dt.timedelta(minutes=tick)
            clock.calls.clear()
            now = clock.now.isoformat(timespec="seconds")
            with log.timed():
                start = time.perf_counter()
                if tr is not None:
                    tr.op = None
                    with tr.span("control.tick"):
                        results = sched.tick(now=now)
                else:
                    results = sched.tick(now=now)
                end = time.perf_counter()
            n = len(results)
            if n:
                log.read.append(clock.calls[0] - start)
                prev = clock.calls[n - 1]
                for s in clock.calls[n:]:
                    log.op.append(s - start)
                    log.write.append(s - prev)
                    prev = s
            else:
                log.read.append(end - start)
            ticks.append({"due": n, "wall": round(end - start, 4)})

            fresh = lake_files.poll()
            new_lake_files += sum(1 for p in data_files(fresh) if p.endswith(".parquet"))
            log.bytes_written += sum(fresh.values()) + sum(export_files.poll().values())
            observed = {doc: rows for op, doc, rows in recorder.kept if op == "run_job"}
            recorder.kept.clear()
            for job_id, status, result in results:
                spec = inputs.specs[job_id]
                res.attempted += 1
                loads += spec.kind != "csv"
                problem = checker.check(spec, status, result, observed.get(spec.job.document), store, inputs.source)
                if problem:
                    res.fail(problem)
                else:
                    log.rows += spec.rows
            if n and (problem := checker.check_log()):
                res.fail(problem)
            tick += 1
    log.summary(TAIL, ctx.setup_s, res)
    ctx.extra.update(ticks=ticks, tail_pct=TAIL)
    files_per_load = new_lake_files / max(1, loads)
    if tr is not None:
        ctx.finish = lambda per_span: layers(tr, per_span, op_specs, log, files_per_load, res)
    return res


def layers(tr, per_span, op_specs: list[Spec], log: OpLog, files_per_load: float, res: Result) -> None:
    spans = tr.spans
    kids = tr.children()
    tick_self, idle, due_scan, store_w, ctl_jobs = [], [], [], [], []
    writes = {"mark_running", "mark_success", "mark_failure", "append_logs", "append_metrics", "pin_schema"}
    for t, span in enumerate(spans):
        if span.name != "control.tick":
            continue
        ch = kids.get(t, [])
        runs = [c for c in ch if spans[c].name == "control.run_job"]
        tick_self.append(span.dur - sum(spans[c].dur for c in runs))
        if not runs:
            idle.append(span.dur)
        dj = [c for c in ch if spans[c].name == "control.due_jobs"]
        if dj:
            after = [spans[c].start for c in ch if spans[c].start > spans[dj[0]].end]
            due_scan.append((min(after) if after else span.end) - spans[dj[0]].start)
        store_w.append(sum(spans[c].dur for c in ch if spans[c].name.rsplit(".", 1)[-1] in writes))
        ctl_jobs.append(sum(per_span[c]["jobs"] for c in [t] + ch if c not in runs))

    def per_call(name):
        return median([s.dur for s in spans if s.name == name])

    reads = [s for s in spans if s.name == "sources.read_sheet"]
    cells = sum(op_specs[s.op].rows * op_specs[s.op].width for s in reads)
    read_s = sum(s.dur for s in reads)
    res.layers.update(
        {
            "control.tick_self_s": (median(tick_self), "s"),
            "control.idle_tick_s": (median(idle), "s"),
            "control.due_scan_s": (median(due_scan), "s"),
            "control.store_write_s": (median(store_w), "s"),
            "control.spark_jobs_per_tick": (sum(ctl_jobs) / max(1, len(ctl_jobs)), "count"),
            "sources.read_sheet_s": (per_call("sources.read_sheet"), "s"),
            "sources.infer_schema_s": (per_call("sources.infer_schema"), "s"),
            "sources.cells_per_s": (cells / read_s if read_s else 0.0, "1/s"),
            "sinks.warehouse_load_s": (per_call("sinks.warehouse_load"), "s"),
            "sinks.csv_export_s": (per_call("sinks.csv_export"), "s"),
            "sinks.files_per_load": (files_per_load, "count"),
            "sinks.bytes_per_row": (log.bytes_written / max(1, log.rows), "B"),
        }
    )
