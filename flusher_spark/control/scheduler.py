"""Scheduler: the reference's polling loop rebuilt as micro-batch ticks.

One tick (reference run(), manager.py:206-214) =
  scan control table → fail+disable jobs with unparsable intervals
  (filter_fixing_invalid_schedules, manager.py:167-175) → filter due jobs
  (should_run, manager.py:178-180) → run each due job's pipeline.

The control plane stays on the driver: the jobs table is spreadsheet-sized,
so the due predicate (``due_jobs``) is a plain function over the job list
the tick already holds, with interval strings parsed once per distinct
value, and the store persists state, run log and metrics with pyarrow. A
tick launches Spark jobs only inside job pipelines — one lazy Spark plan
each, source→sink, with no temp-CSV hop (the reference materializes to
local disk between export and load, export.py:59-66 / manager.py:195-196).

The reference runs jobs serially (manager.py:211-214; parallelism is its
open TODO manager.py:22, TODO.md:9). Each of our jobs is internally
cluster-parallel; cross-job concurrency is the engine's answer to that
TODO: ``max_concurrency`` dispatches a tick's due jobs onto a bounded
thread pool. Claims are serial (mark_running + lease BEFORE dispatch, so a
job can never be double-dispatched), pipelines run concurrently (the Spark
scheduler interleaves their cluster jobs), and completion transitions
serialize through the store's lock. FIFO fairness within a tick is kept:
results are reported in due order regardless of completion order.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Observation, SparkSession

from flusher_spark.control.model import EPOCH_NEVER, STATE_RUNNING, Job, RunRecord
from flusher_spark.control.store import JobStore
from flusher_spark.instrumentation import Recorder, observed, utcnow_iso
from flusher_spark.functions.intervals import from_human
from flusher_spark.sinks.csv import to_csv
from flusher_spark.sinks.table import Warehouse
from flusher_spark.sources.sheet import SheetSource, cast_with_schema, infer_schema, read_sheet


def parse_intervals(jobs: list[Job]) -> tuple[dict[str, int], dict[int, str]]:
    """Driver-side parse of the distinct interval strings. Returns
    (interval→seconds, job_id→error) — the error half feeds
    fix_invalid_schedules."""
    seconds: dict[str, int] = {}
    errors: dict[int, str] = {}
    for j in jobs:
        if not j.refresh_interval:
            continue
        if j.refresh_interval in seconds:
            continue
        try:
            seconds[j.refresh_interval] = int(from_human(j.refresh_interval).total_seconds())
        except ValueError as exc:
            errors[j.job_id] = str(exc)
    return seconds, errors


def _epoch_seconds(ts: str) -> int:
    """Whole seconds since 1970 of an ISO-8601 stamp, as Spark's
    ``to_timestamp(ts).cast("long")`` reads it in the engine's UTC session
    (session.py): no offset means UTC, an offset is converted, and a
    fraction floors. A malformed stamp raises, as it does under ANSI."""
    t = datetime.fromisoformat(ts)
    if t.tzinfo is not None:
        t = t.astimezone(timezone.utc).replace(tzinfo=None)
    d = t - datetime(1970, 1, 1)
    return d.days * 86400 + d.seconds  # timedelta keeps seconds in [0, 86400): a floor


def due_jobs(
    jobs: list[Job],
    interval_seconds: dict[str, int],
    now: str,
    lease_seconds: int = 3600,
) -> list[int]:
    """Ids of the jobs the should_run predicate selects, in list order
    (reference manager.py:178-180 + refresh_interval.py:30-34):

      not Running (or the Running lease has expired — engine addition)
      AND (refresh_now OR elapsed-since-last-success > interval)

    Empty last_success counts from 1900-01-01 (refresh_interval.py:32);
    jobs with no interval and no refresh_now never fire (is_scheduled
    returns falsy None, refresh_interval.py:33-34). A Running job with NO
    lease timestamp counts as EXPIRED, not fresh: rows migrated from the
    reference system (no lease column) or hand-edited ones arrive exactly
    like that, and reading them as fresh wedged them as Running forever —
    the stuck-Running hazard the lease exists to fix (r11 review)."""
    now_s = _epoch_seconds(now)

    def not_running(j: Job) -> bool:
        return (
            j.state != STATE_RUNNING
            or not j.lease_ts
            or now_s - _epoch_seconds(j.lease_ts) > lease_seconds
        )

    def scheduled(j: Job) -> bool:
        secs = interval_seconds.get(j.refresh_interval)
        return secs is not None and now_s - _epoch_seconds(j.last_success or EPOCH_NEVER) > secs

    return [j.job_id for j in jobs if j.document and not_running(j) and (j.refresh_now or scheduled(j))]


def translate_error(exc: Exception, job: Job, source: SheetSource) -> str:
    """Error enrichment (reference translate_error, manager.py:69-80)."""
    msg = str(exc)
    # Worksheet FIRST: the zero-sheets message is "worksheet not found:
    # document %r has no sheets" — it contains BOTH words, and matching
    # 'document' first misdiagnosed an openable document as missing/unshared
    # while skipping the candidate enrichment (r11 review).
    if isinstance(exc, KeyError) and "worksheet" in msg:
        try:
            candidates = source.available_sheets(job.document)
        except Exception:
            candidates = []
        return f"Worksheet {job.sheet!r} not found. Available: {candidates}"
    if isinstance(exc, KeyError) and "document" in msg:
        return (
            f"Could not open document {job.document!r} — does it exist, and is it "
            "shared with the service account?"
        )
    return msg


@dataclass
class Scheduler:
    """Wires source → store → sinks and runs ticks.

    ``clock`` is the wall-clock used for every state transition (injectable
    for simulated-time tests). Each transition reads it FRESH — the reference
    records real time at every update_* call (manager.py:83-144), so audit
    rows carry true start/end and run durations are recoverable."""

    spark: SparkSession
    store: JobStore
    source: SheetSource
    warehouse: Warehouse
    export_dir: str
    lease_seconds: int = 3600
    #: Observers called after every tick with the tick's results list
    #: ([(job_id, status, result)]); hook failures don't fail the tick.
    on_tick: list = field(default_factory=list)
    clock: object = utcnow_iso
    recorder: Recorder = field(default_factory=Recorder)
    #: Cross-job parallelism per tick (the reference's open TODO,
    #: manager.py:22 / TODO.md:9). 1 = reference-faithful serial execution.
    max_concurrency: int = 1

    def run_job(self, job: Job) -> str:
        """One job pipeline: read → (type+load) | csv-export. A single lazy
        plan; no intermediate materialization (reference hops through a local
        CSV and deletes it, manager.py:195-196).

        Instrumented like the reference's ``@instrumented`` manager methods
        (utils.py:5-25): args + wall time recorded, plus the loaded row count
        captured by an ``Observation`` aggregated inside the executing plan —
        no second pass over the data."""
        with self.recorder.timed(
            "run_job", document=job.document, sheet=job.sheet, cellrange=job.cellrange
        ) as ctx:
            grid = self.source.worksheet(job.document, job.sheet)
            df = read_sheet(self.spark, grid, job.cellrange)
            obs = Observation()
            if job.target_system:
                if job.target_system.lower() not in ("warehouse", "bigquery"):
                    # Reference: only bigquery is implemented (manager.py:52-58).
                    raise NotImplementedError(f"target system {job.target_system!r}")
                schema = self.store.get_pinned_schema(job.job_id)
                pin_after = schema is None
                if pin_after:
                    schema = infer_schema(df)
                typed = observed(cast_with_schema(df, schema), obs)
                result = self.warehouse.load(typed, job.destination, job.incremental)
                if pin_after:
                    # Pin only AFTER the load succeeds (drift detection,
                    # SURVEY §1.2): pinning before it meant a failed first
                    # run (bad destination, say) froze a schema no data was
                    # ever loaded under, and later drift was measured
                    # against a run that never happened (r14 review). A
                    # crash between load and pin re-infers next run — the
                    # benign direction.
                    self.store.pin_schema(job.job_id, schema)
            else:
                # Export-only job: the CSV is the product (reference manager.py:193).
                result = to_csv(observed(df, obs), self.export_dir, job.document, job.sheet)
            ctx["rows"] = int(obs.get["rows"])
            return result

    def tick(self, now: str | None = None) -> list[tuple[int, str, str]]:
        """One micro-batch: returns [(job_id, status, result)]. ``now`` is
        only the due-predicate's clock; transitions stamp ``self.clock()``."""
        now = now or self.clock()
        # The control table is live: pick up cross-process edits (CLI job
        # add/update against the same store root) before computing dueness —
        # the reference re-reads its sheet every poll.
        self.store.reload()
        jobs = self.store.jobs()
        interval_seconds, invalid = parse_intervals(jobs)
        # Validation failure disables the schedule and drops the job from
        # this tick (reference filter_fixing_invalid_schedules,
        # manager.py:167-175).
        for job_id, err in invalid.items():
            self.store.mark_invalid_schedule(job_id, err)
        due = [
            job_id
            for job_id in due_jobs(jobs, interval_seconds, now, self.lease_seconds)
            if job_id not in invalid
        ]
        # Claim serially FIRST: mark_running consumes refresh_now and takes
        # the lease before any pipeline starts, so a job is never visible as
        # due to anything else while it runs (no double-dispatch). Each
        # claim is isolated: a failing persist (mark_running rolls its job
        # back and re-raises) skips THAT job for this tick — it stays due —
        # while the already-claimed jobs still execute; the old
        # propagate-out-of-the-loop behavior left them wedged in Running
        # with their one-shot trigger consumed and no run (r14 review).
        claimed: list[tuple[int, Job, str]] = []
        for job_id in due:
            job = self.store.get(job_id)
            try:
                start = self.store.mark_running(job_id, self.clock())
            except Exception:  # noqa: BLE001 — per-job claim isolation
                continue
            claimed.append((job_id, job, start))

        def execute(claim: tuple[int, Job, str]) -> tuple[int, Job, str, str, str, str]:
            job_id, job, start = claim
            # Lease HEARTBEAT for the duration of the run: without it a
            # healthy pipeline that outlives lease_seconds looks crashed to
            # a later tick, which claims and runs it AGAIN concurrently —
            # duplicate appends (incremental) or two overwrites racing one
            # path (r11 review). Refreshing at half the lease keeps the
            # lease always-fresh while alive; a real crash stops the beat
            # and the lease expires as designed.
            stop_beat = threading.Event()

            def _beat() -> None:
                while not stop_beat.wait(self.lease_seconds / 2):
                    try:
                        self.store.refresh_lease(job_id, self.clock())
                    except Exception:  # noqa: BLE001 — heartbeat must not kill the run
                        pass

            beat = threading.Thread(target=_beat, daemon=True)
            beat.start()
            try:
                result = self.run_job(job)
                end = self.store.mark_success(job_id, result, self.clock())
                status = "Success"
            except Exception as exc:  # noqa: BLE001 — job isolation boundary
                result = translate_error(exc, job, self.source)
                end = self.store.mark_failure(job_id, result, self.clock())
                status = "Failure"
            finally:
                stop_beat.set()
            return (job_id, job, start, end, status, result)

        if self.max_concurrency > 1 and len(claimed) > 1:
            # Bounded pool; pool.map preserves due order, so results/log
            # rows are deterministic even when completion order isn't.
            with ThreadPoolExecutor(max_workers=self.max_concurrency) as pool:
                outcomes = list(pool.map(execute, claimed))
        else:
            outcomes = [execute(c) for c in claimed]

        results: list[tuple[int, str, str]] = []
        records: list[RunRecord] = []
        for job_id, job, start, end, status, result in outcomes:
            records.append(
                RunRecord(start, end, job.document, job.sheet, job.cellrange, status, result)
            )
            results.append((job_id, status, result))
        if records:
            # One log file per tick, not per run: at a 1-second poll cadence
            # per-run writes would pile up small files that every run-log
            # read must open. Metrics flush on the same cadence.
            self.store.append_logs(records)
            self.store.append_metrics(self.recorder.drain())
        for hook in self.on_tick:
            try:
                hook(results)
            except Exception:  # noqa: BLE001 — observers must not fail the tick
                pass
        return results

    def run_loop(self, poll_seconds: float = 1.0, max_ticks: int | None = None) -> None:
        """The daemon loop (reference run(), manager.py:206-214): poll every
        ``poll_seconds``. ``max_ticks`` bounds it for tests; None = forever."""
        ticks = 0
        while max_ticks is None or ticks < max_ticks:
            time.sleep(poll_seconds)
            self.tick()
            ticks += 1
