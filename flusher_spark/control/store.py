"""JobStore: the jobs control table + audit log + metrics + pinned schemas.

All three tables are spreadsheet-scale by construction (the reference's
control table is a literal worksheet), so they stay on the driver: one Arrow
schema per table, pyarrow writes through tmp+atomic-replace, and Spark only
for the DataFrame views (``jobs_df``, ``run_log``, ``metrics_df``). This is
the single-writer discipline the reference also has (one polling loop). On
a cluster deployment the same interface fronts a Delta table with MERGE;
nothing else changes.

State-machine semantics preserved from the reference (these are behavioral
specs, SURVEY.md §2.A row 20):
- mark_running consumes Refresh Now even if the run later fails
  (manager.py:87-88)
- mark_success sets Last Success and keeps the schedule (manager.py:97-112)
- mark_failure CLEARS Refresh Interval — failed jobs stop rescheduling until
  a human re-enters it (manager.py:115-130, clear at :121-122)
- mark_invalid_schedule = Failure + cleared interval for unparsable
  schedules (manager.py:133-144)
Engine addition: mark_running takes a lease (model.py) so crashed runs
re-schedule after lease expiry instead of wedging.
"""

from __future__ import annotations

import dataclasses
import json
import os
import threading
import typing
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from flusher_spark.instrumentation import Metric, utcnow_iso
from flusher_spark.control.model import STATE_FAILURE, STATE_RUNNING, STATE_SUCCESS, Job, RunRecord

_ARROW_TYPES = {int: pa.int64(), float: pa.float64(), bool: pa.bool_(), str: pa.string()}


def _schema(row_type) -> pa.Schema:
    """One nullable column per field of a row dataclass, in field order."""
    hints = typing.get_type_hints(row_type)
    return pa.schema([(f.name, _ARROW_TYPES[hints[f.name]]) for f in dataclasses.fields(row_type)])


#: The on-disk format of the control table, the audit log (reference
#: add_log_line, manager.py:155-163) and the metrics table.
JOBS_SCHEMA = _schema(Job)
RUN_LOG_SCHEMA = _schema(RunRecord)
METRICS_SCHEMA = _schema(Metric)

JOBS_COLUMNS = JOBS_SCHEMA.names
RUN_LOG_COLUMNS = RUN_LOG_SCHEMA.names


def _write(table: pa.Table, path: str, tmp: str) -> None:
    pq.write_table(table, tmp)
    os.replace(tmp, path)  # atomic swap: readers never see a torn file


class JobStore:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        os.makedirs(os.path.join(root, "schemas"), exist_ok=True)
        self._jobs: dict[int, Job] = {}
        # Concurrent-scheduler support: state transitions arrive from worker
        # threads (Scheduler.max_concurrency > 1). One lock serializes every
        # mutation + parquet snapshot — the same single-writer discipline,
        # now explicit. A cluster deployment swaps this for Delta MERGE
        # transactionality.
        self._lock = threading.RLock()
        self._load()

    # -- persistence --------------------------------------------------------

    @property
    def _jobs_path(self) -> str:
        return os.path.join(self.root, "jobs.parquet")

    @property
    def _log_path(self) -> str:
        return os.path.join(self.root, "run_log")

    @property
    def _metrics_path(self) -> str:
        return os.path.join(self.root, "metrics")

    def _load(self) -> None:
        if os.path.exists(self._jobs_path):
            table = pq.read_table(self._jobs_path).to_pylist()
            self._jobs = {r["job_id"]: Job(**r) for r in table}

    def reload(self) -> None:
        """Re-read jobs.parquet — the control table is LIVE, exactly like
        the reference's sheet (read_control_sheet runs every poll,
        manager.py:33-37): a job added or edited by ANOTHER process (the
        CLI's ``job add`` while the daemon runs) becomes visible at the
        daemon's next tick instead of being invisible forever and then
        silently erased by this process's next ``_save`` (r14 review).
        Every mutation persists immediately through the atomic tmp+replace
        swap, so the file is always whole; concurrent writers are
        last-writer-wins at file granularity — the documented
        single-scheduler contract, with CLI edits expected between ticks."""
        with self._lock:
            self._load()

    def _table(self) -> pa.Table:
        return pa.Table.from_pylist([j.__dict__ for j in self._jobs.values()], schema=JOBS_SCHEMA)

    def _save(self) -> None:
        _write(self._table(), self._jobs_path, self._jobs_path + ".tmp")

    def _append(self, path: str, schema: pa.Schema, rows: list) -> None:
        """Add ``rows`` (dataclass instances) to the table directory ``path``
        as ONE new part file, written under a hidden name (Spark's reader
        skips dot-files, so a crash mid-write leaves nothing readers see)
        and renamed into place, the ``_save`` discipline."""
        if not rows:
            return
        os.makedirs(path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        table = pa.Table.from_pylist([r.__dict__ for r in rows], schema=schema)
        _write(table, os.path.join(path, name), os.path.join(path, f".{name}.tmp"))

    def _frame(self, path: str, schema: pa.Schema) -> DataFrame:
        """A table directory as a DataFrame with the declared schema; part
        files written by Spark and by ``_append`` read alike."""
        if not os.path.isdir(path):
            return self.spark.createDataFrame(schema.empty_table())
        return self.spark.read.schema(from_arrow_schema(schema)).parquet(path)

    # -- job CRUD -----------------------------------------------------------

    def put(self, job: Job) -> None:
        with self._lock:
            self._jobs[job.job_id] = job
            self._save()

    def get(self, job_id: int) -> Job:
        return self._jobs[job_id]

    def jobs(self) -> list[Job]:
        """Control-table scan, skipping empty-Document rows (reference
        read_control_sheet, manager.py:33-37)."""
        return [j for j in self._jobs.values() if j.document]

    def jobs_df(self) -> DataFrame:
        """The jobs table as a DataFrame, for callers that query it with
        Spark; the scheduler works on ``jobs()``."""
        return self.spark.createDataFrame(self._table())

    # -- state machine ------------------------------------------------------

    def mark_running(self, job_id: int, now: str | None = None) -> str:
        now = now or utcnow_iso()
        with self._lock:
            j = self._jobs[job_id]
            prior = dict(j.__dict__)
            j.refresh_now = False  # one-shot trigger consumed at run START
            j.state = STATE_RUNNING
            j.lease_ts = now
            try:
                self._save()
            except BaseException:
                # Claim is transactional: if the persist fails (disk full,
                # transient IO), restore the in-memory job so the consumed
                # refresh_now / Running state can't wedge a job that never
                # ran — the caller skips it this tick and it stays due
                # (r14 review).
                j.__dict__.update(prior)
                raise
        return now

    def refresh_lease(self, job_id: int, now: str | None = None) -> str:
        """Heartbeat: extend a Running job's lease without touching any
        other field. A pipeline that legitimately outlives ``lease_seconds``
        (a big first load) would otherwise look crashed to a later tick and
        be DOUBLE-DISPATCHED — two concurrent appends to the same lake
        table (r11 review). No-op unless the job is still Running (the run
        may have completed between the timer firing and the lock)."""
        now = now or utcnow_iso()
        with self._lock:
            j = self._jobs.get(job_id)
            if j is not None and j.state == STATE_RUNNING:
                j.lease_ts = now
                self._save()
        return now

    def mark_success(self, job_id: int, result: str, now: str | None = None) -> str:
        now = now or utcnow_iso()
        with self._lock:
            j = self._jobs[job_id]
            j.state = STATE_SUCCESS
            j.last_success = now
            j.last_result = result
            j.lease_ts = ""
            self._save()
        return now

    def mark_failure(self, job_id: int, error: str, now: str | None = None) -> str:
        now = now or utcnow_iso()
        with self._lock:
            j = self._jobs[job_id]
            j.state = STATE_FAILURE
            j.last_result = error
            j.refresh_interval = ""  # failure disables the schedule (reference :121-122)
            j.lease_ts = ""
            self._save()
        return now

    def mark_invalid_schedule(self, job_id: int, error: str) -> str:
        return self.mark_failure(job_id, f"invalid refresh interval: {error}")

    # -- audit log and metrics (instrumentation.py; reference @instrumented) --

    def append_logs(self, records: list[RunRecord]) -> None:
        """Synchronous append — strengthens the reference's fire-and-forget
        daemon-thread log (manager.py:147-164, at-most-once, lost on crash)
        to exactly-recorded. Batched: the scheduler passes a whole tick's
        records at once and they land as ONE parquet file, so a 1-second
        poll cadence grows the log directory by at most one file per busy
        tick instead of one per run."""
        self._append(self._log_path, RUN_LOG_SCHEMA, records)

    def run_log(self) -> DataFrame:
        return self._frame(self._log_path, RUN_LOG_SCHEMA)

    def append_metrics(self, metrics: list[Metric]) -> None:
        """Persist Recorder output, batched like append_logs: one file per
        flush."""
        self._append(self._metrics_path, METRICS_SCHEMA, metrics)

    def metrics_df(self) -> DataFrame:
        return self._frame(self._metrics_path, METRICS_SCHEMA)

    # -- pinned schemas (drift detection; SURVEY §1.2) ----------------------

    def _schema_path(self, job_id: int) -> str:
        return os.path.join(self.root, "schemas", f"{job_id}.json")

    def get_pinned_schema(self, job_id: int):
        from pyspark.sql import types as T

        path = self._schema_path(job_id)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return T.StructType.fromJson(json.load(fh))

    def pin_schema(self, job_id: int, schema) -> None:
        # tmp + atomic replace, the _save discipline: a crash mid-write used
        # to leave truncated JSON that failed every later run of the job
        # (get_pinned_schema → JSONDecodeError) until hand-deleted.
        path = self._schema_path(job_id)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(schema.jsonValue(), fh)
        os.replace(tmp, path)
