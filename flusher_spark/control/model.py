"""Control-plane data model: the jobs table and the run log.

Column-for-column from the reference's hard-coded ``Jobs Manager`` layout
(manager.py:37,52-54,87-128,169,179-180; FIXTURES.md §B), snake_cased, plus
two engine additions the reference is documented to lack:

- ``job_id``   — a stable key (the reference keys on the physical sheet row,
                 manager.py:34-37, which breaks if rows move)
- ``lease_ts`` — a Running-state lease so a crashed run re-schedules after
                 expiry instead of wedging forever (the reference's
                 stuck-Running hazard: a crash mid-job leaves State='Running'
                 and should_run never fires again, manager.py:179)

Timestamps are ISO-8601 UTC strings in the control table, exactly like the
reference's sheet cells (manager.py:94,104) — the scheduler's due predicate
parses them on the driver; empty means never-ran (epoch 1900-01-01,
refresh_interval.py:32). Each dataclass's fields, in order, are its table's
columns on disk (``store.py``).
"""

from __future__ import annotations

from dataclasses import dataclass

#: States (reference manager.py:90,106,124,179).
STATE_RUNNING = "Running"
STATE_SUCCESS = "Success"
STATE_FAILURE = "Failure"

EPOCH_NEVER = "1900-01-01T00:00:00"  # reference refresh_interval.py:32


@dataclass
class Job:
    job_id: int
    document: str
    sheet: str = ""
    cellrange: str = ""
    target_system: str = ""
    destination: str = ""
    incremental: bool = False
    refresh_now: bool = False
    refresh_interval: str = ""
    last_success: str = ""
    state: str = ""
    last_result: str = ""
    lease_ts: str = ""


@dataclass
class RunRecord:
    """One audit-log line (reference add_log_line schema, manager.py:155-163)."""

    start: str
    end: str
    document: str
    sheet: str
    cellrange: str
    status: str
    result: str
