"""Control plane: job state machine, due-predicate, invalid-schedule repair,
lease recovery, audit log, end-to-end scheduler ticks. Each semantic rule
cites the reference behavior it preserves (SURVEY.md §2.A rows 15-24)."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest

from flusher_spark.control.model import Job
from flusher_spark.control.scheduler import Scheduler, due_jobs, parse_intervals
from flusher_spark.control.store import JobStore
from flusher_spark.sinks.table import Warehouse
from flusher_spark.sources.sheet import SheetGrid, SheetSource

GRID = SheetGrid("s1", [["a", "b"], ["1", "x"], ["2", "y"]])
NOW = "2024-06-01T12:00:00"


@pytest.fixture()
def env(spark, tmp_path):
    store = JobStore(spark, str(tmp_path / "control"))
    source = SheetSource({"doc": {"s1": GRID, "s2": SheetGrid("s2", [["c"], ["9"]])}})
    wh = Warehouse(spark, str(tmp_path / "lake"))
    # Simulated time: transitions stamp the injected clock, ticks pass their
    # own due-predicate `now` explicitly.
    sched = Scheduler(spark, store, source, wh, str(tmp_path / "exports"), clock=lambda: NOW)
    return store, source, wh, sched


def test_refresh_now_runs_and_is_consumed(env):
    store, _, wh, sched = env
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1", refresh_now=True))
    results = sched.tick(NOW)
    assert results == [(1, "Success", "g_sheets.t1")]
    job = store.get(1)
    # Refresh Now cleared at run start (manager.py:87-88); Success recorded.
    assert job.refresh_now is False and job.state == "Success"
    assert job.last_success == NOW and job.last_result == "g_sheets.t1"
    assert wh.read("t1").count() == 2
    # Not due again: one-shot consumed.
    assert sched.tick("2024-06-01T12:01:00") == []


def test_interval_scheduling(env):
    store, _, _, sched = env
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1",
                  refresh_interval="2 minutes"))
    # Never ran (empty last_success ⇒ epoch 1900, refresh_interval.py:32) → due.
    assert [r[0] for r in sched.tick(NOW)] == [1]
    # Immediately after: not elapsed.
    assert sched.tick("2024-06-01T12:01:00") == []
    # After the interval: due again (success kept the schedule).
    assert [r[0] for r in sched.tick("2024-06-01T12:03:01")] == [1]


def test_failure_clears_interval(env):
    store, _, _, sched = env
    store.put(Job(1, "missing-doc", "s1", refresh_interval="2 minutes"))
    results = sched.tick(NOW)
    assert results[0][1] == "Failure"
    job = store.get(1)
    # Failure clears the schedule (manager.py:121-122): job stops rescheduling.
    assert job.refresh_interval == "" and job.state == "Failure"
    assert "share" in job.last_result or "not" in job.last_result.lower()
    assert sched.tick("2024-06-02T12:00:00") == []


def test_invalid_interval_failed_and_disabled(env):
    store, _, _, sched = env
    store.put(Job(1, "doc", "s1", refresh_interval="2 weeks"))
    assert sched.tick(NOW) == []  # dropped from the tick, not run
    job = store.get(1)
    # Reference filter_fixing_invalid_schedules (manager.py:167-175):
    # unparsable interval ⇒ Failure + interval cleared.
    assert job.state == "Failure" and job.refresh_interval == ""
    assert "invalid refresh interval" in job.last_result


def test_running_skipped_until_lease_expires(env):
    store, _, _, sched = env
    store.put(Job(1, "doc", "s1", refresh_now=True, state="Running", lease_ts=NOW))
    # Running jobs are skipped (manager.py:179)...
    assert sched.tick("2024-06-01T12:30:00") == []
    # ...but unlike the reference (stuck-Running hazard), an expired lease
    # lets the job run again.
    assert [r[0] for r in sched.tick("2024-06-01T13:30:01")] == [1]


def test_empty_document_rows_ignored(env):
    store, _, _, sched = env
    store.put(Job(1, "", "s1", refresh_now=True))
    assert sched.tick(NOW) == []  # reference read_control_sheet (manager.py:37)


def test_export_only_job(env, tmp_path):
    store, _, _, sched = env
    store.put(Job(1, "doc", "s2", refresh_now=True))  # no target system
    results = sched.tick(NOW)
    assert results[0][1] == "Success"
    # The CSV is the product (manager.py:193).
    assert "doc - s2" in results[0][2]


def test_blank_destination_fails_without_touching_dataset(env):
    """A warehouse-target job with the blank destination default must FAIL
    its run (invalid table name), not resolve to the dataset root — the old
    behavior full-refresh-loaded into the root, rmtree'ing every table."""
    store, _, wh, sched = env
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1",
                  refresh_now=True))
    sched.tick(NOW)
    assert wh.table_exists("t1")
    store.put(Job(2, "doc", "s2", target_system="warehouse", refresh_now=True))
    results = sched.tick(NOW)
    assert results[0][1] == "Failure" and "invalid table name" in results[0][2]
    assert wh.table_exists("t1")  # sibling tables untouched
    assert store.get(2).state == "Failure"


def test_on_tick_observers_fire(env):
    """on_tick hooks run after every tick with the results list; a raising
    hook must not fail the tick or starve later hooks."""
    store, _, _, sched = env
    seen: list = []

    def boom(_results):
        raise RuntimeError("observer bug")

    sched.on_tick = [boom, seen.append]
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1",
                  refresh_now=True))
    results = sched.tick(NOW)
    assert seen == [results] and results[0][1] == "Success"
    assert sched.tick("2024-06-01T12:01:00") == []
    assert seen == [results, []]  # fires on empty ticks too


def test_unknown_target_system(env):
    store, _, _, sched = env
    store.put(Job(1, "doc", "s1", target_system="redshift", destination="x", refresh_now=True))
    results = sched.tick(NOW)
    # Only the warehouse target is implemented (reference raises
    # NotImplementedError for non-bigquery targets, manager.py:52-58).
    assert results[0][1] == "Failure" and "redshift" in results[0][2]


def test_worksheet_error_lists_candidates(env):
    store, _, _, sched = env
    store.put(Job(1, "doc", "nope", refresh_now=True))
    results = sched.tick(NOW)
    assert results[0][1] == "Failure"
    assert "s1" in results[0][2] and "s2" in results[0][2]  # manager.py:64-66


def test_audit_log_appended(env):
    store, _, _, sched = env
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1", refresh_now=True))
    store.put(Job(2, "missing", "", refresh_now=True))
    sched.tick(NOW)
    log = store.run_log().collect()
    assert len(log) == 2
    statuses = {r["status"] for r in log}
    assert statuses == {"Success", "Failure"}  # schema: manager.py:155-163


def test_transitions_stamp_fresh_clock(env):
    """Run start/end come from separate clock reads (real durations in the
    audit log), not the tick's due-predicate time — the reference records
    real wall-clock at every update_* call (manager.py:83-144)."""
    store, _, _, sched = env
    times = iter(["2024-06-01T12:00:01", "2024-06-01T12:00:05"])
    sched.clock = lambda: next(times)
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1", refresh_now=True))
    sched.tick(NOW)
    log = store.run_log().collect()[0]
    assert log["start"] == "2024-06-01T12:00:01"  # first clock read
    assert log["end"] == "2024-06-01T12:00:05"  # second read: duration = 4s
    assert store.get(1).last_success == "2024-06-01T12:00:05"  # completion, not tick start


def test_tick_writes_one_log_file(env, tmp_path):
    """A busy tick appends ONE parquet file for all its runs — a per-run file
    at a 1-second poll cadence is the small-files hazard Warehouse.compact
    exists to fix."""
    store, _, _, sched = env
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1", refresh_now=True))
    store.put(Job(2, "doc", "s2", target_system="warehouse", destination="t2", refresh_now=True))
    sched.tick(NOW)
    log_dir = tmp_path / "control" / "run_log"
    data_files = [f for f in log_dir.iterdir() if f.suffix == ".parquet"]
    assert len(data_files) == 1
    assert store.run_log().count() == 2


def test_metrics_recorded_per_run(env):
    """Instrumentation (reference @instrumented, utils.py:5-25): every
    executed job leaves a metrics row with wall time, call args, and the
    loaded row count observed inside the plan — and failures still record
    their timing (rows unknown)."""
    store, _, _, sched = env
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1", refresh_now=True))
    store.put(Job(2, "missing", "x", refresh_now=True))  # fails: no such doc
    sched.tick(NOW)
    rows = {r["args"]: r for r in store.metrics_df().collect()}
    assert len(rows) == 2
    ok = next(r for a, r in rows.items() if "'doc'" in a)
    bad = next(r for a, r in rows.items() if "'missing'" in a)
    assert ok["op"] == "run_job" and ok["rows"] == 2  # GRID has 2 data rows
    assert ok["seconds"] >= 0
    assert bad["rows"] == -1  # failed before any action completed
    # Batched flush: one metrics file per tick.
    import pathlib

    mdir = pathlib.Path(store.root) / "metrics"
    assert len([f for f in mdir.iterdir() if f.suffix == ".parquet"]) == 1


def test_log_and_metrics_read_spark_written_parts(spark, tmp_path):
    """run_log/ and metrics/ written by earlier versions through Spark read
    back next to the driver-side part files with the same schema, and a
    hidden temp file left by a crash mid-append is skipped by the reader
    and by the next append."""
    import os

    from flusher_spark.control.model import RunRecord
    from flusher_spark.instrumentation import Metric

    log_ddl = ("start string, end string, document string, sheet string, "
               "cellrange string, status string, result string")
    metrics_ddl = "ts string, op string, args string, seconds double, rows long"
    store = JobStore(spark, str(tmp_path / "c"))
    log_dir, metrics_dir = os.path.join(store.root, "run_log"), os.path.join(store.root, "metrics")
    spark.createDataFrame([("s0", "e0", "doc", "s1", "", "Success", "ok")], log_ddl) \
        .coalesce(1).write.mode("append").parquet(log_dir)
    spark.createDataFrame([("t0", "run_job", "", 1.5, 3)], metrics_ddl) \
        .coalesce(1).write.mode("append").parquet(metrics_dir)
    for d in (log_dir, metrics_dir):
        with open(os.path.join(d, ".part-crashed.parquet.tmp"), "wb") as fh:
            fh.write(b"torn write")

    store.append_logs([RunRecord("s1", "e1", "doc", "s2", "A1:B", "Failure", "boom")])
    store.append_metrics([Metric("t1", "run_job:failed", "{'sheet': 's2'}", 0.25, -1)])
    store.append_logs([])  # nothing to record: no file
    log, metrics = store.run_log(), store.metrics_df()
    assert log.schema == spark.createDataFrame([], log_ddl).schema
    assert metrics.schema == spark.createDataFrame([], metrics_ddl).schema
    assert sorted(tuple(r) for r in log.collect()) == [
        ("s0", "e0", "doc", "s1", "", "Success", "ok"),
        ("s1", "e1", "doc", "s2", "A1:B", "Failure", "boom"),
    ]
    assert sorted(tuple(r) for r in metrics.collect()) == [
        ("t0", "run_job", "", 1.5, 3),
        ("t1", "run_job:failed", "{'sheet': 's2'}", 0.25, -1),
    ]
    for d in (log_dir, metrics_dir):
        assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 2

    # A crash during the very first append leaves only the temp file.
    fresh = JobStore(spark, str(tmp_path / "fresh"))
    os.makedirs(os.path.join(fresh.root, "run_log"))
    with open(os.path.join(fresh.root, "run_log", ".part-crashed.parquet.tmp"), "wb") as fh:
        fh.write(b"torn write")
    assert fresh.run_log().count() == 0 and fresh.metrics_df().count() == 0


@contextmanager
def _job_group(sc):
    """Put this thread's Spark jobs in a fresh job group for the block and
    yield a counter of them (the status tracker works with the UI
    disabled); the enclosing group comes back on exit."""
    group = f"count-{uuid.uuid4().hex}"
    keys = ("spark.jobGroup.id", "spark.job.description")
    outer = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for k, v in zip(keys, outer):
            sc.setLocalProperty(k, v)


def test_idle_tick_launches_no_spark_job(env):
    """The control plane runs on the driver: a tick with jobs present but
    none due launches no Spark job."""
    store, _, _, sched = env
    store.put(Job(1, "doc", "s1", refresh_interval="1 day", last_success=NOW))
    store.put(Job(2, "doc", "s1", refresh_now=True, state="Running", lease_ts=NOW))
    with _job_group(sched.spark.sparkContext) as idle_jobs:
        assert sched.tick(NOW) == []
    assert idle_jobs() == 0


def test_busy_tick_launches_spark_jobs_only_in_pipelines(env):
    """The due predicate, the state transitions and the run-log and metrics
    appends launch no Spark job: every job of a busy tick is one of its
    pipelines'."""
    store, _, _, sched = env
    sc = sched.spark.sparkContext
    store.put(Job(3, "doc", "s1", target_system="warehouse", destination="t3", refresh_now=True))
    store.put(Job(4, "doc", "s2", refresh_now=True))
    real_run_job = sched.run_job
    pipeline_jobs: list[int] = []

    def run_job(job):
        with _job_group(sc) as count:
            result = real_run_job(job)
        pipeline_jobs.append(count())
        return result

    sched.run_job = run_job
    with _job_group(sc) as tick_jobs:
        results = sched.tick(NOW)
    assert [r[:2] for r in results] == [(3, "Success"), (4, "Success")]
    assert len(pipeline_jobs) == 2 and min(pipeline_jobs) > 0
    assert tick_jobs() == 0
    assert store.run_log().count() == 2 and store.metrics_df().count() == 2


def test_instrumented_decorator_logs_args_and_time():
    """The reference decorator contract (utils.py:5-25): args logged before,
    'took N secs' after, return value passed through."""
    from flusher_spark.instrumentation import instrumented

    lines: list[str] = []

    @instrumented(lines.append)
    def add(a, b=0):
        return a + b

    assert add(1, b=2) == 3
    assert "add: called with arguments (1,) {'b': 2}" == lines[0]
    assert lines[1].startswith("add: took ")


def test_incremental_vs_full_refresh_jobs(env):
    store, _, wh, sched = env
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t", refresh_now=True))
    sched.tick(NOW)
    assert wh.read("t").count() == 2
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t",
                  refresh_now=True, incremental=True))
    sched.tick("2024-06-01T13:00:00")
    assert wh.read("t").count() == 4  # append (bigquery.py:45,47)


def test_schema_pinned_across_runs(env):
    store, source, wh, sched = env
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t", refresh_now=True))
    sched.tick(NOW)
    pinned = store.get_pinned_schema(1)
    assert pinned is not None
    assert [f.name for f in pinned.fields] == ["a", "b"]
    # Second run re-uses the pinned schema (no re-inference drift).
    source.documents["doc"]["s1"] = SheetGrid("s1", [["a", "b"], ["not-a-number", "z"]])
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t", refresh_now=True))
    sched.tick("2024-06-01T14:00:00")
    row = wh.read("t").collect()[0]
    assert row["a"] is None  # drifted cell nulled under the pinned LongType


def test_due_jobs_predicate(env):
    store, _, _, _ = env
    store.put(Job(1, "doc", "s1", refresh_interval="2 minutes", last_success="2024-06-01T11:00:00"))
    store.put(Job(2, "doc", "s1", refresh_interval="1 day", last_success="2024-06-01T11:00:00"))
    store.put(Job(3, "doc", "s1", refresh_now=True))
    store.put(Job(4, "doc", "s1"))  # no trigger, no schedule → never due
    # Running: skipped while the lease is fresh, due once it has expired
    # (lease age strictly greater than lease_seconds=3600).
    store.put(Job(5, "doc", "s1", refresh_now=True, state="Running", lease_ts="2024-06-01T11:00:00"))
    store.put(Job(6, "doc", "s1", refresh_now=True, state="Running", lease_ts="2024-06-01T10:59:59"))
    # Elapsed exactly equal to the interval is not due; one second more is.
    store.put(Job(7, "doc", "s1", refresh_interval="2 minutes", last_success="2024-06-01T11:58:00"))
    store.put(Job(8, "doc", "s1", refresh_interval="2 minutes", last_success="2024-06-01T11:57:59"))
    # Offset stamps are converted to UTC: same outcomes as naive UTC ones.
    store.put(Job(9, "doc", "s1", refresh_interval="2 minutes", last_success="2024-06-01T11:58:00Z"))
    store.put(Job(10, "doc", "s1", refresh_interval="2 minutes", last_success="2024-06-01T11:57:59+00:00"))
    store.put(Job(11, "doc", "s1", refresh_interval="2 minutes", last_success="2024-06-01T13:58:00+02:00"))
    store.put(Job(12, "doc", "s1", refresh_now=True, state="Running", lease_ts="2024-06-01T11:00:00Z"))
    store.put(Job(13, "doc", "s1", refresh_now=True, state="Running", lease_ts="2024-06-01T10:59:59+00:00"))
    seconds, errors = parse_intervals(store.jobs())
    assert errors == {}
    expected = [1, 3, 6, 8, 10, 13]
    assert due_jobs(store.jobs(), seconds, NOW) == expected
    for now in (NOW + "Z", NOW + "+00:00", "2024-06-01T14:00:00+02:00"):
        assert due_jobs(store.jobs(), seconds, now) == expected


def test_store_persistence(spark, tmp_path):
    store = JobStore(spark, str(tmp_path / "c"))
    store.put(Job(7, "doc", "s1", refresh_interval="5 minutes"))
    store.mark_running(7, NOW)
    reloaded = JobStore(spark, str(tmp_path / "c"))
    j = reloaded.get(7)
    assert j.state == "Running" and j.lease_ts == NOW
    # The control table keeps its column names and types.
    assert reloaded.jobs_df().schema == spark.createDataFrame([], (
        "job_id long, document string, sheet string, cellrange string, "
        "target_system string, destination string, incremental boolean, "
        "refresh_now boolean, refresh_interval string, last_success string, "
        "state string, last_result string, lease_ts string")).schema
    assert [tuple(r) for r in reloaded.jobs_df().collect()] == [
        (7, "doc", "s1", "", "", "", False, False, "5 minutes", "", "Running", "", NOW)
    ]


def test_concurrent_jobs_overlap_and_state_machine_holds(spark, tmp_path):
    """max_concurrency=2: two slow jobs provably run AT THE SAME TIME (each
    blocks on a 2-party barrier only the other can release — serial
    execution would deadlock and fail the test by timeout), and every state
    transition still lands correctly through the store lock. This is the
    reference's own top roadmap item (parallelism TODO, manager.py:22,
    TODO.md:9) implemented with the lease machinery guarding dispatch."""
    import threading

    barrier = threading.Barrier(2, timeout=60)

    class SlowSource(SheetSource):
        def worksheet(self, document, sheet):
            barrier.wait()  # releases only when BOTH jobs are in-flight
            return super().worksheet(document, sheet)

    store = JobStore(spark, str(tmp_path / "ctrl"))
    src = SlowSource({"doc": {"s1": GRID, "s2": SheetGrid("s2", [["c"], ["9"]])}})
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sched = Scheduler(spark, store, src, wh, str(tmp_path / "exports"),
                      clock=lambda: NOW, max_concurrency=2)
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1",
                  refresh_now=True))
    store.put(Job(2, "doc", "s2", target_system="warehouse", destination="t2",
                  refresh_now=True))
    results = sched.tick(NOW)
    # Due-order results (deterministic despite concurrent completion).
    assert [r[0] for r in results] == [1, 2]
    assert all(status == "Success" for _, status, _ in results), results
    for job_id, table, n in ((1, "t1", 2), (2, "t2", 1)):
        j = store.get(job_id)
        assert j.state == "Success" and j.last_success == NOW and j.lease_ts == ""
        assert j.refresh_now is False
        assert wh.read(table).count() == n
    # Both runs audited; one log batch for the tick.
    assert store.run_log().count() == 2
    # Nothing left due: one-shot triggers consumed under concurrency.
    assert sched.tick("2024-06-01T12:01:00") == []


def test_concurrent_failure_isolated_from_success(spark, tmp_path):
    """Under concurrency, one job's failure doesn't poison the other's
    transition (each outcome resolves independently through the lock)."""
    store = JobStore(spark, str(tmp_path / "ctrl"))
    src = SheetSource({"doc": {"s1": GRID}})
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sched = Scheduler(spark, store, src, wh, str(tmp_path / "exports"),
                      clock=lambda: NOW, max_concurrency=4)
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1",
                  refresh_now=True))
    store.put(Job(2, "missing-doc", "s1", refresh_now=True, refresh_interval="2 minutes"))
    results = dict((jid, status) for jid, status, _ in sched.tick(NOW))
    assert results == {1: "Success", 2: "Failure"}
    assert store.get(1).state == "Success"
    j2 = store.get(2)
    # Failure semantics intact under concurrency: schedule cleared.
    assert j2.state == "Failure" and j2.refresh_interval == ""


def test_r11_control_plane_fixes(spark, tmp_path):
    """Round-11 review regressions for the control plane + sheet sources."""
    import pytest as _pytest

    from flusher_spark.control.model import EPOCH_NEVER, Job
    from flusher_spark.control.scheduler import due_jobs, parse_intervals, translate_error
    from flusher_spark.control.store import JobStore
    from flusher_spark.functions.intervals import from_human
    from flusher_spark.sources.sheet import SheetGrid, SheetSource, read_sheet

    # (1) An absurd interval is a ValueError (fail-and-disable), never an
    # OverflowError that would crash every scheduler tick forever.
    with _pytest.raises(ValueError, match="out of range"):
        from_human("99999999999999 days")
    job = Job(job_id=7, document="D", sheet="S", cellrange="", target_system="",
              destination="", incremental=False, refresh_now=False,
              refresh_interval="99999999999999 days", last_success="", state="")
    _, errors = parse_intervals([job])
    assert 7 in errors and "out of range" in errors[7]

    # (2) A Running row with EMPTY lease_ts (reference-migrated / hand-edited)
    # counts as expired — due again, not wedged forever.
    store = JobStore(spark, str(tmp_path / "ctrl"))
    store.put(Job(job_id=1, document="D", sheet="S", cellrange="", target_system="",
                  destination="", incremental=False, refresh_now=True,
                  refresh_interval="", last_success="", state="Running", lease_ts=""))
    assert due_jobs(store.jobs(), {}, "2026-01-01T00:00:00", lease_seconds=3600) == [1]

    # (3) The zero-sheets KeyError (mentions BOTH words) is diagnosed as a
    # worksheet problem with candidate enrichment, not document-not-found.
    src = SheetSource({"D": {"S1": SheetGrid.from_csv("S1", "a\n1\n")}})
    err = translate_error(
        KeyError("worksheet not found: document 'D' has no sheets"), job, src
    )
    assert err.startswith("Worksheet") and "Available" in err

    # (4) A cell range starting past the sheet's last column fails loudly at
    # read time with the real story.
    grid = SheetGrid.from_csv("S1", "a,b,c\n1,2,3\n")
    with _pytest.raises(ValueError, match="starts at column 5"):
        read_sheet(spark, grid, "E2:H")

    # (5) refresh_lease extends a Running lease and no-ops after completion.
    t1 = store.refresh_lease(1, "2026-01-01T00:10:00")
    assert store.get(1).lease_ts == t1
    store.mark_success(1, "ok", "2026-01-01T00:11:00")
    store.refresh_lease(1, "2026-01-01T00:12:00")
    assert store.get(1).lease_ts == ""  # success cleared it; heartbeat no-ops


# -- r14 control/sink review fixes -------------------------------------------


def test_cross_process_job_add_visible_and_not_erased(spark, tmp_path, _source=None):
    """r14 review: the control table is LIVE (the reference re-reads its
    sheet every poll). A job added through a SECOND JobStore over the same
    root — the CLI-while-daemon-runs shape — must become due at the
    daemon's next tick, and the daemon's own saves must not erase it."""
    root = str(tmp_path / "control")
    daemon_store = JobStore(spark, root)
    daemon_store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1",
                         refresh_now=True))
    source = SheetSource({"doc": {"s1": GRID}})
    wh = Warehouse(spark, str(tmp_path / "lake"))
    sched = Scheduler(spark, daemon_store, source, wh, str(tmp_path / "exp"),
                      clock=lambda: NOW)
    assert [r[0] for r in sched.tick(NOW)] == [1]
    # another process adds job 2
    cli_store = JobStore(spark, root)
    cli_store.put(Job(2, "doc", "s1", target_system="warehouse", destination="t2",
                      refresh_now=True))
    # the daemon's next tick picks it up (no restart)...
    assert [r[0] for r in sched.tick("2024-06-01T12:01:00")] == [2]
    # ...and the daemon's own save (job 2's transitions) kept job 2 on disk
    assert sorted(j.job_id for j in JobStore(spark, root).jobs()) == [1, 2]


def test_pin_schema_atomic_and_only_after_successful_load(env, tmp_path):
    store, _, wh, sched = env
    # destination invalid -> load raises AFTER inference; the schema must
    # NOT be pinned by the failed run
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="",
                  refresh_now=True))
    assert sched.tick(NOW)[0][1] == "Failure"
    assert store.get_pinned_schema(1) is None
    # a successful run pins it
    store.put(Job(2, "doc", "s1", target_system="warehouse", destination="t1",
                  refresh_now=True))
    assert sched.tick("2024-06-01T12:01:00")[0][1] == "Success"
    assert store.get_pinned_schema(2) is not None
    # and pinning goes through tmp+replace: no .tmp residue
    import os

    sdir = os.path.join(store.root, "schemas")
    assert not [f for f in os.listdir(sdir) if f.endswith(".tmp")]


def test_claim_failure_is_isolated_and_rolled_back(env, monkeypatch):
    """r14 review: a failing claim persist must neither wedge the job
    (refresh_now consumed, state Running, no run) nor abort the other
    claims of the tick."""
    store, _, _, sched = env
    store.put(Job(1, "doc", "s1", target_system="warehouse", destination="t1",
                  refresh_now=True))
    store.put(Job(2, "doc", "s1", target_system="warehouse", destination="t2",
                  refresh_now=True))
    real_save = store._save
    calls = {"n": 0}

    def flaky_save():
        calls["n"] += 1
        # First claim of the tick (job 1) fails its persist; everything
        # else (job 2's claim + transitions) succeeds.
        if calls["n"] == 1:
            raise OSError("disk full")
        real_save()

    monkeypatch.setattr(store, "_save", flaky_save)
    results = sched.tick(NOW)
    monkeypatch.setattr(store, "_save", real_save)
    # whichever job claimed first lost its persist and was skipped — the
    # OTHER one still ran (the assertion does not depend on which job
    # claims first)
    ran = [r[0] for r in results]
    assert len(ran) == 1 and results[0][1] == "Success"
    skipped = ({1, 2} - set(ran)).pop()
    js = store.get(skipped)
    assert js.refresh_now is True and js.state != "Running"
    # and the skipped job stays due: the next tick claims and runs it
    assert [r[0] for r in sched.tick("2024-06-01T12:01:00")] == [skipped]


def test_warehouse_rejects_drive_relative_and_reserved_names(env):
    _, _, wh, _ = env
    with pytest.raises(ValueError):
        wh._path("C:evil")
