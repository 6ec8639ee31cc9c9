"""Per-operation instrumentation: timing + row-count metrics around every
executed job/query.

Reference parity: ``@instrumented`` (reference utils.py:5-25) logs call args
and wall time around every manager operation (applied at manager.py:33-206).
The Spark engine observes at the ACTION boundary — the point where a JVM
``QueryExecutionListener`` fires. PySpark exposes no Python hook for that
batch listener interface (``spark.sql.queryExecutionListeners`` accepts JVM
class names only), so the engine pairs:

- a driver-side :class:`Recorder` that times each operation and buffers
  structured :class:`Metric` rows (flushed to a parquet metrics table by the
  scheduler, one file per tick like the run log), and
- Spark's ``Observation`` API for row counts: ``observed(df, obs)`` attaches
  a ``count(1)`` observation that the EXECUTING plan aggregates for free —
  no second pass, no driver collect — and the listener machinery underneath
  ``Observation`` is exactly the QueryExecutionListener, reached through its
  supported Python surface.

The :func:`instrumented` decorator preserves the reference's logging
behavior (call args logged before, ``took N secs`` after) for driver-side
functions that aren't Spark actions.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import wraps

from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

LOG = logging.getLogger("flusher_spark.metrics")


def utcnow_iso() -> str:
    # The one timestamp format for control-table state and metrics rows
    # alike; defined here (not imported) because the control package
    # imports this module.
    return datetime.now(timezone.utc).replace(tzinfo=None).isoformat(timespec="seconds")


def noop_write(df: DataFrame) -> None:
    """Execute a plan against the noop sink — the timing action bench.py and
    tools/scale_probe.py share: full scan+shuffle+compute, zero output cost."""
    df.write.format("noop").mode("overwrite").save()


def median_seconds(runs: list[float]) -> float:
    """True median (statistics.median): even run counts average the two
    middles — ``runs[len//2]`` is the UPPER middle and biases even-repeat
    timings high."""
    import statistics

    return float(statistics.median(runs))


@dataclass(frozen=True)
class Metric:
    """One metrics row; its fields, in order, are the columns of the
    metrics table JobStore.append_metrics writes."""

    ts: str
    op: str
    args: str
    seconds: float
    rows: int  # -1 = not observed


def observed(df: DataFrame, obs: Observation, name: str = "rows") -> DataFrame:
    """Attach a zero-cost row-count observation to a plan; read it with
    ``obs.get[name]`` after any action has materialized the DataFrame."""
    return df.observe(obs, F.count(F.lit(1)).alias(name))


@dataclass
class Recorder:
    """Buffers structured metrics; the owner decides where they land
    (scheduler → JobStore.append_metrics; bench → log only)."""

    logfunc: Callable[[str], None] = LOG.info
    records: list[Metric] = field(default_factory=list)

    def observe(self, op: str, seconds: float, rows: int = -1, **args) -> Metric:
        m = Metric(utcnow_iso(), op, repr(args) if args else "", round(seconds, 6), rows)
        self.records.append(m)
        self.logfunc(f"{op}: took {seconds:.2f} secs" + (f", {rows} rows" if rows >= 0 else ""))
        return m

    @contextmanager
    def timed(self, op: str, **args):
        """Time a block; set ``ctx['rows']`` inside to record a row count.

        A block that RAISES records under ``<op>:failed`` — the Metric
        schema has no status column, so a failure recorded under the bare
        op (the old finally did exactly that) was indistinguishable from a
        success: a fast-failing run_job skewed latency medians low with no
        way to filter it out (r13 review). The suffixed op keeps failure
        latency observable while op-keyed success analyses stay clean; the
        reference decorator logs nothing on failure at all."""
        if args:
            self.logfunc(f"{op}: called with arguments {args}")
        ctx: dict = {"rows": -1}
        start = time.time()
        try:
            yield ctx
        except BaseException:
            self.observe(f"{op}:failed", time.time() - start, rows=int(ctx.get("rows", -1)), **args)
            raise
        self.observe(op, time.time() - start, rows=int(ctx.get("rows", -1)), **args)

    def drain(self) -> list[Metric]:
        out, self.records = self.records, []
        return out


def instrumented(logfunc: Callable[[str], None] = LOG.info):
    """The reference decorator's exact contract (utils.py:5-25): log call
    args (or a bare "called"), run, log wall time."""

    def deco(func):
        @wraps(func)
        def wrapped(*args, **kwargs):
            if args or kwargs:
                logfunc(f"{func.__name__}: called with arguments {args or ''} {kwargs or ''}")
            else:
                logfunc(f"{func.__name__} called")
            start = time.time()
            res = func(*args, **kwargs)
            logfunc(f"{func.__name__}: took {time.time() - start:.2f} secs.")
            return res

        return wrapped

    return deco
