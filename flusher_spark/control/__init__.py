from flusher_spark.control.model import Job
from flusher_spark.control.store import JOBS_COLUMNS, RUN_LOG_COLUMNS, JobStore
from flusher_spark.control.scheduler import (
    Scheduler,
    due_jobs,
    translate_error,
)

__all__ = [
    "JOBS_COLUMNS",
    "RUN_LOG_COLUMNS",
    "Job",
    "JobStore",
    "Scheduler",
    "due_jobs",
    "translate_error",
]
