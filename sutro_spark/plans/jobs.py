"""Job lifecycle / control plane (SURVEY.md §2.6 C1-C15).

Reference semantics (/root/reference/sutro/sdk.py, interfaces.py:69-91):
jobs are async units with an id, validated name/description, a priority
class, a status FSM, token/cost counters and timestamps; clients submit,
poll status every 5 s (timeout 7200 s), stream progress, cancel, and
check per-priority quotas.

Spark mapping: a driver-side registry backed by one dict of job
records (exposed as a DataFrame for relational queries); execution is
an async Spark action on the job's own thread, tagged with a job group
so ``cancel`` maps to ``sc.cancelJobGroup``; priorities map to FAIR
scheduler pools. The thread makes the job's terminal transition under
the registry's lock before it exits, so waiting for a job is joining
its thread.

One materialization per job: the job's only action writes its plan to
the parquet results cache (``cache_path(job_id)``, the reference's
per-job parquet, sdk.py:1233), with the row count riding that write as
an observed metric. The registry keeps the path and the schema written
there, never a DataFrame; ``SutroSpark.get_job_results`` reads that
file with that schema, so no fetch runs a job to infer it from the
footer.
"""

from __future__ import annotations

import shutil
import threading
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from enum import Enum

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sutro_spark.operators.results import cache_path, write_result_cache
from sutro_spark.sources.ingest import local_frame

MAX_NAME_LEN = 45  # sdk.py:38
MAX_DESCRIPTION_LEN = 512  # sdk.py:39
DEFAULT_TIMEOUT_S = 7200.0  # sdk.py:1646


class JobStatus(str, Enum):
    """Status FSM (reference: interfaces.py:69-91)."""

    UNKNOWN = "UNKNOWN"
    QUEUED = "QUEUED"
    STARTING = "STARTING"
    RUNNING = "RUNNING"
    SUCCEEDED = "SUCCEEDED"
    CANCELLING = "CANCELLING"
    CANCELLED = "CANCELLED"
    FAILED = "FAILED"

    @property
    def is_terminal(self) -> bool:
        return self in (JobStatus.SUCCEEDED, JobStatus.CANCELLED, JobStatus.FAILED)


@dataclass
class Job:
    job_id: str
    name: str | None = None
    description: str | None = None
    model: str = "stub-echo"
    priority: int = 0  # 0 = prototyping (default), 1 = production
    status: JobStatus = JobStatus.QUEUED
    rows_total: int = 0
    rows_completed: int = 0
    input_tokens: int = 0
    output_tokens: int = 0
    cost_estimate: float = 0.0
    failure_reason: str | None = None
    results_path: str | None = None  # the job's parquet results
    schema: StructType | None = None  # the schema those results are written with
    datetime_created: datetime = field(
        default_factory=lambda: datetime.now(timezone.utc)
    )
    datetime_completed: datetime | None = None
    # the thread running the job's write, and the rows-completed
    # accumulator its transform reports to (C5)
    thread: threading.Thread | None = field(default=None, repr=False, compare=False)
    progress: object = field(default=None, repr=False, compare=False)


@dataclass
class Quota:
    max_rows: int
    max_tokens: int


DEFAULT_QUOTAS = {0: Quota(max_rows=5_000_000, max_tokens=2_000_000_000),
                  1: Quota(max_rows=500_000_000, max_tokens=200_000_000_000)}


class JobRegistry:
    """Driver-side job table + async execution (C1-C10)."""

    def __init__(self, spark: SparkSession, quotas: dict[int, Quota] | None = None):
        self.spark = spark
        self.jobs: dict[str, Job] = {}
        self.quotas = quotas or dict(DEFAULT_QUOTAS)
        self._lock = threading.Lock()

    def make_progress_accumulator(self):
        """Rows-completed accumulator to thread into ``llm_transform``
        (C5 — the progress stream analog; pass to ``submit`` too)."""
        return self.spark.sparkContext.accumulator(0)

    # --- C1: submit -------------------------------------------------------
    def submit(
        self,
        df: DataFrame,
        *,
        name: str | None = None,
        description: str | None = None,
        model: str = "stub-echo",
        priority: int = 0,
        progress_accumulator=None,
    ) -> str:
        """Validate, register, and launch the plan as an async write of
        its parquet results in its own job group (cancellable).
        Submission is never retried — a failed launch surfaces
        immediately (reference analog: sdk.py:247-252, max_retries=0 on
        POST /batch-inference). A failed or cancelled job leaves no
        results directory behind.
        """
        if name is not None and len(name) > MAX_NAME_LEN:
            raise ValueError(f"name must be <= {MAX_NAME_LEN} characters")
        if description is not None and len(description) > MAX_DESCRIPTION_LEN:
            raise ValueError(f"description must be <= {MAX_DESCRIPTION_LEN} characters")
        if priority not in self.quotas:
            raise ValueError(f"unknown priority {priority}; have {sorted(self.quotas)}")
        job_id = f"job-{uuid.uuid4().hex[:12]}"
        job = Job(
            job_id=job_id,
            name=name,
            description=description,
            model=model,
            priority=priority,
            status=JobStatus.STARTING,
            results_path=cache_path(job_id),
            schema=df.schema,
            progress=progress_accumulator,
        )

        def run() -> None:
            # A cancel that landed before this thread ran ends the job
            # here, unwritten; a later one cancels the job group.
            with self._lock:
                started = job.status is not JobStatus.CANCELLING
                if started:
                    job.status = JobStatus.RUNNING
            error = None
            if started:
                try:
                    sc = self.spark.sparkContext
                    sc.setJobGroup(job_id, name or job_id, interruptOnCancel=True)
                    # C9: priority classes → FAIR scheduler pools
                    sc.setLocalProperty(
                        "spark.scheduler.pool",
                        "production" if priority == 1 else "prototyping",
                    )
                    obs = Observation()
                    write_result_cache(
                        df.observe(obs, F.count(F.lit(1)).alias("rows")), job_id
                    )
                    job.rows_completed = job.rows_total = obs.get["rows"]
                except Exception as e:  # noqa: BLE001 - failure_reason capture (C12)
                    error = str(e)[:500]
            # Terminal transition under the lock, the thread's last act: a
            # cancel_job() racing in after the write must win (CANCELLING →
            # CANCELLED, never SUCCEEDED), and the partial directory is
            # gone before the terminal status is visible.
            with self._lock:
                job.datetime_completed = datetime.now(timezone.utc)
                if job.status == JobStatus.CANCELLING or error is not None:
                    shutil.rmtree(job.results_path, ignore_errors=True)
                if job.status == JobStatus.CANCELLING:
                    job.status = JobStatus.CANCELLED
                elif error is not None:
                    job.status = JobStatus.FAILED
                    job.failure_reason = error
                else:
                    job.status = JobStatus.SUCCEEDED

        job.thread = threading.Thread(target=run, name=job_id, daemon=True)
        with self._lock:
            self.jobs[job_id] = job
        job.thread.start()
        return job_id

    # --- C8: quotas pre-check --------------------------------------------
    def check_quota(self, priority: int, rows: int, tokens: int) -> None:
        q = self.quotas[priority]
        if rows > q.max_rows:
            raise ValueError(f"row quota exceeded for priority {priority}: {rows} > {q.max_rows}")
        if tokens > q.max_tokens:
            raise ValueError(
                f"token quota exceeded for priority {priority}: {tokens} > {q.max_tokens}"
            )

    # --- C2/C12: status ---------------------------------------------------
    def get_job_status(self, job_id: str) -> JobStatus:
        job = self.jobs.get(job_id)
        if job is None:
            return JobStatus.UNKNOWN
        acc = job.progress
        if acc is not None and job.status is JobStatus.RUNNING:
            # live rows-completed with the monotonic-max rule (A5:
            # never move progress backwards on late/dup updates)
            if acc.value > job.rows_completed:
                job.rows_completed = acc.value
        return job.status

    def get_failure_reason(self, job_id: str) -> str | None:
        job = self.jobs.get(job_id)
        return job.failure_reason if job else None

    # --- C3: await -------------------------------------------------------
    def await_job_completion(
        self, job_id: str, timeout: float = DEFAULT_TIMEOUT_S
    ) -> JobStatus:
        """Wait up to ``timeout`` s (the reference's 7200 s default,
        sdk.py:1643-1718) for the job's thread, and return the terminal
        status it set before exiting; UNKNOWN, at once, for an id this
        registry does not know."""
        job = self.jobs.get(job_id)
        if job is None:
            return JobStatus.UNKNOWN
        job.thread.join(timeout)
        if job.thread.is_alive():
            raise TimeoutError(f"job {job_id} did not complete within {timeout}s")
        return job.status

    # --- C7: cancel -------------------------------------------------------
    def cancel_job(self, job_id: str) -> None:
        job = self.jobs.get(job_id)
        if job is None:
            return
        with self._lock:
            if job.status.is_terminal:
                return
            job.status = JobStatus.CANCELLING
        self.spark.sparkContext.cancelJobGroup(job_id)

    # --- list_jobs as a DataFrame (feeds the CLI relational ops) ---------
    def jobs_table(self) -> DataFrame:
        rows = [
            (
                j.job_id,
                j.name,
                j.status.value,
                j.model,
                j.priority,
                j.rows_total,
                j.rows_completed,
                j.input_tokens,
                j.output_tokens,
                float(j.cost_estimate),
                j.datetime_created,
                j.datetime_completed,
            )
            for j in self.jobs.values()
        ]
        schema = (
            "job_id string, name string, status string, model string, priority int,"
            " rows_total long, rows_completed long, input_tokens long, output_tokens long,"
            " cost_estimate double, datetime_created timestamp, datetime_completed timestamp"
        )
        return local_frame(self.spark, rows, schema)

    def results_file(self, job_id: str) -> tuple[str, StructType | None, int | None]:
        """Where the job's parquet results live, the schema they are
        written with, both fixed at submit, and the job's row count, for
        a job this registry knows; for any other id, the cache path for
        it and no schema or count."""
        job = self.jobs.get(job_id)
        if job is None:
            return cache_path(job_id), None, None
        return job.results_path, job.schema, job.rows_total
