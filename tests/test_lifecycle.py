"""Job lifecycle, cost estimation, traces, progress, streaming, CLI."""

import time

import pytest
from pyspark.sql import functions as F

from sutro_spark.cli import format_jobs_table
from sutro_spark.observability import complete_traces, create_traces, open_traces
from sutro_spark.operators.results import read_result_cache, write_result_cache
from sutro_spark.operators.transform import llm_transform
from sutro_spark.plans.cost import estimate_cost
from sutro_spark.plans.jobs import JobRegistry, JobStatus
from sutro_spark.streaming.progress import (
    ProgressTracker,
    streaming_event_stats,
    windowed_event_stats,
)


def test_job_submit_await_results(spark, documents):
    reg = JobRegistry(spark)
    out = llm_transform(documents, "text")
    job_id = reg.submit(out, name="test-job", model="stub-echo")
    assert reg.await_job_completion(job_id, timeout=120) is JobStatus.SUCCEEDED
    assert reg.get_job_status(job_id) is JobStatus.SUCCEEDED
    job = reg.jobs[job_id]
    assert job.rows_total == documents.count()
    assert job.rows_completed == documents.count()
    assert job.datetime_completed is not None
    # a finished job is past cancelling
    reg.cancel_job(job_id)
    assert reg.get_job_status(job_id) is JobStatus.SUCCEEDED


def test_job_durable_materialization_and_progress(spark, documents, tmp_path, monkeypatch):
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    reg = JobRegistry(spark)
    acc = reg.make_progress_accumulator()
    out = llm_transform(documents, "text", progress_accumulator=acc)
    job_id = reg.submit(out, name="durable", progress_accumulator=acc)
    assert reg.await_job_completion(job_id, timeout=120) is JobStatus.SUCCEEDED
    n = documents.count()
    assert reg.jobs[job_id].rows_completed == n
    assert acc.value >= n  # every batch reported progress
    # durable: results live in the parquet cache, not executor memory
    from sutro_spark.operators.results import cache_path
    import os

    assert os.path.isdir(cache_path(job_id))


def test_job_validation_and_failure(spark, documents):
    reg = JobRegistry(spark)
    with pytest.raises(ValueError, match="45"):
        reg.submit(documents, name="x" * 46)
    with pytest.raises(ValueError, match="512"):
        reg.submit(documents, description="x" * 513)
    with pytest.raises(ValueError, match="unknown priority 7"):
        reg.submit(documents, priority=7)
    assert reg.jobs == {}
    # a plan that fails at execution time → FAILED with a reason
    bad = documents.withColumn("boom", F.expr("raise_error('kaboom')"))
    job_id = reg.submit(bad, name="failing")
    assert reg.await_job_completion(job_id, timeout=120) is JobStatus.FAILED
    assert reg.get_job_status(job_id) is JobStatus.FAILED
    assert "kaboom" in (reg.get_failure_reason(job_id) or "")


def test_failed_job_leaves_no_results(spark, documents, tmp_path, monkeypatch):
    import os

    from sutro_spark.cli import jobs_status
    from sutro_spark.operators.results import cache_path
    from sutro_spark.sdk import SutroSpark

    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    so = SutroSpark(spark)
    reg = so.registry
    bad = documents.withColumn("boom", F.expr("raise_error('kaboom')"))
    job_id = reg.submit(bad, name="failing")
    assert reg.await_job_completion(job_id, timeout=120) is JobStatus.FAILED
    assert reg.get_job_status(job_id) is JobStatus.FAILED
    assert so.await_job_completion(job_id) is None
    with pytest.raises(ValueError, match="no results"):
        so.get_job_results(job_id)
    # the partial write is removed, so a fresh registry cannot take the
    # job for a succeeded one
    assert not os.path.exists(cache_path(job_id))
    assert jobs_status(job_id) == "UNKNOWN"


def test_cancelled_job_leaves_no_results(spark, documents, tmp_path, monkeypatch):
    import os

    from sutro_spark.operators.results import cache_path

    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    reg = JobRegistry(spark)
    slow = documents.limit(4).coalesce(1).withColumn(
        "nap", F.expr("reflect('java.lang.Thread', 'sleep', CAST(3000 AS BIGINT))")
    )
    job_id = reg.submit(slow, name="slow")
    deadline = time.time() + 60
    while reg.get_job_status(job_id) is not JobStatus.RUNNING and time.time() < deadline:
        time.sleep(0.05)
    time.sleep(1.0)  # inside the first row's sleep
    with pytest.raises(TimeoutError, match="did not complete within 0.1s"):
        reg.await_job_completion(job_id, timeout=0.1)
    reg.cancel_job(job_id)
    assert reg.await_job_completion(job_id, timeout=120) is JobStatus.CANCELLED
    assert reg.get_job_status(job_id) is JobStatus.CANCELLED
    assert not os.path.exists(cache_path(job_id))


def test_cancel_before_the_job_thread_runs_ends_unwritten(
    spark, documents, tmp_path, monkeypatch
):
    # hold the job thread's start back until cancel_job has run: the
    # thread must see CANCELLING and end the job without writing
    import os
    import threading

    from sutro_spark.operators.results import cache_path

    held = []
    start = threading.Thread.start

    class HeldThread(threading.Thread):
        def start(self):
            if self.name.startswith("job-"):
                held.append(self)
            else:
                start(self)

    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    monkeypatch.setattr(threading, "Thread", HeldThread)
    reg = JobRegistry(spark)
    job_id = reg.submit(documents.limit(3), name="held")
    assert [t.name for t in held] == [job_id]
    assert reg.get_job_status(job_id) is JobStatus.STARTING
    reg.cancel_job(job_id)
    assert reg.get_job_status(job_id) is JobStatus.CANCELLING
    start(held[0])
    held[0].join(120)
    assert not held[0].is_alive()
    assert reg.get_job_status(job_id) is JobStatus.CANCELLED
    assert not os.path.exists(cache_path(job_id))
    assert reg.jobs[job_id].rows_completed == 0
    assert reg.await_job_completion(job_id, timeout=120) is JobStatus.CANCELLED


def test_awaiting_an_unknown_job_returns_at_once(spark):
    from sutro_spark.sdk import SutroSpark

    so = SutroSpark(spark)
    t0 = time.perf_counter()
    assert so.registry.await_job_completion("job-nope", timeout=60) is JobStatus.UNKNOWN
    assert so.await_job_completion("job-nope", timeout=60) is None
    assert time.perf_counter() - t0 < 5
    # nor can it report on, or cancel, a job it never ran
    assert so.registry.get_job_status("job-nope") is JobStatus.UNKNOWN
    assert so.get_job_status("job-nope") == "UNKNOWN"
    so.cancel_job("job-nope")
    assert so.registry.jobs == {}


def test_results_dir_counts_only_with_success_marker(spark, documents, tmp_path, monkeypatch):
    import os

    from sutro_spark.cli import jobs_status
    from sutro_spark.operators.results import cache_path, is_complete

    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    path = write_result_cache(documents.limit(3), "job-marker")
    assert is_complete(path) and jobs_status("job-marker") == "SUCCEEDED"
    # a write killed before its commit leaves a directory without _SUCCESS
    os.remove(os.path.join(path, "_SUCCESS"))
    assert not is_complete(cache_path("job-marker"))
    assert read_result_cache(spark, "job-marker") is None
    assert jobs_status("job-marker") == "UNKNOWN"


def test_driver_memory_sizing(tmp_path, monkeypatch):
    from sutro_spark.session import driver_memory

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree:        14700296 kB\n")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(str(meminfo)) == "8035m"  # half of MemTotal, in MiB
    meminfo.write_text("MemTotal:        1048576 kB\n")
    assert driver_memory(str(meminfo)) == "1024m"  # never below 1g
    assert driver_memory(str(tmp_path / "absent")) == "4g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert driver_memory(str(meminfo)) == "1g"  # the override wins


def test_reliable_checkpoints_are_cleaned(spark):
    # superseded SUTRO_SPARK_CHECKPOINT_DIR checkpoints are deleted when
    # their RDD is garbage collected, not kept until the session ends
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_quota_check(spark):
    reg = JobRegistry(spark)
    with pytest.raises(ValueError, match="quota"):
        reg.check_quota(0, rows=10_000_000, tokens=0)
    reg.check_quota(0, rows=10, tokens=10)


def test_jobs_table_and_cli_format(spark, documents):
    reg = JobRegistry(spark)
    job_id = reg.submit(documents.limit(5), name="fmt")
    reg.await_job_completion(job_id, timeout=120)
    table = format_jobs_table(reg.jobs_table())
    row = table.first()
    assert row["job_id"] == job_id
    assert row["cost"].startswith("$")
    assert row["created"]  # formatted string


def test_cost_estimate_prefix_sample(spark, documents):
    est = estimate_cost(documents, "text", model="stub-echo")
    assert est["rows"] == documents.count()
    assert est["sampled_rows"] <= est["rows"]
    assert est["input_tokens"] > 0 and est["cost"] > 0


@pytest.mark.parametrize("n", [99, 100, 101])
def test_cost_estimate_counts_only_a_full_prefix(spark, monkeypatch, n):
    # sample_token_budget=1000 → a 100-row prefix: inputs shorter than,
    # exactly as long as and longer than it give the dict of the
    # count-first formula, and only a full prefix runs the count
    import math

    from sutro_spark.sources.ingest import from_list

    prompts = [f"prompt {i} " + "x" * (i % 13) for i in range(n)]
    df = from_list(spark, prompts)
    counts = []
    real_count = type(df).count
    monkeypatch.setattr(type(df), "count", lambda self: counts.append(1) or real_count(self))
    est = estimate_cost(df, "prompt", model="stub-echo", sample_token_budget=1000)
    sample = prompts[:100]
    per_row = sum(math.ceil(len(p) / 4) for p in sample) / len(sample)
    input_tokens = int(per_row * n)
    output_tokens = 128 * n
    assert est == {
        "rows": n,
        "input_tokens": input_tokens,
        "output_tokens": output_tokens,
        "cost": round(input_tokens / 1e6 * 0.10 + output_tokens / 1e6 * 0.40, 6),
        "sampled_rows": len(sample),
    }
    assert len(counts) == (0 if n < 100 else 1)


def test_cost_estimate_empty_input(spark, documents):
    est = estimate_cost(documents.limit(0), "text")
    assert est == {"rows": 0, "input_tokens": 0, "output_tokens": 0, "cost": 0.0,
                   "sampled_rows": 0}


def test_dry_run_builds_no_transform_plan(spark, monkeypatch):
    import sutro_spark.sdk as sdk

    def no_plan(*a, **kw):
        raise AssertionError("dry run built the llm_transform plan")

    so = sdk.SutroSpark(spark)
    prompts = [f"p{i}" for i in range(30)]
    expected = so.estimate_cost(prompts, "prompt")
    monkeypatch.setattr(sdk, "llm_transform", no_plan)
    assert so.infer(prompts, dry_run=True) == expected
    assert so.registry.jobs == {}


def test_traces_roundtrip(spark, documents):
    docs = documents.limit(10)
    traces = create_traces(docs, "job-t1", "text")
    assert open_traces(traces).count() == 10
    results = llm_transform(docs, "text")
    done = complete_traces(traces, results, "job-t1", total_tokens=1000)
    rows = done.collect()
    assert len(rows) == 10
    assert all(r["outputs"].startswith("ECHO: ") for r in rows)
    assert all(r["tokens_estimate"] == 100 for r in rows)
    assert open_traces(done).count() == 0
    # deterministic id: same (job, row) → same trace id across builds
    t2 = {r["row_id"]: r["trace_id"] for r in create_traces(docs, "job-t1", "text").collect()}
    assert all(t2[r["row_id"]] == r["trace_id"] for r in rows)


def test_progress_monotonic():
    p = ProgressTracker(rows_total=100)
    assert p.update_rows(10) and not p.update_rows(5)  # late update ignored
    assert p.rows_completed == 10
    p.update_tokens(input_tokens=50)
    p.update_tokens(input_tokens=40)  # stale → ignored
    assert p.tokens["input_tokens"] == 50


def test_streaming_event_stats_matches_batch(spark, sf_dir, tmp_path):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_stats(events).collect()
    }
    # the raw testdata uses nanosecond timestamps (read as long nanos);
    # rewrite with a proper timestamp column for the streaming source
    from sutro_spark.streaming.progress import event_timestamp

    stream_src = str(tmp_path / "events")
    events.withColumn("ts", event_timestamp(events)).write.mode("overwrite").parquet(stream_src)
    q = (
        streaming_event_stats(spark, stream_src)
        .writeStream.format("memory")
        .queryName("evstats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    stream = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from evstats").collect()
    }
    assert stream == batch
