"""A job's results have one view: attached ``infer``,
``SutroSpark.await_job_completion``, ``sutro jobs results`` and
``SutroSpark.get_job_results`` return the same rows, in input order,
without the engine's ``__row_id`` and ``__prompt`` columns."""

import pytest
from pyspark.sql import functions as F

from sutro_spark.cli import jobs_results
from sutro_spark.sdk import SutroSpark

SCHEMA = {"type": "object", "properties": {"title": {"type": "string"}}}
ROWS = 2_000


@pytest.mark.parametrize("schema", [SCHEMA, None], ids=["schema", "no-schema"])
def test_every_results_path_returns_the_ordered_view(spark, tmp_path, monkeypatch, schema):
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    so = SutroSpark(spark)
    # four input partitions; each prompt starts with its position, so
    # the stub's output tells rows apart
    data = spark.range(0, ROWS, 1, 4).select(
        "id", F.format_string("%06d lorem ipsum dolor sit amet", "id").alias("prompt")
    )
    assert data.rdd.getNumPartitions() == 4
    attached = so.infer(data, column="prompt", output_schema=schema, name="one-view")
    job_id = next(j for j, job in so.registry.jobs.items() if job.name == "one-view")
    views = {
        "infer": attached,
        "await_job_completion": so.await_job_completion(job_id, timeout=120),
        "jobs_results": jobs_results(job_id),
        "get_job_results": so.get_job_results(job_id),
    }
    out = "title" if schema else "inference_result"
    for path, view in views.items():
        assert view.columns == ["id", "prompt", out], path
    rows = {path: view.collect() for path, view in views.items()}
    want = rows["get_job_results"]
    assert [r["id"] for r in want] == list(range(ROWS))
    # each row carries its own prompt's output (the stub's documented rules)
    echo = (lambda p: p[:12].upper()) if schema else (lambda p: "ECHO: " + p[:32].upper())
    assert all(r[out] == echo(r["prompt"]) for r in want)
    for path, got in rows.items():
        assert got == want, path


def test_a_small_known_job_sorts_in_one_task(spark, tmp_path, monkeypatch):
    """A job the registry knows to hold at most one Arrow batch of rows
    is ordered on one partition, with no exchange; with a batch one row
    smaller the sort keeps its range shuffle. Both views are in input
    order."""
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    so = SutroSpark(spark)
    data = spark.range(0, ROWS, 1, 4).select("id", F.format_string("%06d", "id").alias("prompt"))
    so.infer(data, column="prompt", output_schema=SCHEMA, name="one-task")
    job_id = next(j for j, job in so.registry.jobs.items() if job.name == "one-task")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    try:
        for per_batch, exchange in ((ROWS, False), (ROWS - 1, True)):
            spark.conf.set(key, str(per_batch))
            view = so.get_job_results(job_id)
            plan = view._jdf.queryExecution().executedPlan().toString()
            assert ("Exchange" in plan) is exchange, per_batch
            assert [r["id"] for r in view.collect()] == list(range(ROWS)), per_batch
    finally:
        spark.conf.set(key, before)


def test_an_attached_infer_opens_its_results_file_once(spark, tmp_path, monkeypatch):
    """Waiting for a job reads nothing: the only read of the job's file
    is the one that builds the results view."""
    from pyspark.sql.readwriter import DataFrameReader

    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    reads = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **kw):
        reads.append(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    res = SutroSpark(spark).infer(["alpha", "beta"], output_schema=SCHEMA)
    assert len(reads) == 1
    assert [r["title"] for r in res.collect()] == ["ALPHA", "BETA"]


def test_a_facade_job_keeps_its_logprobs_for_the_view_that_asks(spark, tmp_path, monkeypatch):
    """An attached ``infer`` writes the backend's logprobs into the job's
    file; the view returns them only when asked, last, and the CLI's
    ``jobs results`` flag reaches the same column."""
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    so = SutroSpark(spark)
    res = so.infer(["alpha", "be", "gamma ray"], output_schema=SCHEMA, name="logprobs")
    job_id = next(j for j, job in so.registry.jobs.items() if job.name == "logprobs")
    assert "cumulative_logprobs" not in res.columns
    assert "cumulative_logprobs" not in so.get_job_results(job_id).columns
    for view in (
        so.get_job_results(job_id, include_inputs=True, include_cumulative_logprobs=True),
        jobs_results(job_id, include_inputs=True, include_cumulative_logprobs=True),
    ):
        assert view.columns == ["inputs", "prompt", "title", "cumulative_logprobs"]
        rows = view.collect()
        assert [r["inputs"] for r in rows] == ["alpha", "be", "gamma ray"]
        # the stub's documented rule: -len(prompt) / 100
        assert [r["cumulative_logprobs"] for r in rows] == [-len(r["inputs"]) / 100 for r in rows]
