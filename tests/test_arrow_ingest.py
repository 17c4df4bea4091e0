"""In-memory inputs above ``spark.sql.execution.arrow.localRelationThreshold``
enter Spark as an RDD of Arrow batches with one partition per batch, at most
one per task slot, in ``__row_id`` order, and a job the registry knows is
read back with the schema it wrote, without a Spark job to infer it."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sutro_spark.sdk import SutroSpark
from sutro_spark.sources.ingest import ROW_ID, from_pandas, prepare_input_data

SCHEMA = {"type": "object", "properties": {"title": {"type": "string"}}}


def _prompts(n, width):
    # each prompt starts with its position, so the stub's output (the
    # first 32 characters, upper-cased) tells rows apart
    return [f"{i:06d} lorem ipsum dolor sit amet".ljust(width, ".") for i in range(n)]


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def _spark_jobs(spark, *groups):
    """Spark jobs run so far under the given job groups."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)


def _spans(df):
    """(partition, first id, last id, rows) per partition, in partition order."""
    return sorted(
        tuple(r)
        for r in df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.min(ROW_ID), F.max(ROW_ID), F.count("*"))
        .collect()
    )


@pytest.fixture
def so(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    return SutroSpark(spark)


# 5k prompts of 300 characters (about 1.5 MB) fit in one 10k-row Arrow
# batch, so one partition; 30k of 60 characters (about 1.8 MB) fill three.
# Both are above the session's 1 MiB threshold and below ``slots`` batches.
@pytest.mark.parametrize("n,width", [(5_000, 300), (30_000, 60)])
@pytest.mark.parametrize("kind", ["list", "pandas"])
def test_large_input_is_arrow_batches_on_the_task_slots(spark, so, kind, n, width):
    prompts = _prompts(n, width)
    data = pd.DataFrame({"prompt": prompts}) if kind == "pandas" else prompts
    assert len("".join(prompts).encode()) > 1 << 20
    slots = spark.sparkContext.defaultParallelism
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    parts = min(slots, -(-n // per_batch))
    df = prepare_input_data(spark, data, "prompt")
    assert "LocalRelation" not in _plan(df)
    assert df.rdd.getNumPartitions() == parts

    name = f"arrow-{kind}-{n}"
    res = so.infer(data, column="prompt", name=name)
    job_id = next(j for j, job in so.registry.jobs.items() if job.name == name)
    path = so.registry.jobs[job_id].results_path
    assert len([f for f in os.listdir(path) if f.startswith("part-")]) == parts
    assert res.count() == n
    got = so.get_job_results(job_id, include_inputs=True).toPandas()
    assert got["inputs"].tolist() == prompts
    assert got["inference_result"].tolist() == ["ECHO: " + p[:32].upper() for p in prompts]


def _records(prompts):
    return [{"prompt": p} for p in prompts]


@pytest.mark.parametrize(
    "make", [list, _records, lambda ps: pd.DataFrame({"prompt": ps})], ids=["list", "records", "pandas"]
)
def test_a_small_input_is_one_partition_over_a_local_relation(spark, make):
    # 200 rows are one Arrow batch: one partition, not one per slot,
    # over the LocalRelation the driver's rows make
    df = prepare_input_data(spark, make(_prompts(200, 60)), "prompt")
    plan = _plan(df)
    assert plan.rstrip().splitlines()[-1].lstrip(" +-:").startswith("LocalRelation")
    assert "LogicalRDD" not in plan
    assert df.rdd.getNumPartitions() == 1


def test_a_small_infer_writes_one_file_in_one_task(spark, so):
    prompts = _prompts(200, 60)
    res = so.infer(prompts, name="one-batch")
    job_id = next(j for j, job in so.registry.jobs.items() if job.name == "one-batch")
    path = so.registry.jobs[job_id].results_path
    assert len([f for f in os.listdir(path) if f.startswith("part-")]) == 1
    # the job's write is one Spark job of one stage with one task
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    (write,) = tracker.getJobIdsForGroup(job_id)
    stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(write).stageIds]
    assert [s.numTasks for s in stages] == [1]
    assert [r["inference_result"] for r in res.collect()] == ["ECHO: " + p[:32].upper() for p in prompts]


def test_more_batches_than_slots_coalesce_in_row_id_order(spark):
    # 100k prompts of 60 characters: about 6 MB in more Arrow batches
    # than slots, which coalesce to one even, contiguous run per slot
    n = 100_000
    pdf = pd.DataFrame({"prompt": _prompts(n, 60)})
    slots = spark.sparkContext.defaultParallelism
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert -(-n // per_batch) > slots
    df = prepare_input_data(spark, pdf)
    assert "LocalRelation" not in _plan(df)
    assert df.rdd.getNumPartitions() == slots
    # no shuffle: each partition is one contiguous run of ids, and the
    # partitions follow each other in id order
    ids = [r[0] for r in df.select(ROW_ID).collect()]
    assert ids == list(range(n))
    spans = _spans(df)
    assert [lo for _, lo, _, _ in spans] == sorted(lo for _, lo, _, _ in spans)
    assert all(hi - lo + 1 == cnt for _, lo, hi, cnt in spans)
    assert {cnt for *_, cnt in spans} <= {n // slots, -(-n // slots)}


@pytest.mark.parametrize("n", [3, 20_000])
def test_pandas_input_keeps_sparks_own_schema_and_rows(spark, n):
    # below and above the threshold, a pandas frame gets the schema and
    # values Spark's own pandas conversion gives it
    pdf = pd.DataFrame(
        {
            "prompt": [None if i % 7 == 0 else f"{i:06d}".ljust(60, "x") for i in range(n)],
            "n": np.arange(n),
            "i32": np.arange(n, dtype="int32"),
            "x": [np.nan if i % 5 == 0 else i / 2 for i in range(n)],
            "flag": [i % 2 == 0 for i in range(n)],
            "ts": pd.date_range("2024-01-01", periods=n, freq="s"),
            "tags": [[i, i + 1] for i in range(n)],
            "cat": pd.Categorical(["a", "b"] * (n // 2) + ["a"] * (n % 2)),
        },
        index=range(10, 10 + n),
    )
    got = from_pandas(spark, pdf)
    want = spark.createDataFrame(pdf.reset_index(drop=True).assign(**{ROW_ID: range(n)}))
    assert ("LocalRelation" in _plan(got)) == (n == 3)
    assert got.schema == want.select(ROW_ID, *pdf.columns).schema
    assert got.orderBy(ROW_ID).collect() == want.select(ROW_ID, *pdf.columns).orderBy(ROW_ID).collect()


def test_empty_pandas_input_is_rejected_like_an_empty_list(spark):
    with pytest.raises(ValueError, match="empty input data"):
        prepare_input_data(spark, [])
    with pytest.raises(ValueError, match="empty input data"):
        prepare_input_data(spark, pd.DataFrame({"prompt": pd.Series([], dtype=object)}))


def test_known_job_reads_run_no_schema_job(spark, so):
    sc = spark.sparkContext
    prompts = _prompts(100, 60)
    sc.setJobGroup("arrow-attached", "attached infer")
    try:
        # a declared schema: the fetch unpacks with it instead of
        # sniffing the first row
        so.infer(prompts, output_schema=SCHEMA, name="arrow-count")
        job_id = next(j for j, job in so.registry.jobs.items() if job.name == "arrow-count")
        # the write, in the job's own group; the read takes the stored schema
        assert _spark_jobs(spark, "arrow-attached", job_id) == 1
        sc.setJobGroup("arrow-fetch", "results fetch, no action")
        fetched = so.get_job_results(job_id, include_inputs=True)
        assert _spark_jobs(spark, "arrow-fetch") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert fetched.columns == ["inputs", "prompt", "title"]
    assert fetched.count() == 100
