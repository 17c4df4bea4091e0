"""Driver-built tables enter Spark as Arrow local relations: sources keep
the types and rows ``createDataFrame(<python list>)`` gave them, their
plans stay local (no pickled RDD), and ``list_jobs`` shows UTC times on
any host timezone."""

import time
from datetime import datetime, timezone

import pandas as pd

from sutro_spark.cli import format_jobs_table
from sutro_spark.operators.elo import elo, ratings_markdown
from sutro_spark.operators.templates import rank
from sutro_spark.plans.jobs import Job, JobRegistry, JobStatus
from sutro_spark.sdk import SutroSpark
from sutro_spark.sources.ingest import (
    ROW_ID,
    from_list,
    from_pandas,
    from_records,
    prepare_input_data,
)

RECORDS = [
    {"a": 1, "b": 1.5, "c": True, "d": "x", "e": [1, 2], "f": {"k": 1}, "g": None},
    {"a": None, "b": None, "c": None, "d": None, "e": None, "f": None, "g": "z"},
    {"a": 2**62 + 1, "b": -0.25, "c": False, "d": "", "e": [], "f": {}, "g": "w"},
]


def _assert_local(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def test_from_records_keeps_list_types_and_rows(spark):
    df = from_records(spark, RECORDS)
    ref = spark.createDataFrame([{ROW_ID: i, **r} for i, r in enumerate(RECORDS)])
    assert df.schema == ref.schema
    assert df.schema.simpleString() == (
        "struct<__row_id:bigint,a:bigint,b:double,c:boolean,d:string,"
        "e:array<bigint>,f:map<string,bigint>,g:string>"
    )
    assert df.orderBy(ROW_ID).collect() == ref.orderBy(ROW_ID).collect()


def test_from_list_keeps_list_types_and_rows(spark):
    prompts = ["b", "a", "", "ünï"]
    df = from_list(spark, prompts, "text")
    ref = spark.createDataFrame(list(enumerate(prompts)), f"{ROW_ID} long, text string")
    assert df.schema == ref.schema
    assert df.orderBy(ROW_ID).collect() == ref.orderBy(ROW_ID).collect()


def test_from_pandas_keeps_types_and_rows(spark):
    pdf = pd.DataFrame({"text": ["p", "q"], "k": [1, 2], "w": [0.5, None]})
    df = from_pandas(spark, pdf)
    ref = spark.createDataFrame(pdf.assign(**{ROW_ID: range(2)})[[ROW_ID, "text", "k", "w"]])
    assert df.schema == ref.schema
    assert df.orderBy(ROW_ID).collect() == ref.orderBy(ROW_ID).collect()


def test_driver_built_plans_are_local_relations(spark):
    _assert_local(prepare_input_data(spark, ["x", "y"]))
    _assert_local(prepare_input_data(spark, [{"a": 1}, {"a": 2}]))
    so = SutroSpark(spark)
    _assert_local(so.classify(["x", "y"], ["pos", "neg"]))
    reg = JobRegistry(spark)
    reg.jobs["job-local"] = Job(job_id="job-local", status=JobStatus.SUCCEEDED)
    _assert_local(reg.jobs_table())
    _assert_local(JobRegistry(spark).jobs_table())  # no jobs: still local
    ballots = spark.createDataFrame([(["A", "B"],), (["B", "A"],)], "ranking array<string>")
    _assert_local(elo(ballots, "ranking"))


def test_jobs_table_collects_without_a_spark_job(spark):
    # a driver-built table is Spark's plain LocalRelation, with nothing
    # above it that would need a job to scan
    reg = JobRegistry(spark)
    for i in range(8):
        reg.jobs[f"job-{i}"] = Job(job_id=f"job-{i}", status=JobStatus.SUCCEEDED)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "jobs-table")
    try:
        rows = reg.jobs_table().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("jobs-table") == []
    assert sorted(r["job_id"] for r in rows) == sorted(reg.jobs)


def test_list_jobs_times_are_utc_on_a_non_utc_host(spark, monkeypatch):
    reg = JobRegistry(spark)
    noon = datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc)
    reg.jobs["job-tz"] = Job(
        job_id="job-tz", status=JobStatus.SUCCEEDED, datetime_created=noon,
        datetime_completed=noon,
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        assert time.localtime(0).tm_hour != 0  # the host zone really moved
        pdf = reg.jobs_table().toPandas()
        assert pdf.loc[0, "datetime_created"] == pd.Timestamp("2024-01-01 12:00:00")
        assert pdf.loc[0, "datetime_completed"] == pd.Timestamp("2024-01-01 12:00:00")
        row = format_jobs_table(reg.jobs_table()).first()
        assert row["created"] == "2024-01-01 12:00:00"
        assert row["completed"] == "2024-01-01 12:00:00"
    finally:
        monkeypatch.undo()
        time.tzset()


def test_rank_run_elo_prints_the_returned_ratings(spark, capsys):
    df = spark.createDataFrame(
        [(1, "alpha text", "beta text"), (2, "gamma", "delta delta")],
        "id long, x string, y string",
    )
    ratings = rank(df, ["x", "y"], "quality", run_elo=True)
    printed = capsys.readouterr().out
    _assert_local(ratings)
    # the ratings are a local relation, so rendering them again (as
    # rank did to print them) is a driver-side scan with no Spark job
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "ratings-markdown")
    try:
        markdown = ratings_markdown(ratings)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("ratings-markdown") == []
    assert printed.strip() == markdown
