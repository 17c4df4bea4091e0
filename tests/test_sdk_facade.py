"""The SutroSpark facade: reference-API-shaped calls end to end
(mirrors the behavioral contracts of the reference's current tests,
tests/test_id_column.py)."""

import pytest
from pyspark.sql import functions as F

from sutro_spark.plans.jobs import JobStatus
from sutro_spark.sdk import SutroSpark


@pytest.fixture(scope="module")
def so(spark):
    return SutroSpark(spark)


SCHEMA = {
    "type": "object",
    "properties": {
        "summary": {"type": "string"},
        "quality": {"type": "integer", "minimum": 1, "maximum": 5},
    },
}


def test_infer_attached_with_unpack(so, documents):
    res = so.infer(documents.limit(20), column="text", output_schema=SCHEMA, name="facade")
    assert {"summary", "quality"} <= set(res.columns)
    assert "outputs" not in res.columns
    assert res.count() == 20
    row = res.first()
    assert 1 <= row["quality"] <= 5


def test_infer_detached_then_fetch(so, documents):
    job_id = so.infer(documents.limit(10), column="text", stay_attached=False)
    assert isinstance(job_id, str) and job_id.startswith("job-")
    res = so.await_job_completion(job_id, timeout=120)
    assert res.count() == 10
    assert so.get_job_status(job_id) == "SUCCEEDED"


def test_infer_plain_text_output_column_rename(so, documents):
    res = so.infer(documents.limit(5), column="text", output_column="answer")
    assert "answer" in res.columns
    row = res.first()
    assert row["answer"] == "ECHO: " + row["text"][:32].upper()


def test_infer_dry_run_returns_estimate(so, documents):
    est = so.infer(documents.limit(50), column="text", dry_run=True)
    assert est["rows"] == 50 and est["cost"] > 0


def test_results_cache_roundtrip(so, documents, tmp_path, monkeypatch):
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    job_id = so.infer(documents.limit(5), column="text", stay_attached=False)
    so.await_job_completion(job_id, timeout=120)
    first = so.get_job_results(job_id, output_column="out")
    # cache hit: a fresh facade's registry does not know the job, so
    # these rows can only come from the parquet cache
    again = SutroSpark(so.spark).get_job_results(job_id, output_column="out")
    assert first.count() == again.count() == 5
    assert first.collect() == again.collect()


def test_schema_results_reread_from_cache(so, documents, tmp_path, monkeypatch):
    import json

    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    res = so.infer(documents.limit(8), column="text", output_schema=SCHEMA, name="reread")
    job_id = next(j for j, job in so.registry.jobs.items() if job.name == "reread")
    fresh = SutroSpark(so.spark)  # same cache, empty registry
    again = fresh.get_job_results(job_id)
    # the stored schema types the columns, exactly as the attached run did
    assert again.schema == res.schema
    assert again.collect() == res.collect()
    raw = fresh.get_job_results(job_id, unpack_json=False)
    assert "inference_result" in raw.columns and "summary" not in raw.columns
    decoded = [json.loads(r["inference_result"]) for r in raw.collect()]
    assert [d["summary"] for d in decoded] == [r["summary"] for r in again.collect()]
    renamed = fresh.get_job_results(job_id, output_column="extraction", unpack_json=False)
    assert "extraction" in renamed.columns and "inference_result" not in renamed.columns


def test_jobs_pin_no_dataframes_or_cached_blocks(so, documents):
    from pyspark.sql import DataFrame

    jsc = so.spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for i in range(3):
        so.infer(documents.limit(5), column="text", output_schema=SCHEMA, name=f"leak-{i}")
    # a job's only materialization is its parquet write: nothing cached
    assert jsc.getPersistentRDDs().size() == before
    reg = so.registry
    held = list(vars(reg).values())
    held += [v for d in held if isinstance(d, dict) for v in d.values()]
    held += [v for job in reg.jobs.values() for v in vars(job).values()]
    assert not any(isinstance(v, DataFrame) for v in held)


def test_templates_through_facade(so, documents):
    docs = documents.limit(10)
    cls = so.classify(docs, ["a", "b"], column="text")
    assert set(r["classification"] for r in cls.collect()) <= {"a", "b"}
    sc = so.score(docs, "clarity", column="text", score_range=(1, 5))
    assert all(1 <= r["score"] <= 5 for r in sc.collect())
    emb = so.embed(docs, column="text", dim=4)
    assert len(emb.first()["embedding"]) == 4
    # function calls ship each record as JSON (the stub echoes it)
    one = so.run_function("fn", {"a": 1})
    assert one["response"] == 'ECHO: {"A": 1}' and one["predictions"] == [one["response"]]
    batch = so.batch_run_function("fn", [{"a": 1}, {"a": 22}])
    assert sorted(r["outputs"] for r in batch.collect()) == ['ECHO: {"A":1}', 'ECHO: {"A":22}']


def test_jobs_table_and_quotas(so):
    jobs = so.list_jobs()
    assert jobs.count() > 0  # previous tests submitted jobs
    assert {"job_id", "status", "datetime_created"} <= set(jobs.columns)
    q = so.get_quotas()
    assert 0 in q and q[0]["max_rows"] > 0


def test_rank_and_elo_through_facade(so, documents):
    docs = documents.limit(12).select(
        "doc_id",
        F.substring("text", 1, 8).alias("x"),
        F.substring("text", 9, 8).alias("y"),
    )
    ranked = so.rank(docs, ["x", "y"], "quality")
    row = ranked.first()
    assert set(row["ranking"]) == {"x", "y"}
    ratings = so.rank(docs, ["x", "y"], "quality", run_elo=True)
    assert {r["label"] for r in ratings.collect()} <= {"x", "y"}


def test_infer_per_model_through_facade(so, documents):
    out = so.infer_per_model(
        documents.limit(4), ["stub-echo", "stub-echo"], names=["a", "b"], column="text"
    )
    assert out.count() == 8
    assert {r["model_name"] for r in out.collect()} == {"a", "b"}


def test_random_seed_per_input_observable(so, documents):
    res = so.infer(
        documents.limit(3), column="text", random_seed_per_input=True,
        output_column="out",
    )
    assert all("[seed=" in r["out"] for r in res.collect())


def test_facade_list_input(so):
    res = so.infer(["alpha", "beta"], column=None)
    rows = {r["prompt"]: r["inference_result"] for r in res.collect()}
    assert rows["alpha"] == "ECHO: ALPHA"


def test_get_job_results_include_inputs_surfaces_inputs_first(so, documents, tmp_path, monkeypatch):
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    job_id = so.infer(documents.limit(6), column="text", stay_attached=False)
    so.await_job_completion(job_id, timeout=120)
    res = so.get_job_results(job_id, output_column="out", include_inputs=True)
    # reference sdk.py:1251-1276 — inputs ordered first, named `inputs`
    assert res.columns[0] == "inputs"
    assert "__prompt" not in res.columns
    row = res.first()
    assert row["out"] == "ECHO: " + row["inputs"][:32].upper()
    bare = so.get_job_results(job_id, output_column="out")
    assert "inputs" not in bare.columns


def test_attach_succeeded_job_previews_and_returns_id(
    so, documents, tmp_path, monkeypatch, capsys
):
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    original = documents.limit(4).select("doc_id", "text")
    job_id = so.infer(original, column="text", stay_attached=False)
    so.await_job_completion(job_id, timeout=120)
    # quiet attach: merged preview computed, no print, job id back
    assert so.attach(job_id, original_df=original, quiet=True) == job_id
    out = capsys.readouterr().out
    assert "preview" not in out
    # loud attach without original_df: reference's "results received" message
    assert so.attach(job_id) == job_id
    assert "re-obtain the results" in capsys.readouterr().out


def test_attach_unknown_job_returns_none(so, capsys):
    assert so.attach("job-does-not-exist") is None
    assert "not found" in capsys.readouterr().out


def test_attach_cancelled_job_reports_state(so, documents, capsys):
    job_id = so.infer(documents.limit(3), column="text", stay_attached=False)
    so.cancel_job(job_id)
    res = so.await_job_completion(job_id, timeout=120)
    if res is not None:  # stub job outran the cancel — nothing to assert
        pytest.skip("job finished before cancel")
    assert so.attach(job_id) is None
    assert "cancelled" in capsys.readouterr().out


def test_attached_infer_of_a_failed_job_raises_its_status_and_reason(so, documents):
    bad = documents.limit(3).withColumn("boom", F.expr("raise_error('kaboom')"))
    with pytest.raises(RuntimeError, match=r"job job-\w+ failed: .*kaboom"):
        so.infer(bad, column="text", name="failing")
    job_id = next(j for j, job in so.registry.jobs.items() if job.name == "failing")
    assert so.get_job_status(job_id) == "FAILED"


def test_id_column_restricted_to_url_inputs(so, documents):
    # reference sdk.py:207-212 — id_column only valid for URL inputs
    with pytest.raises(ValueError, match="HTTP"):
        so.infer(documents.limit(2), column="text", id_column="doc_id")


def test_set_serving_base_url(so):
    so.set_serving_base_url("https://serve.example")
    assert so.serving_base_url == "https://serve.example"


def test_infer_show_preview_prints(so, documents, capsys):
    res = so.infer(documents.limit(3), column="text", show_preview=True)
    assert res.count() == 3
    assert "result preview" in capsys.readouterr().out


def test_get_job_results_with_original_df(so, documents, tmp_path, monkeypatch):
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(tmp_path))
    original = documents.limit(6).select("doc_id", "text", "lang")
    job_id = so.infer(original, column="text", stay_attached=False)
    so.await_job_completion(job_id, timeout=120)
    joined = so.get_job_results(
        job_id, output_column="out", with_original_df=original
    )
    assert {"doc_id", "text", "lang", "out"} <= set(joined.columns)
    assert joined.count() == 6
    # positional: each row's output is the echo of its own text
    for r in joined.collect():
        assert r["out"] == "ECHO: " + r["text"][:32].upper()
