"""CLI parity with the reference surface (reference cli.py:88-439):
jobs status/results/cancel, datasets download, login / set-base-url,
docs — each driven through main() like a shell invocation."""

from __future__ import annotations

import json
import os

import pytest

from sutro_spark.cli import jobs_attach, jobs_results, jobs_status, login, main, set_base_url


@pytest.fixture()
def isolated_config(tmp_path, monkeypatch):
    cfg = tmp_path / "config.json"
    monkeypatch.setenv("SUTRO_SPARK_CONFIG", str(cfg))
    return cfg


@pytest.fixture()
def isolated_cache(tmp_path, monkeypatch):
    cache = tmp_path / "job-results"
    monkeypatch.setenv("SUTRO_SPARK_CACHE", str(cache))
    return cache


def test_login_persists_config(isolated_config, capsys):
    assert main(["login", "--api-key", "sk-test", "--base-url", "https://x.example"]) == 0
    assert "Successfully authenticated" in capsys.readouterr().out
    cfg = json.loads(isolated_config.read_text())
    assert cfg == {"api_key": "sk-test", "base_url": "https://x.example"}


def test_login_rejects_empty_key(isolated_config):
    assert login("") is False


def test_login_keeps_existing_base_url(isolated_config):
    login("k1", "https://a.example")
    login("k2")  # no base_url argument → keep previous (reference default flow)
    cfg = json.loads(isolated_config.read_text())
    assert cfg == {"api_key": "k2", "base_url": "https://a.example"}


def test_set_base_url_preserves_key(isolated_config, capsys):
    login("sk-keep")
    assert main(["set-base-url", "https://api2.example"]) == 0
    assert "Base URL set to" in capsys.readouterr().out
    cfg = json.loads(isolated_config.read_text())
    assert cfg == {"api_key": "sk-keep", "base_url": "https://api2.example"}


def test_docs_prints_url(capsys):
    assert main(["docs"]) == 0
    assert "docs.sutro.sh" in capsys.readouterr().out


def test_datasets_download_roundtrip(tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("SUTRO_SPARK_WAREHOUSE", str(tmp_path / "wh"))
    src = tmp_path / "in.txt"
    src.write_text("payload")
    assert main(["datasets", "upload", "ds1", str(src)]) == 0
    dest = tmp_path / "out"
    dest.mkdir()
    assert main(["datasets", "download", "ds1", str(dest)]) == 0
    assert (dest / "in.txt").read_text() == "payload"
    assert "in.txt" in capsys.readouterr().out


def test_jobs_status_unknown_and_cached(spark, documents, isolated_cache):
    assert jobs_status("job-nope") == "UNKNOWN"
    from sutro_spark.operators.results import write_result_cache

    write_result_cache(documents.limit(3), "job-cli-1")
    # unknown to this registry but present in the cache → SUCCEEDED
    assert jobs_status("job-cli-1") == "SUCCEEDED"


def test_jobs_results_from_cache_with_save(spark, documents, isolated_cache, tmp_path):
    from sutro_spark.operators.results import write_result_cache
    from sutro_spark.operators.transform import llm_transform

    out = llm_transform(documents.limit(4), "text", include_logprobs=True)
    write_result_cache(out, "job-cli-2")
    res = jobs_results("job-cli-2")
    assert res is not None and res.count() == 4
    assert "__prompt" not in res.columns and "cumulative_logprobs" not in res.columns
    full = jobs_results(
        "job-cli-2", include_inputs=True, include_cumulative_logprobs=True
    )
    assert "cumulative_logprobs" in full.columns
    saved = jobs_results(
        "job-cli-2", save=True, save_format="parquet", output_dir=str(tmp_path)
    )
    assert saved is not None
    assert spark.read.parquet(str(tmp_path / "job-cli-2.parquet")).count() == 4


def test_jobs_results_shapes_raw_job_outputs(spark, documents, isolated_cache):
    # the job's file holds raw ``outputs``; like the reference CLI, which
    # fetches with the SDK defaults, ``jobs results`` names the column
    # ``inference_result`` and unpacks it with the job's stored schema,
    # whatever output_column/unpack_json the attached run used
    from sutro_spark.sdk import SutroSpark

    schema = {
        "type": "object",
        "properties": {"summary": {"type": "string"}, "quality": {"type": "integer"}},
    }
    so = SutroSpark(spark)
    so.infer(
        documents.limit(3), column="text", output_schema=schema, name="cli-shape",
        output_column="extraction", unpack_json=False,
    )
    job_id = next(j for j, job in so.registry.jobs.items() if job.name == "cli-shape")
    res = jobs_results(job_id)
    assert {"summary", "quality"} <= set(res.columns)
    assert dict(res.dtypes)["quality"] in ("int", "bigint")
    assert "extraction" not in res.columns and "outputs" not in res.columns
    assert res.count() == 3


def test_jobs_results_missing_returns_error(isolated_cache, capsys):
    assert main(["jobs", "results", "job-absent"]) == 1
    assert "No results found" in capsys.readouterr().err


def test_jobs_attach_requires_id_or_latest(capsys):
    assert main(["jobs", "attach"]) == 1
    assert "No job ID provided" in capsys.readouterr().out


def test_jobs_attach_cached_job_short_circuits(spark, documents, isolated_cache, capsys):
    from sutro_spark.operators.results import write_result_cache

    write_result_cache(documents.limit(2), "job-cli-att")
    # unknown to this process's registry but present in the results cache →
    # the reference's done-job short-circuit (sdk.py:873-879)
    assert main(["jobs", "attach", "job-cli-att"]) == 0
    assert "already completed" in capsys.readouterr().out


def test_jobs_attach_latest_empty_registry(capsys):
    assert main(["jobs", "attach", "--latest"]) == 1
    assert "No jobs found" in capsys.readouterr().out


@pytest.fixture()
def no_spark(monkeypatch):
    """Make any attempt to start a Spark session fail."""
    import sutro_spark.session

    def refuse(*a, **kw):
        raise AssertionError("the command started a Spark session")

    monkeypatch.setattr(sutro_spark.session, "get_spark", refuse)


def test_job_commands_answer_from_the_cache_without_spark(
    spark, documents, isolated_cache, capsys, request
):
    from sutro_spark.operators.results import write_result_cache

    write_result_cache(documents.limit(2), "job-cli-done")
    request.getfixturevalue("no_spark")
    assert jobs_status("job-cli-done") == "SUCCEEDED"
    assert jobs_status("job-cli-none") == "UNKNOWN"
    assert jobs_attach("job-cli-done") == 0
    assert "already completed" in capsys.readouterr().out
    assert jobs_attach("job-cli-none") == 1
    assert capsys.readouterr().out == "Job job-cli-none not found\n"
    assert jobs_attach(None, latest=True) == 1
    assert capsys.readouterr().out == "No jobs found.\n"
    assert main(["jobs", "cancel", "job-cli-none"]) == 1
    assert capsys.readouterr().out == "Job job-cli-none not found\n"


def test_jobs_cancel_reports_what_it_cannot_cancel(spark, documents, isolated_cache, capsys):
    from sutro_spark.operators.results import write_result_cache

    # no complete results: not a job this command can know
    assert main(["jobs", "cancel", "job-cli-ghost"]) == 1
    assert capsys.readouterr().out == "Job job-cli-ghost not found\n"
    # complete results: the job succeeded, past cancelling
    write_result_cache(documents.limit(2), "job-cli-done")
    assert main(["jobs", "cancel", "job-cli-done"]) == 1
    assert capsys.readouterr().out == "Job is in succeeded state.\n"
