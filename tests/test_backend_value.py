"""A backend is a value the plan carries: an ``HttpBackend`` passed to
``SutroSpark`` reaches Spark's Python workers inside the ``mapInPandas``
closure and serves every partition's batches.

The in-process loopback server speaks the sutro wire protocol and
answers ``job-results`` per job id, so concurrent tasks each get their
own batch back. Its replies differ from the stub's, so a backend that
silently fell back to the stub would fail the row checks. It keeps
every submitted job, so a test can count what a request sent: each
input row once, and a small request as one remote job.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pandas as pd
import pytest

pytest.importorskip("requests")

from sutro_spark.operators.backends import HttpBackend  # noqa: E402
from sutro_spark.operators.elo import pairwise_counts  # noqa: E402
from sutro_spark.operators.templates import rank, run_function  # noqa: E402
from sutro_spark.sdk import SutroSpark  # noqa: E402

TEXTS = [f"row {i} " + "x" * (i % 7) for i in range(24)]
CLASSES = ["pos", "neg"]
# a prototyping-sized request: well under one Arrow batch
RECORDS = [{"a": f"alpha {i}", "b": f"beta {i * 7 % 13}", "c": f"gamma {i % 5}"} for i in range(200)]
LABELS = ["a", "b", "c"]


def reply(text: str, schema: dict | None) -> str:
    """The server's output for one input: plain text without a schema;
    with one, JSON whose enum fields pick a different label than the
    stub would, and whose arrays of enum items hold every label,
    rotated by the input's length."""
    if schema is None:
        return "REMOTE " + text.upper()
    out = {}
    for name, spec in schema.get("properties", {}).items():
        enum = spec.get("enum")
        items = spec.get("items", {}).get("enum")
        if items:
            k = len(text) % len(items)
            out[name] = items[k:] + items[:k]
        else:
            out[name] = enum[(len(text) + 1) % len(enum)] if enum else "remote"
    return json.dumps(out)


class _Api(BaseHTTPRequestHandler):
    jobs: dict[str, dict]
    ids = itertools.count()
    lock = threading.Lock()

    def _send(self, code: int, body: dict) -> None:
        payload = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_POST(self) -> None:  # noqa: N802 - http.server API
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        if self.path == "/batch-inference":
            with self.lock:
                job_id = f"job-{next(self.ids)}"
                type(self).jobs[job_id] = body
            self._send(200, {"results": job_id})
        elif self.path == "/job-results":
            job = type(self).jobs[body["job_id"]]
            outputs = [reply(t, job["json_schema"]) for t in job["inputs"]]
            self._send(200, {"results": {"outputs": outputs}})
        else:
            self._send(404, {})

    def do_GET(self) -> None:  # noqa: N802 - http.server API
        if self.path.startswith("/job-status/"):
            self._send(200, {"results": "SUCCEEDED"})
        else:
            self._send(404, {})

    def log_message(self, *args) -> None:
        pass


@pytest.fixture()
def server():
    _Api.jobs = {}
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Api)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{httpd.server_address[1]}", _Api
    finally:
        httpd.shutdown()
        httpd.server_close()


@pytest.fixture()
def remote(spark, server):
    base_url, api = server
    return SutroSpark(spark, backend=HttpBackend(base_url, "key", poll_interval=0)), api


@pytest.fixture()
def texts(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": TEXTS})).repartition(3)
    assert df.rdd.getNumPartitions() >= 2
    return df


def test_http_backend_serves_infer_on_executors(remote, texts):
    so, api = remote
    out = so.infer(texts, column="text", output_column="out")
    got = {r["text"]: r["out"] for r in out.collect()}
    assert got == {t: reply(t, None) for t in TEXTS}
    # one wire job per non-empty partition, all seen by the server
    assert len(api.jobs) >= 2
    assert sorted(t for job in api.jobs.values() for t in job["inputs"]) == sorted(TEXTS)


def test_each_batch_is_submitted_under_a_stable_name(remote, texts):
    # a retried or speculative task re-sends its batch under the same
    # name, so a deduplicating server can drop the copy
    so, api = remote

    def names_of_one_infer() -> list:
        before = len(api.jobs)
        so.infer(texts, column="text", output_column="out").collect()
        return [job["name"] for job in list(api.jobs.values())[before:]]

    first = names_of_one_infer()
    assert len(first) == 3 and len(set(first)) == 3, first
    assert all(re.fullmatch(r"batch-[0-9a-f]{16}", n) for n in first), first
    assert sorted(names_of_one_infer()) == sorted(first)


def test_http_backend_serves_classify_on_executors(remote, texts):
    so, api = remote
    out = so.classify(texts, CLASSES, column="text")
    got = {r["text"]: r["classification"] for r in out.collect()}
    assert got == {t: CLASSES[(len(t) + 1) % 2] for t in TEXTS}
    assert len(api.jobs) >= 2


def test_rank_with_elo_submits_each_ballot_once(remote, capsys):
    # the Elo pair counts read the ranked frame once, so the model runs
    # once per ballot: 200 prompts reach the server, not 400
    so, api = remote
    ratings = so.rank(RECORDS, LABELS, "clarity", run_elo=True)
    assert "| elo" in capsys.readouterr().out
    assert {r["label"] for r in ratings.collect()} == set(LABELS)
    assert sum(len(job["inputs"]) for job in api.jobs.values()) == len(RECORDS)
    # and a 200-row request is one partition: one remote job
    assert len(api.jobs) == 1


def test_small_infer_is_one_remote_job(remote):
    so, api = remote
    prompts = [r["a"] for r in RECORDS]
    out = so.infer(prompts, output_column="out")
    assert [r["out"] for r in out.collect()] == [reply(p, None) for p in prompts]
    (job,) = api.jobs.values()
    assert job["inputs"] == prompts


def test_pairwise_counts_of_a_ranking_runs_its_model_once(spark, server):
    base_url, _ = server
    df = spark.createDataFrame(pd.DataFrame(RECORDS))
    ranked = rank(df, LABELS, "clarity", backend=HttpBackend(base_url, "key", poll_interval=0))
    plan = pairwise_counts(ranked)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan


def test_run_function_hits_the_same_server(server):
    base_url, api = server
    record = {"q": "hello"}
    res = run_function(record, "fn-1", backend=HttpBackend(base_url, poll_interval=0))
    prompt = json.dumps(record)
    assert res["response"] == reply(prompt, None)
    (job,) = api.jobs.values()
    assert job["model"] == "fn-1" and job["inputs"] == [prompt]


def test_backend_names_are_rejected(spark):
    with pytest.raises(TypeError, match="Backend object"):
        SutroSpark(spark, backend="stub")
