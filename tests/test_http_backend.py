"""HttpBackend wire-protocol tests against a fake transport — the
offline mirror of the reference's mock-patched requests suite
(/root/reference/tests/test_sdk.py:258-306): 524s never retried on a
POST, retried with exponential backoff on idempotent GETs, results
fetch linearly retried, outputs positionally aligned."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from sutro_spark.operators.backends import (
    FETCH_INTERVAL_S,
    FETCH_RETRIES,
    MAX_RETRIES,
    HttpBackend,
    HttpStatusError,
)


class FakeTransport:
    """Scripted transport: pops (status, body) per endpoint, records calls."""

    def __init__(self, script: dict[str, list[tuple[int, dict]]]):
        self.script = {k: list(v) for k, v in script.items()}
        self.calls: list[tuple[str, str, dict | None]] = []

    def request(self, method, url, *, headers, json=None):
        endpoint = url.split("/", 3)[-1].split("/")[0]
        self.calls.append((method, url, json))
        assert headers["Authorization"].startswith("Key ")
        queue = self.script[endpoint]
        return queue.pop(0) if len(queue) > 1 else queue[0]


def _sleeps():
    log = []
    return log, log.append


def make_backend(script, **kw):
    t = FakeTransport(script)
    log, sleep = _sleeps()
    b = HttpBackend("https://api.example.test/", "k", transport=t, sleep=sleep, **kw)
    return b, t, log


def test_submit_never_retried_after_524():
    # a POST has no 524 backoff: the 524 is re-raised untouched
    b, t, log = make_backend({"batch-inference": [(524, {"error": "timeout"})]})
    with pytest.raises(HttpStatusError) as e:
        b.submit(b.build_payload(["x"], model="m"))
    assert e.value.status_code == 524
    assert len(t.calls) == 1  # reference: mock_post.assert_called_once()
    assert log == []


def test_zero_retry_budget_reraises_initial_524():
    # the request loop gives a POST a zero 524 budget, whatever the
    # endpoint: the first 524 is re-raised with no backoff sleep
    b, t, log = make_backend({"job-status": [(524, {}), (200, {"results": "SUCCEEDED"})]})
    with pytest.raises(HttpStatusError) as e:
        b._request("POST", "job-status/test-job")
    assert e.value.status_code == 524
    assert len(t.calls) == 1 and log == []


def test_get_retries_after_524_with_backoff():
    b, t, log = make_backend({"job-status": [(524, {}), (200, {"results": "SUCCEEDED"})]})
    assert b.poll_until_done("test-job") == "SUCCEEDED"
    assert [c[0] for c in t.calls] == ["GET", "GET"]
    assert log == [1]  # reference: mock_sleep.assert_called_once_with(1)


def test_exponential_backoff_sequence_then_raise():
    b, t, log = make_backend({"job-status": [(524, {})]})
    with pytest.raises(HttpStatusError) as e:
        b.poll_until_done("j")
    assert e.value.status_code == 524
    assert len(t.calls) == MAX_RETRIES + 1
    assert log == [1, 2, 4, 8, 16]


def test_non_524_error_never_retried():
    b, t, log = make_backend({"job-status": [(500, {"error": "boom"})]})
    with pytest.raises(HttpStatusError) as e:
        b.poll_until_done("j")
    assert e.value.status_code == 500
    assert len(t.calls) == 1 and log == []


def test_results_fetch_linear_retry_on_write_race():
    # each fetch is one POST: a 524 takes the fetch's linear retry,
    # never the GET's exponential one
    b, t, log = make_backend(
        {
            "job-results": [
                (524, {}),
                (404, {}),
                (200, {"results": {"outputs": ["a"], "cumulative_logprobs": [-0.1]}}),
            ]
        }
    )
    res = b.fetch_results("job-1")
    assert res["outputs"] == ["a"]
    assert len(t.calls) == 3
    assert log == [FETCH_INTERVAL_S] * 2  # linear, not exponential


def test_generate_end_to_end_positional_alignment():
    b, t, _ = make_backend(
        {
            "batch-inference": [(200, {"results": "job-42"})],
            "job-status": [(200, {"results": "RUNNING"}), (200, {"results": "SUCCEEDED"})],
            "job-results": [
                (
                    200,
                    {
                        "results": {
                            "outputs": ["o1", "o2", "o3"],
                            "cumulative_logprobs": [-0.1, -0.2, -0.3],
                        }
                    },
                )
            ],
        }
    )
    prompts = pd.Series(["p1", "p2", "p3"], index=[7, 3, 5])
    out = b.generate(prompts, model="gpt-oss-20b", system_prompt="sys")
    # Aligned to the incoming index, in order.
    assert list(out.index) == [7, 3, 5]
    assert out["outputs"].tolist() == ["o1", "o2", "o3"]
    assert out["cumulative_logprobs"].tolist() == [-0.1, -0.2, -0.3]
    # Payload shape matches the reference submission (sdk.py:216-232).
    submit_call = next(c for c in t.calls if "batch-inference" in c[1])
    payload = submit_call[2]
    assert payload["model"] == "gpt-oss-20b"
    assert payload["inputs"] == ["p1", "p2", "p3"]
    assert payload["system_prompt"] == "sys"
    assert set(payload) == {
        "model", "inputs", "job_priority", "json_schema", "system_prompt",
        "cost_estimate", "sampling_params", "random_seed_per_input",
        "truncate_rows", "name", "description",
    }


def test_generate_rejects_misaligned_outputs():
    b, _, _ = make_backend(
        {
            "batch-inference": [(200, {"results": "job-9"})],
            "job-status": [(200, {"results": "SUCCEEDED"})],
            "job-results": [(200, {"results": {"outputs": ["only-one"]}})],
        }
    )
    with pytest.raises(RuntimeError, match="positional alignment"):
        b.generate(pd.Series(["a", "b"]), model="m")


def test_generate_raises_on_failed_job():
    b, _, _ = make_backend(
        {
            "batch-inference": [(200, {"results": "job-f"})],
            "job-status": [(200, {"results": "FAILED"})],
        }
    )
    with pytest.raises(RuntimeError, match="FAILED"):
        b.generate(pd.Series(["a"]), model="m")


def test_one_sleep_clock_for_backoff_poll_and_fetch():
    b, _, log = make_backend(
        {
            "batch-inference": [(200, {"results": "job-1"})],
            "job-status": [
                (524, {}),
                (524, {}),
                (200, {"results": "RUNNING"}),
                (200, {"results": "SUCCEEDED"}),
            ],
            "job-results": [
                (404, {}),
                (200, {"results": {"outputs": ["o"], "cumulative_logprobs": [-0.1]}}),
            ],
        },
        poll_interval=0.5,
    )
    out = b.generate(pd.Series(["p"]), model="m")
    assert out["outputs"].tolist() == ["o"]
    # 524 backoff, then the poll interval, then the fetch retry
    assert log == [1, 2, 0.5, FETCH_INTERVAL_S]


def test_fetch_results_gives_up_after_its_budget():
    b, t, log = make_backend({"job-results": [(404, {})]})
    with pytest.raises(HttpStatusError) as e:
        b.fetch_results("job-1")
    assert e.value.status_code == 404
    assert len(t.calls) == FETCH_RETRIES + 1
    assert log == [5.0] * 20


class ConcurrentFakeTransport:
    """Thread-safe fake serving each submitted job its own inputs back
    (output = 'OUT:' + input) and recording every submitted name."""

    def __init__(self):
        import threading

        self.lock = threading.Lock()
        self.jobs: dict[str, list] = {}
        self.names: list = []

    def request(self, method, url, *, headers, json=None):
        path = url.split("/", 3)[-1]
        if path == "batch-inference":
            with self.lock:
                jid = f"job-{len(self.jobs)}"
                self.jobs[jid] = list(json["inputs"])
                self.names.append(json.get("name"))
            return 200, {"results": jid}
        if path.startswith("job-status/"):
            return 200, {"results": "SUCCEEDED"}
        if path == "job-results":
            ins = self.jobs[json["job_id"]]
            return 200, {
                "results": {
                    "outputs": [f"OUT:{x}" for x in ins],
                    "cumulative_logprobs": [-float(len(x)) for x in ins],
                }
            }
        raise AssertionError(f"unexpected endpoint {path}")


PROMPTS = [f"p{i:02d}" for i in range(8)]
REQUEST = dict(
    model="m",
    system_prompt="sys",
    output_schema={
        "type": "object",
        "properties": {"a": {"type": "string"}, "b": {"type": "integer"}},
    },
    sampling_params={"temperature": 0.2},
    random_seed_per_input=False,
)


def _submitted_names(prompts=PROMPTS, **changes) -> list:
    t = ConcurrentFakeTransport()
    b = HttpBackend("https://api.example.test", "k", transport=t, sleep=lambda s: None)
    out = b.generate(pd.Series(prompts), **{**REQUEST, **changes})
    assert out["outputs"].tolist() == [f"OUT:{p}" for p in prompts]
    return t.names


def test_generate_is_one_job_with_a_deterministic_name():
    (name,) = _submitted_names()  # 8 prompts, exactly one submit
    assert re.fullmatch(r"batch-[0-9a-f]{16}", name), name
    # a second backend (a retried or speculative task) sends the same name
    assert _submitted_names() == [name]


@pytest.mark.parametrize(
    "changes",
    [
        {"prompts": PROMPTS[:-1] + ["p99"]},
        {"model": "m2"},
        {"system_prompt": "other"},
        {"output_schema": None},
        # the server fills properties in declaration order, so a schema
        # whose properties are listed in another order is another request
        pytest.param(
            {
                "output_schema": {
                    "type": "object",
                    "properties": {"b": {"type": "integer"}, "a": {"type": "string"}},
                }
            },
            id="schema_property_order",
        ),
        {"sampling_params": {"temperature": 0.7}},
        {"random_seed_per_input": True},
    ],
    ids=lambda c: next(iter(c)),
)
def test_any_change_to_the_request_changes_the_name(changes):
    assert _submitted_names(**changes) != _submitted_names()

