"""Inference backends for the ``llm_transform`` operator.

The reference ships prompts over HTTPS to api.sutro.sh
(/root/reference/sutro/sdk.py:216-254) and the server returns outputs
positionally aligned. Here a backend is an object passed to
``llm_transform`` and captured in its ``mapInPandas`` closure: Spark
pickles it with the task and the executor calls it with an Arrow batch
of prompts.

Backends must be:

- **picklable by value** — the closure carries the backend itself, so
  it holds configuration (URLs, keys, a transport), never live session
  objects;
- **idempotent** — Spark task retries mean a batch may run twice
  (reference analog: submissions are never retried, sdk.py:247-252;
  our answer is determinism keyed on the prompt itself);
- **vectorized** — one call per Arrow batch, pandas in / pandas out.

``StubBackend`` is the default: a deterministic pure function of the
prompt, designed so that every template pipeline (generate / extract /
classify / score / rank / embed) is *expressible in ANSI SQL* and hence
checkable against the DuckDB oracle (SURVEY.md §5).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Protocol, runtime_checkable

import numpy as np
import pandas as pd


@runtime_checkable
class Backend(Protocol):
    def generate(
        self,
        prompts: pd.Series,
        *,
        model: str,
        system_prompt: str = "",
        output_schema: dict | None = None,
        sampling_params: dict | None = None,
        random_seed_per_input: bool = False,
    ) -> pd.DataFrame: ...

    def embed(self, prompts: pd.Series, *, model: str, dim: int = 64) -> pd.Series: ...


class StubBackend:
    """Deterministic stand-in for the remote inference service.

    Output rules (all pure functions of the prompt string — the SQL
    equivalent is noted so oracle queries can mirror them exactly):

    - plain generation: ``'ECHO: ' + upper(prompt[:32])``
      (SQL: ``'ECHO: ' || upper(substr(prompt, 1, 32))``)
    - structured output (JSON schema with properties, in declaration
      order, idx = 0-based property index):
        * string:  ``upper(prompt[idx : idx+12])``
          (SQL: ``upper(substr(prompt, idx+1, 12))``)
        * string with enum E: ``E[len(prompt) % |E|]``
        * integer with minimum/maximum: ``min + (len(prompt)+idx) % span``
        * number: ``((len(prompt)+idx) % 1000) / 8.0`` (exact in binary fp)
        * boolean: ``(len(prompt)+idx) % 2 == 0``
        * array of enum strings: the enum rotated left by
          ``len(prompt) % |E|``
    - cumulative_logprobs: ``-len(prompt) / 100.0`` (exact in binary fp)
    - embeddings: ``v[i] = ((len(prompt)*31 + i*17) % 97) / 97.0``

    len() counts characters, matching SQL ``length()`` on UTF-8 text.
    """

    def generate(
        self,
        prompts: pd.Series,
        *,
        model: str = "stub-echo",
        system_prompt: str = "",
        output_schema: dict | None = None,
        sampling_params: dict | None = None,
        random_seed_per_input: bool = False,
    ) -> pd.DataFrame:
        if output_schema is None:
            outputs = "ECHO: " + prompts.fillna("").str.slice(0, 32).str.upper()
            if random_seed_per_input:
                # reference knob (sdk.py:478): vary sampling per row.
                # Deterministic analog: suffix a per-prompt seed so the
                # effect is observable yet reproducible/idempotent.
                seeds = prompts.fillna("").map(
                    lambda p: f" [seed={sum(p.encode()) % 997}]"
                )
                outputs = outputs + seeds
        else:
            outputs = prompts.fillna("").map(lambda p: self._structured(p, output_schema))
        logprobs = -prompts.fillna("").str.len().astype("float64") / 100.0
        # Null prompt → null output (matches P3's null-propagation contract:
        # a null option value nulls the whole row, evals.py:130-139).
        mask = prompts.isna()
        if mask.any():
            outputs = outputs.where(~mask, None)
            logprobs = logprobs.where(~mask, None)
        return pd.DataFrame({"outputs": outputs, "cumulative_logprobs": logprobs})

    @staticmethod
    def _structured(prompt: str, schema: dict) -> str:
        props = schema.get("properties", {})
        out: dict = {}
        n = len(prompt)
        for idx, (name, spec) in enumerate(props.items()):
            typ = spec.get("type")
            enum = spec.get("enum")
            if typ == "string" and enum:
                out[name] = enum[n % len(enum)]
            elif typ == "string":
                out[name] = prompt[idx : idx + 12].upper()
            elif typ == "integer":
                lo = int(spec.get("minimum", 0))
                hi = int(spec.get("maximum", lo + 999))
                out[name] = lo + (n + idx) % (hi - lo + 1)
            elif typ == "number":
                out[name] = ((n + idx) % 1000) / 8.0
            elif typ == "boolean":
                out[name] = (n + idx) % 2 == 0
            elif typ == "array":
                items = spec.get("items", {})
                opts = items.get("enum") or []
                k = n % len(opts) if opts else 0
                out[name] = list(opts[k:]) + list(opts[:k])
            else:
                out[name] = prompt[idx : idx + 12].upper()
        return json.dumps(out, ensure_ascii=False)

    def embed(self, prompts: pd.Series, *, model: str = "stub-embed", dim: int = 8) -> pd.Series:
        lens = prompts.fillna("").str.len().to_numpy(dtype=np.int64)
        i = np.arange(dim, dtype=np.int64)
        mat = ((lens[:, None] * 31 + i[None, :] * 17) % 97) / 97.0
        vecs = pd.Series(list(mat), index=prompts.index)
        mask = prompts.isna()
        if mask.any():
            vecs = vecs.where(~mask, None)
        return vecs


class RetryableError(Exception):
    """Transient failure (the reference's 524-timeout class, sdk.py:109)."""


@dataclass
class RetryPolicy:
    """Reference retry semantics (/root/reference/sutro/sdk.py:103-177,
    407-425):

    - idempotent requests: <= ``max_retries`` retries with exponential
      1, 2, 4, ... second backoff on transient errors;
    - non-idempotent submissions: NEVER retried (an ambiguous timeout
      could have created the job — duplicate risk, sdk.py:247-252);
    - results fetch: bounded linear retry (<= 20 x 5 s) for the
      results-write race, via ``fetch_retries``/``fetch_interval``.

    ``sleep`` is injectable for tests.
    """

    max_retries: int = 5
    fetch_retries: int = 20
    fetch_interval: float = 5.0
    sleep: object = None

    def _sleep(self, seconds: float) -> None:
        import time as _time

        (self.sleep or _time.sleep)(seconds)

    def call(self, fn, *, idempotent: bool):
        """Run ``fn`` under the retry budget. Non-idempotent calls get
        exactly one attempt; transient errors propagate."""
        attempts = self.max_retries + 1 if idempotent else 1
        delay = 1.0
        last: Exception | None = None
        for attempt in range(attempts):
            try:
                return fn()
            except RetryableError as e:
                last = e
                if attempt == attempts - 1:
                    break
                self._sleep(delay)
                delay *= 2.0
        raise last  # type: ignore[misc]

    def fetch(self, fn):
        """Bounded linear retry for eventually-consistent reads."""
        last: Exception | None = None
        for attempt in range(self.fetch_retries + 1):
            try:
                return fn()
            except RetryableError as e:
                last = e
                if attempt == self.fetch_retries:
                    break
                self._sleep(self.fetch_interval)
        raise last  # type: ignore[misc]


class HttpStatusError(Exception):
    """Non-2xx HTTP response (reference analog: requests.HTTPError)."""

    def __init__(self, status_code: int, body: dict | None = None):
        super().__init__(f"HTTP {status_code}")
        self.status_code = status_code
        self.body = body or {}


class Transport(Protocol):
    """Injectable wire layer: one method, easily faked in tests (the
    reference mock-patches requests.post/get the same way,
    /root/reference/tests/test_sdk.py:30-45)."""

    def request(
        self, method: str, url: str, *, headers: dict, json: dict | None = None
    ) -> tuple[int, dict]: ...


class RequestsTransport:
    """Default transport over the ``requests`` package (gated import —
    not baked into this container)."""

    def __init__(self, timeout: float = 600.0):
        try:
            import requests
        except ImportError as e:  # pragma: no cover - environment-dependent
            raise NotImplementedError(
                "HttpBackend's default transport requires the 'requests' "
                "package; inject a Transport or use StubBackend"
            ) from e
        self._requests = requests
        self.timeout = timeout

    def request(self, method, url, *, headers, json=None):  # pragma: no cover
        resp = self._requests.request(
            method, url, headers=headers, json=json, timeout=self.timeout
        )
        try:
            body = resp.json()
        except ValueError:
            body = {}
        return resp.status_code, body


class HttpClient:
    """Authenticated request helper with the reference's retry contract
    (/root/reference/sutro/sdk.py:103-177):

    - ``Authorization: Key <api_key>`` header, base_url/endpoint join;
    - ONLY Cloudflare-524 timeouts are retried, with exponential
      1, 2, 4, ... second backoff, up to ``max_retries`` times;
    - any other non-2xx raises :class:`HttpStatusError` immediately;
    - ``max_retries=0`` re-raises the initial 524 untouched.
    """

    def __init__(
        self,
        base_url: str,
        api_key: str = "",
        *,
        transport: Transport | None = None,
        sleep=None,
    ):
        self.base_url = base_url
        self.api_key = api_key
        self.transport = transport if transport is not None else RequestsTransport()
        self._sleep = sleep if sleep is not None else __import__("time").sleep

    def do_request(
        self, method: str, endpoint: str, *, json: dict | None = None, max_retries: int = 5
    ) -> dict:
        url = self.base_url.rstrip("/") + "/" + endpoint.lstrip("/")
        headers = {"Authorization": f"Key {self.api_key}"}

        def attempt() -> dict:
            status, body = self.transport.request(method, url, headers=headers, json=json)
            if status >= 400:
                raise HttpStatusError(status, body)
            return body

        try:
            return attempt()
        except HttpStatusError as e:
            if e.status_code != 524 or max_retries <= 0:
                raise
            for i in range(max_retries):
                self._sleep(2**i)
                try:
                    return attempt()
                except HttpStatusError as retry_err:
                    if retry_err.status_code != 524 or i == max_retries - 1:
                        raise
            raise  # pragma: no cover - loop always returns or raises


class HttpBackend:
    """Real-service backend: ships prompt batches to a sutro-style HTTP
    API and returns positionally aligned outputs.

    Wire protocol mirrors the reference end to end:

    - submit: ``POST batch-inference`` with the reference payload shape
      (model, inputs, job_priority, json_schema, system_prompt,
      cost_estimate, sampling_params, random_seed_per_input,
      truncate_rows, name, description — sdk.py:216-232), and
      ``max_retries=0``: a 524 is ambiguous about whether the job was
      created, so the submission is NEVER retried (sdk.py:247-252);
    - poll: ``GET job-status/{job_id}`` (idempotent → 524-retried);
    - results: ``POST job-results`` under the bounded linear
      20 x 5 s retry for the results-write race (sdk.py:407-425);
    - alignment: the server returns ``outputs`` positionally aligned
      with ``inputs``; a length mismatch is a hard error, never a
      silent truncation.

    The transport is injectable so the whole path is mock-testable
    offline (tests/test_http_backend.py), exactly like the reference's
    own suite patches requests.

    Concurrency: by default one synchronous job per Arrow batch — on a
    cluster that caps per-executor throughput at one in-flight request
    per core while the task thread blocks on poll sleeps. Set
    ``max_concurrency > 1`` to split each batch into sub-batches run
    through a bounded thread pool INSIDE the task: each sub-batch is
    its own submit→poll→fetch job honoring the full retry contract
    (submit never retried, polls 524-retried, results under the linear
    fetch retry), carries a deterministic idempotency name
    ``batch-{digest}#part-{i}/{n}`` — the digest is a sha256 over this
    call's input texts, so a deduplicating server can drop
    double-submissions of the SAME sub-batch without ever colliding
    with a different batch's parts — and outputs reassemble in input
    order
    (``ThreadPoolExecutor.map`` preserves order regardless of
    completion order). The injected transport must be thread-safe —
    ``RequestsTransport`` is; a failure in ANY sub-batch fails the
    whole batch (no partial silently-missing rows).
    """

    TERMINAL = frozenset({"SUCCEEDED", "FAILED", "CANCELLED"})

    def __init__(
        self,
        base_url: str,
        api_key: str = "",
        *,
        transport: Transport | None = None,
        retry: RetryPolicy | None = None,
        poll_interval: float = 5.0,
        max_polls: int = 10_000,
        sleep=None,
        max_concurrency: int = 1,
        sub_batch_size: int | None = None,
    ):
        self.retry = retry or RetryPolicy(sleep=sleep)
        self.client = HttpClient(
            base_url, api_key, transport=transport, sleep=self.retry._sleep
        )
        self.poll_interval = poll_interval
        self.max_polls = max_polls
        if max_concurrency < 1:
            raise ValueError(f"max_concurrency must be >= 1, got {max_concurrency}")
        if sub_batch_size is not None and sub_batch_size < 1:
            raise ValueError(
                f"sub_batch_size must be >= 1 or None, got {sub_batch_size}"
            )
        self.max_concurrency = max_concurrency
        self.sub_batch_size = sub_batch_size

    # -- wire steps, each independently testable ------------------------
    def build_payload(
        self,
        inputs: list,
        *,
        model: str,
        system_prompt: str = "",
        output_schema: dict | None = None,
        sampling_params: dict | None = None,
        random_seed_per_input: bool = False,
        job_priority: int = 0,
        truncate_rows: bool = True,
        name: str | None = None,
        description: str | None = None,
        cost_estimate: bool = False,
    ) -> dict:
        return {
            "model": model,
            "inputs": inputs,
            "job_priority": job_priority,
            "json_schema": output_schema,
            "system_prompt": system_prompt,
            "cost_estimate": cost_estimate,
            "sampling_params": sampling_params,
            "random_seed_per_input": random_seed_per_input,
            "truncate_rows": truncate_rows,
            "name": name,
            "description": description,
        }

    def submit(self, payload: dict) -> str:
        # Non-idempotent: exactly one attempt (max_retries=0).
        body = self.client.do_request(
            "POST", "batch-inference", json=payload, max_retries=0
        )
        return body["results"]

    def poll_until_done(self, job_id: str) -> str:
        status = "PENDING"
        for _ in range(self.max_polls):
            body = self.client.do_request(
                "GET", f"job-status/{job_id}", max_retries=self.retry.max_retries
            )
            status = body["results"] if isinstance(body.get("results"), str) else body.get(
                "results", {}
            ).get("status", "UNKNOWN")
            if status in self.TERMINAL:
                return status
            self.retry._sleep(self.poll_interval)
        raise TimeoutError(f"job {job_id} not terminal after {self.max_polls} polls")

    def fetch_results(self, job_id: str, *, include_cumulative_logprobs: bool = True) -> dict:
        def one_fetch():
            try:
                return self.client.do_request(
                    "POST",
                    "job-results",
                    json={
                        "job_id": job_id,
                        "include_cumulative_logprobs": include_cumulative_logprobs,
                    },
                    max_retries=0,
                )
            except HttpStatusError as e:
                # results-write race: job reports SUCCEEDED before the
                # results land; retried linearly by RetryPolicy.fetch.
                raise RetryableError(str(e)) from e

        return self.retry.fetch(one_fetch)["results"]

    def _run_job(
        self,
        inputs: list,
        *,
        model: str,
        system_prompt: str,
        output_schema: dict | None,
        sampling_params: dict | None,
        random_seed_per_input: bool,
        name: str | None = None,
    ) -> tuple[list, list]:
        """One full submit→poll→fetch job; returns (outputs, logprobs)
        positionally aligned with ``inputs``."""
        payload = self.build_payload(
            inputs,
            model=model,
            system_prompt=system_prompt,
            output_schema=output_schema,
            sampling_params=sampling_params,
            random_seed_per_input=random_seed_per_input,
            name=name,
        )
        job_id = self.submit(payload)
        status = self.poll_until_done(job_id)
        if status != "SUCCEEDED":
            raise RuntimeError(f"job {job_id} terminated with status {status}")
        results = self.fetch_results(job_id)
        outputs = results["outputs"]
        if len(outputs) != len(inputs):
            raise RuntimeError(
                f"positional alignment violated: {len(inputs)} inputs, "
                f"{len(outputs)} outputs (job {job_id})"
            )
        logprobs = results.get("cumulative_logprobs") or [None] * len(outputs)
        if len(logprobs) != len(outputs):
            raise RuntimeError(f"cumulative_logprobs misaligned (job {job_id})")
        return outputs, logprobs

    # -- Backend protocol ----------------------------------------------
    def generate(
        self,
        prompts: pd.Series,
        *,
        model: str = "gpt-oss-20b",
        system_prompt: str = "",
        output_schema: dict | None = None,
        sampling_params: dict | None = None,
        random_seed_per_input: bool = False,
    ) -> pd.DataFrame:
        inputs = prompts.fillna("").tolist()
        kwargs = dict(
            model=model,
            system_prompt=system_prompt,
            output_schema=output_schema,
            sampling_params=sampling_params,
            random_seed_per_input=random_seed_per_input,
        )
        if (self.max_concurrency > 1 or self.sub_batch_size) and len(inputs) > 1:
            import hashlib
            import math
            from concurrent.futures import ThreadPoolExecutor

            size = self.sub_batch_size or math.ceil(
                len(inputs) / self.max_concurrency
            )
            parts = [inputs[i : i + size] for i in range(0, len(inputs), size)]
            # per-call content digest: identical names mark retries of the
            # SAME sub-batch only — distinct batches (other Arrow batches,
            # other executors) never share a name. The digest covers the
            # full request identity (texts AND model/system_prompt/schema/
            # sampling), not texts alone: a server deduping on job name
            # must never coalesce two jobs that share inputs but differ
            # in parameters — they have different outputs.
            digest = hashlib.sha256(
                "\x1f".join(
                    [
                        model,
                        system_prompt,
                        repr(sorted((output_schema or {}).items())),
                        repr(sorted((sampling_params or {}).items())),
                        repr(random_seed_per_input),
                    ]
                    + [str(x) for x in inputs]
                ).encode()
            ).hexdigest()[:16]
            with ThreadPoolExecutor(self.max_concurrency) as pool:
                done = list(
                    pool.map(
                        lambda ip: self._run_job(
                            ip[1],
                            name=f"batch-{digest}#part-{ip[0]}/{len(parts)}",
                            **kwargs,
                        ),
                        enumerate(parts),
                    )
                )
            outputs = [o for outs, _ in done for o in outs]
            logprobs = [lp for _, lps in done for lp in lps]
        else:
            outputs, logprobs = self._run_job(inputs, **kwargs)
        out = pd.Series(outputs, index=prompts.index, dtype=object)
        lp = pd.Series(logprobs, index=prompts.index, dtype="float64")
        mask = prompts.isna()
        if mask.any():
            out = out.where(~mask, None)
            lp = lp.where(~mask, None)
        return pd.DataFrame({"outputs": out, "cumulative_logprobs": lp})

    def embed(self, prompts: pd.Series, *, model: str = "qwen-3-embedding-0.6b", dim: int = 0):
        res = self.generate(prompts, model=model)
        return res["outputs"]


#: The default backend of every transform, template and facade.
STUB = StubBackend()
