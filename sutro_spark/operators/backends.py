"""Inference backends for the ``llm_transform`` operator.

The reference ships prompts over HTTPS to api.sutro.sh (sdk.py:216-254)
and the server returns outputs positionally aligned. Here a backend is
an object passed to ``llm_transform`` and captured in its
``mapInPandas`` closure: Spark pickles it with the task and the
executor calls it with an Arrow batch of prompts.

Backends must be:

- **picklable by value** — the closure carries the backend itself, so
  it holds configuration (URLs, keys, a transport), never live session
  objects;
- **idempotent** — Spark task retries mean a batch may run twice
  (reference analog: submissions are never retried, sdk.py:247-252;
  our answer is determinism keyed on the request itself);
- **vectorized** — one call per Arrow batch, pandas in / pandas out.

``StubBackend`` is the default: a deterministic pure function of the
prompt, designed so that every template pipeline (generate / extract /
classify / score / rank / embed) is *expressible in ANSI SQL* and hence
checkable against the DuckDB oracle (SURVEY.md §5).

``HttpBackend`` runs each Arrow batch as one remote job (submit → poll
→ fetch) named ``batch-<digest>``, a sha256 of the payload it sends, so
a re-run of the same batch carries the same name. Its retry budgets are
the reference's, as module constants: ``MAX_RETRIES`` 524 retries per
GET (sdk.py:109) and ``FETCH_RETRIES`` results fetches
``FETCH_INTERVAL_S`` apart (sdk.py:410-411).
"""

from __future__ import annotations

import hashlib
import json
import time
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


#: 524 retries per idempotent GET, backed off 1, 2, 4, ... s (sdk.py:109).
MAX_RETRIES = 5
#: Results-fetch retries for the results-write race, FETCH_INTERVAL_S
#: apart (sdk.py:410-411).
FETCH_RETRIES = 20
FETCH_INTERVAL_S = 5.0


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


class HttpBackend:
    """Real-service backend: ships prompt batches to a sutro-style HTTP
    API and returns positionally aligned outputs.

    Each Arrow batch is one remote job, as each reference request is
    one job. The wire protocol mirrors the reference end to end
    (sdk.py:103-177, 216-254, 407-425):

    - every request carries ``Authorization: Key <api_key>``; only a
      Cloudflare 524 on a GET is retried, up to ``MAX_RETRIES`` times
      with 1, 2, 4, ... s backoff. A POST is sent once: a 524 on
      ``batch-inference`` is ambiguous about whether the job was
      created, so a submission is NEVER retried (sdk.py:247-252). Any
      other non-2xx raises :class:`HttpStatusError` at once;
    - submit: ``POST batch-inference`` with the reference payload shape
      (sdk.py:216-232), named ``batch-<digest>``: the first 16 hex
      digits of a sha256 over the payload with its name still null. A
      Spark task retry or speculative attempt of the same batch sends
      the same name, so a deduplicating server can drop the copy;
      batches that differ in any input or parameter never share one.
      22 characters, within the reference's 45;
    - poll: ``GET job-status/{job_id}`` every ``poll_interval`` s;
    - results: ``POST job-results`` with logprobs, retried on any HTTP
      error up to ``FETCH_RETRIES`` times ``FETCH_INTERVAL_S`` apart
      for the results-write race (sdk.py:407-425);
    - alignment: the server returns ``outputs`` positionally aligned
      with ``inputs``; a length mismatch is a hard error, never a
      silent truncation.

    ``sleep`` is the one clock for the 524 backoff, the poll interval
    and the fetch retry. The transport is injectable so the whole path
    is mock-testable offline (tests/test_http_backend.py), exactly like
    the reference's own suite patches requests.
    """

    TERMINAL = frozenset({"SUCCEEDED", "FAILED", "CANCELLED"})

    def __init__(
        self,
        base_url: str,
        api_key: str = "",
        *,
        transport: Transport | None = None,
        poll_interval: float = 5.0,
        max_polls: int = 10_000,
        sleep=None,
    ):
        self.base_url = base_url
        self.api_key = api_key
        self.transport = transport if transport is not None else RequestsTransport()
        self.sleep = sleep if sleep is not None else time.sleep
        self.poll_interval = poll_interval
        self.max_polls = max_polls

    def _request(self, method: str, endpoint: str, json: dict | None = None) -> dict:
        url = self.base_url.rstrip("/") + "/" + endpoint.lstrip("/")
        headers = {"Authorization": f"Key {self.api_key}"}
        retries = MAX_RETRIES if method == "GET" else 0
        for i in range(retries + 1):
            if i:
                self.sleep(2 ** (i - 1))
            status, body = self.transport.request(method, url, headers=headers, json=json)
            if status < 400:
                return body
            if status != 524:
                break
        raise HttpStatusError(status, body)

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
    ) -> dict:
        payload = {
            "model": model,
            "inputs": inputs,
            "job_priority": 0,
            "json_schema": output_schema,
            "system_prompt": system_prompt,
            "cost_estimate": False,
            "sampling_params": sampling_params,
            "random_seed_per_input": random_seed_per_input,
            "truncate_rows": True,
            "name": None,
            "description": None,
        }
        # keys unsorted: a schema's property order changes the outputs
        digest = hashlib.sha256(json.dumps(payload).encode()).hexdigest()[:16]
        payload["name"] = f"batch-{digest}"
        return payload

    def submit(self, payload: dict) -> str:
        return self._request("POST", "batch-inference", payload)["results"]

    def poll_until_done(self, job_id: str) -> str:
        status = "PENDING"
        for _ in range(self.max_polls):
            body = self._request("GET", f"job-status/{job_id}")
            status = body["results"] if isinstance(body.get("results"), str) else body.get(
                "results", {}
            ).get("status", "UNKNOWN")
            if status in self.TERMINAL:
                return status
            self.sleep(self.poll_interval)
        raise TimeoutError(f"job {job_id} not terminal after {self.max_polls} polls")

    def fetch_results(self, job_id: str) -> dict:
        request = {"job_id": job_id, "include_cumulative_logprobs": True}
        # results-write race: the job reports SUCCEEDED before its
        # results land, so any HTTP error is retried linearly
        for _ in range(FETCH_RETRIES):
            try:
                return self._request("POST", "job-results", request)["results"]
            except HttpStatusError:
                self.sleep(FETCH_INTERVAL_S)
        return self._request("POST", "job-results", request)["results"]

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
        """One full submit→poll→fetch job, its outputs and logprobs
        positionally aligned with ``prompts``."""
        inputs = prompts.fillna("").tolist()
        job_id = self.submit(
            self.build_payload(
                inputs,
                model=model,
                system_prompt=system_prompt,
                output_schema=output_schema,
                sampling_params=sampling_params,
                random_seed_per_input=random_seed_per_input,
            )
        )
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
