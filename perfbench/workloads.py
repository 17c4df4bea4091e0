"""The three workloads. Each sets up its client, warms it, and runs a
closed loop of user-visible requests: the Spark workloads a fixed number
of whole jobs or request cycles, ``remote_http`` for a fixed time.

- ``offline_extract``: one client, attached ``SutroSpark.infer`` jobs of
  ``EXTRACT_ROWS`` unique prompts with a five-field schema, each followed
  by ``get_job_results(include_inputs=True)`` materialized. Per-job fixed
  costs are small against the rows, so this is the throughput path.
- ``prototype_jobs``: one client cycling through small (200-row)
  requests over the whole facade. Fixed per-request costs dominate.
- ``remote_http``: one closed-loop thread per Spark task slot calling
  ``HttpBackend.generate`` against the loopback service in
  ``httpserver.py``; a quarter of the prompts repeat earlier ones.

A request's latency runs from the facade call until its rows are in
hand. Generating inputs and checking outputs happen outside it.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import threading
import time
import traceback
import urllib.request
from dataclasses import dataclass, field
from statistics import median

import pandas as pd

from perfbench import expect
from perfbench.gen import WARMUP_STREAM, PromptStream
from perfbench.system import descendants, vm_hwm_mb, wait_gone
from perfbench.spans import Tracer, mean_self_times, spark_counts

EXTRACT_ROWS = 100_000
EXTRACT_WARMUP = [20_000, 20_000, 20_000]
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
PROTO_ROWS = 200
PROTO_KINDS = ["infer", "classify", "score", "embed", "rank", "estimate_cost",
               "list_jobs", "reread"]
PROTO_WARMUP_CYCLES = 1

# remote_http: the reference client polls every 5 s; service and polling
# run 50x faster here. A job finishes two poll intervals after the
# service receives it, so it takes exactly three status polls unless the
# first poll lands more than one interval late.
HTTP_BATCH = 500
HTTP_REPEAT_FRAC = 0.25
HTTP_FIXED_MS = 120.0
HTTP_PER_ROW_US = 160.0
HTTP_POLL_S = 0.1
HTTP_FLAKY_EVERY = 128
HTTP_WARMUP_REQUESTS = 4
HTTP_SETUPS = 3


@dataclass
class Phase:
    """What one measured window saw."""

    latencies: list[float] = field(default_factory=list)
    rows: int = 0  # verified output rows
    attempted: int = 0
    failed: int = 0
    busy_s: float = 0.0  # wall time the client spent in requests
    groups: list[list[str]] = field(default_factory=list)  # Spark job groups per request
    stub_s_per_krow: list[float] = field(default_factory=list)
    cache_bytes_per_row: list[float] = field(default_factory=list)
    server: dict = field(default_factory=dict)

    def merge(self, other: "Phase") -> None:
        self.latencies += other.latencies
        self.rows += other.rows
        self.attempted += other.attempted
        self.failed += other.failed


def _span(tracer: Tracer | None, name: str, request: str | None = None):
    return tracer.span(name, request) if tracer else contextlib.nullcontext()


def _stub_s_per_krow(prompts: list[str], schema: dict | None) -> float:
    """Direct StubBackend.generate on the request's own prompts, in the
    Arrow batch size the transform hands it."""
    from sutro_spark.operators.backends import StubBackend

    stub = StubBackend()
    t0 = time.perf_counter()
    for i in range(0, len(prompts), ARROW_BATCH):
        stub.generate(pd.Series(prompts[i : i + ARROW_BATCH]), output_schema=schema)
    return (time.perf_counter() - t0) / len(prompts) * 1000.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class SparkWorkload:
    """Shared set-up and teardown of the workloads that run on Spark."""

    def __init__(self, seed: int, cpus: int):
        self.seed = seed
        self.cpus = cpus
        self.spark = None
        self.so = None
        self.get_spark_s = 0.0
        self.jobs_submitted = 0
        self._requests = 0

    def setup(self) -> float:
        from sutro_spark.sdk import SutroSpark
        from sutro_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", self.cpus)
        self.get_spark_s = time.perf_counter() - t0
        self.so = SutroSpark(self.spark)
        self.warm_up()
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        raise NotImplementedError

    def run_unit(self, phase: "Phase", tracer: Tracer | None) -> None:
        raise NotImplementedError

    def measure(self, seconds: float, tracer: Tracer | None) -> "Phase":
        """Run the whole units (jobs or request cycles) that take about
        ``seconds`` at ``unit_s`` each. The count depends only on
        ``seconds``, so every run does the same work and its percentiles
        rest on the same number of samples of each request kind."""
        phase = Phase()
        for _ in range(max(1, round(seconds / self.unit_s))):
            self.run_unit(phase, tracer)
        return phase

    def patch(self, tracer: Tracer) -> None:
        import sutro_spark.operators.elo as elo_mod
        import sutro_spark.operators.templates as tpl
        import sutro_spark.sdk as sdk
        from sutro_spark.plans.jobs import JobRegistry

        for owner, attr, name in [
            (sdk, "prepare_input_data", "ingest.prepare"),
            (sdk, "llm_transform", "transform.plan"),
            (tpl, "llm_transform", "transform.plan"),
            (tpl, "embed_transform", "transform.plan"),
            (sdk, "unpack_json_outputs", "unpack.plan"),
            (tpl, "strip_scratchpad", "unpack.plan"),
            (tpl, "decode_ranking", "unpack.plan"),
            (JobRegistry, "submit", "jobs.submit"),
            (JobRegistry, "await_job_completion", "jobs.await"),
            (sdk, "write_result_cache", "results.cache_write"),
            (sdk, "read_result_cache", "results.cache_read"),
            (elo_mod, "elo", "elo.fit"),
            (sdk, "estimate_cost", "cost.estimate"),
        ]:
            tracer.patch(owner, attr, name)

    def request(self, phase: Phase, tracer: Tracer | None, body, units: int = 1) -> None:
        """Time ``body()`` as one request of ``units`` checked units (rows
        or requests). ``body`` returns a ``check`` callable, run after the
        clock stops, that returns ``(verified_rows, failed_units)``. A
        request that raises counts every unit as failed."""
        self._requests += 1
        req = f"req-{self._requests}"
        before = set(self.so.registry.jobs)
        if tracer:
            self.spark.sparkContext.setJobGroup(req, req)
        t0 = time.perf_counter()
        try:
            with _span(tracer, "request", req):
                check = body()
            latency = time.perf_counter() - t0
            rows, failed = check()
            phase.latencies.append(latency)
            phase.busy_s += latency
        except Exception:  # noqa: BLE001 - a failed request is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            rows, failed = 0, units
        phase.rows += rows
        phase.failed += failed
        phase.attempted += units
        phase.groups.append([req, *(j for j in self.so.registry.jobs if j not in before)])

    def job_id(self, name: str) -> str:
        return next(j for j, job in self.so.registry.jobs.items() if job.name == name)

    def spark_counts(self, phase: Phase) -> dict:
        time.sleep(0.5)  # let the listener bus catch up on the last job's events
        per_request = [spark_counts(self.spark, groups) for groups in phase.groups]
        n = len(per_request)
        return {
            "jobs.spark_jobs_per_request": sum(r[0] for r in per_request) / n,
            "jobs.spark_stages_per_request": sum(r[1] for r in per_request) / n,
            "jobs.tasks_per_request": sum(r[2] for r in per_request) / n,
        }

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(SparkContext._gateway.proc.pid)

    def close(self) -> None:
        """Stop Spark, its JVM and the JVM's Python workers, and wait."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = gateway.proc if gateway is not None else None
        kids = descendants(proc.pid) if proc is not None else []
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        alive = wait_gone(kids, 30)
        if alive:
            raise RuntimeError(f"Spark processes still alive: {alive}")
        self.spark = None


class OfflineExtract(SparkWorkload):
    unit = "rows"
    unit_s = 7.5  # nominal seconds per job: a 15 s run does 2 jobs

    def warm_up(self) -> None:
        stream = PromptStream(self.seed, WARMUP_STREAM)
        scratch = Phase()
        for n in EXTRACT_WARMUP:
            self._job(scratch, None, stream.fresh(n))
        if scratch.failed:
            raise RuntimeError("offline_extract warm-up produced wrong results")
        self.stream = PromptStream(self.seed, 0)

    def run_unit(self, phase: Phase, tracer: Tracer | None) -> None:
        prompts = self.stream.fresh(EXTRACT_ROWS)
        self._job(phase, tracer, prompts)
        if tracer:
            phase.stub_s_per_krow.append(_stub_s_per_krow(prompts, expect.EXTRACT_SCHEMA))

    def _job(self, phase: Phase, tracer: Tracer | None, prompts: list[str]) -> None:
        from sutro_spark.operators.results import cache_path

        pdf = pd.DataFrame({"prompt": prompts})
        name = f"extract-{self.jobs_submitted}"
        self.jobs_submitted += 1

        def body():
            self.so.infer(pdf, column="prompt", output_schema=expect.EXTRACT_SCHEMA, name=name)
            job_id = self.job_id(name)
            with _span(tracer, "results.fetch"):
                result = self.so.get_job_results(job_id, include_inputs=True).toPandas()

            def check():
                if tracer:
                    size = _dir_bytes(cache_path(job_id))
                    phase.cache_bytes_per_row.append(size / len(prompts))
                bad = expect.extract_failures(result, prompts, with_inputs=True, ordered=True)
                return len(prompts) - bad, bad

            return check

        self.request(phase, tracer, body, units=len(prompts))
        # Jobs stay cached in the registry; drop them so memory does not
        # grow with the number of jobs a run happens to fit.
        self.spark.catalog.clearCache()


class PrototypeJobs(SparkWorkload):
    unit = "requests"
    unit_s = 7.5  # nominal seconds per cycle: a 15 s run does 2 cycles

    def warm_up(self) -> None:
        self.stream = PromptStream(self.seed, WARMUP_STREAM)
        scratch = Phase()
        for _ in range(PROTO_WARMUP_CYCLES):
            self.run_unit(scratch, None)
        if scratch.failed:
            raise RuntimeError("prototype_jobs warm-up produced wrong results")
        self.stream = PromptStream(self.seed, 0)

    def run_unit(self, phase: Phase, tracer: Tracer | None) -> None:
        """One cycle over every request kind."""
        state: dict = {"phase": phase}
        for kind in PROTO_KINDS:
            prompts = self.stream.fresh(PROTO_ROWS)
            self.request(phase, tracer, getattr(self, f"_{kind}")(prompts, state, tracer))
            if tracer and kind == "infer":
                phase.stub_s_per_krow.append(_stub_s_per_krow(prompts, expect.EXTRACT_SCHEMA))

    @staticmethod
    def _verdict(ok: bool, rows: int) -> tuple[int, int]:
        return (rows, 0) if ok else (0, 1)

    def _infer(self, prompts, state, tracer):
        from sutro_spark.operators.results import cache_path

        name = f"proto-{self.jobs_submitted}"
        self.jobs_submitted += 1

        def body():
            res = self.so.infer(prompts, output_schema=expect.EXTRACT_SCHEMA, name=name)
            with _span(tracer, "results.collect"):
                pdf = res.toPandas()

            def check():
                state["name"], state["prompts"] = name, prompts
                if tracer:
                    size = _dir_bytes(cache_path(self.job_id(name)))
                    state["phase"].cache_bytes_per_row.append(size / len(prompts))
                bad = expect.extract_failures(pdf, prompts, with_inputs=False, ordered=False)
                return self._verdict(bad == 0, len(prompts))

            return check

        return body

    def _template(self, kind, call, check, tracer):
        def body():
            with _span(tracer, f"templates.{kind}"):
                pdf = call().toPandas()
            return lambda: self._verdict(check(pdf), len(pdf))

        return body

    def _classify(self, prompts, state, tracer):
        return self._template(
            "classify",
            lambda: self.so.classify(prompts, expect.CLASSES),
            lambda pdf: expect.column_ok(pdf, prompts, "classification",
                                         expect.expected_classes(prompts)),
            tracer,
        )

    def _score(self, prompts, state, tracer):
        return self._template(
            "score",
            lambda: self.so.score(prompts, "clarity", score_range=expect.SCORE_RANGE),
            lambda pdf: expect.column_ok(pdf, prompts, "score", expect.expected_scores(prompts)),
            tracer,
        )

    def _embed(self, prompts, state, tracer):
        return self._template(
            "embed",
            lambda: self.so.embed(prompts, dim=expect.EMBED_DIM),
            lambda pdf: expect.column_ok(pdf, prompts, "embedding",
                                         expect.expected_embeddings(prompts)),
            tracer,
        )

    def _rank(self, prompts, state, tracer):
        ballots = list(zip(prompts, prompts[1:] + prompts[:1]))
        records = [{"a": a, "b": b} for a, b in ballots]

        def call():
            # run_elo prints the ratings table; keep stdout for the result line
            with contextlib.redirect_stdout(sys.stderr):
                return self.so.rank(records, expect.RANK_LABELS, "clarity", run_elo=True)

        return self._template("rank", call, lambda pdf: expect.ratings_ok(pdf, ballots), tracer)

    def _estimate_cost(self, prompts, state, tracer):
        def body():
            got = self.so.infer(prompts, dry_run=True)
            return lambda: self._verdict(got == expect.expected_cost(prompts), 1)

        return body

    def _list_jobs(self, prompts, state, tracer):
        def body():
            with _span(tracer, "jobs.list"):
                pdf = self.so.list_jobs().toPandas()

            def check():
                match = pdf.loc[pdf["name"] == state.get("name"), "job_id"].tolist()
                state["job_id"] = match[0] if len(match) == 1 else None
                ok = (
                    len(pdf) == self.jobs_submitted
                    and bool((pdf["status"] == "SUCCEEDED").all())
                    and state["job_id"] is not None
                )
                return self._verdict(ok, len(pdf))

            return check

        return body

    def _reread(self, prompts, state, tracer):
        def body():
            job_id = state.get("job_id")
            if job_id is None:
                raise RuntimeError("no job id from list_jobs to re-read")
            with _span(tracer, "results.fetch"):
                pdf = self.so.get_job_results(job_id, include_inputs=True).toPandas()

            def check():
                bad = expect.extract_failures(pdf, state["prompts"], with_inputs=True,
                                              ordered=True)
                return self._verdict(bad == 0, len(pdf))

            return check

        return body


class RemoteHttp:
    """Closed-loop threads calling ``HttpBackend.generate`` directly.

    Spark is not involved: a backend registered on the driver is not
    visible to Spark's Python workers, which resolve backends by name in
    a fresh registry holding only ``stub``.
    """

    unit = "rows"

    def __init__(self, seed: int, cpus: int, root: str):
        self.seed = seed
        self.threads = cpus  # one client per Spark task slot
        self.root = root
        self.server = None
        self.get_spark_s = 0.0

    def _start_server(self) -> None:
        self.server = subprocess.Popen(
            [sys.executable, "-m", "perfbench.httpserver", "--seed", str(self.seed),
             "--fixed-ms", str(HTTP_FIXED_MS), "--per-row-us", str(HTTP_PER_ROW_US),
             "--flaky-every", str(HTTP_FLAKY_EVERY)],
            cwd=self.root, stdout=subprocess.PIPE, text=True,
        )
        line = self.server.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            raise RuntimeError(f"loopback service did not start: {line}")
        self.base_url = f"http://127.0.0.1:{line[1]}"

    def _server_call(self, method: str, path: str) -> dict:
        req = urllib.request.Request(self.base_url + path, method=method,
                                     data=b"{}" if method == "POST" else None)
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())

    def setup(self) -> float:
        """Build the backend and warm every client thread, several times;
        the median is the set-up time. The loopback service stands in
        for a remote one and is not part of it."""
        from sutro_spark.operators.backends import HttpBackend

        self._start_server()
        times = []
        for i in range(HTTP_SETUPS):
            t0 = time.perf_counter()
            self.backend = HttpBackend(self.base_url, "bench-key", poll_interval=HTTP_POLL_S)
            streams = [PromptStream(self.seed, WARMUP_STREAM + i * self.threads + t)
                       for t in range(self.threads)]
            phase = self._loop(streams, lambda done: done >= HTTP_WARMUP_REQUESTS, None)
            times.append(time.perf_counter() - t0)
            if phase.failed:
                raise RuntimeError("remote_http warm-up produced wrong results")
        self.streams = [PromptStream(self.seed, t) for t in range(self.threads)]
        return median(times)

    def patch(self, tracer: Tracer) -> None:
        from sutro_spark.operators.backends import HttpBackend

        tracer.patch(HttpBackend, "submit", "backends.http.submit")
        tracer.patch(HttpBackend, "poll_until_done", "backends.http.poll")
        tracer.patch(HttpBackend, "fetch_results", "backends.http.fetch")

    def measure(self, seconds: float, tracer: Tracer | None) -> Phase:
        self._server_call("POST", "/reset")
        deadline = time.perf_counter() + seconds
        t0 = time.perf_counter()
        phase = self._loop(self.streams, lambda done: time.perf_counter() >= deadline, tracer)
        phase.busy_s = time.perf_counter() - t0
        phase.server = self._server_call("GET", "/stats")
        return phase

    def _loop(self, streams, stop, tracer: Tracer | None) -> Phase:
        phases = [Phase() for _ in streams]
        errors: list[BaseException] = []

        def client(t: int) -> None:
            phase, done = phases[t], 0
            try:
                while not stop(done):
                    prompts = streams[t].batch_with_repeats(HTTP_BATCH, HTTP_REPEAT_FRAC)
                    t0 = time.perf_counter()
                    try:
                        with _span(tracer, "request", f"t{t}-{done}"):
                            out = self.backend.generate(pd.Series(prompts))
                    except Exception:  # noqa: BLE001 - counted as failed rows
                        traceback.print_exc(file=sys.stderr)
                        phase.failed += len(prompts)
                        phase.attempted += len(prompts)
                        done += 1
                        continue
                    phase.latencies.append(time.perf_counter() - t0)
                    bad = expect.http_failures(out, prompts)
                    phase.failed += bad
                    phase.attempted += len(prompts)
                    phase.rows += len(prompts) - bad
                    done += 1
            except BaseException as e:  # noqa: BLE001 - re-raised by the caller
                errors.append(e)

        workers = [threading.Thread(target=client, args=(t,)) for t in range(len(streams))]
        for w in workers:
            w.start()
        for w in workers:
            w.join()
        if errors:
            raise errors[0]
        total = Phase()
        for p in phases:
            total.merge(p)
        return total

    def spark_counts(self, phase: Phase) -> dict:
        return {"jobs.spark_jobs_per_request": 0.0, "jobs.spark_stages_per_request": 0.0,
                "jobs.tasks_per_request": 0.0}

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(os.getpid())

    def close(self) -> None:
        if self.server is not None:
            self.server.terminate()
            self.server.wait(timeout=30)
            self.server.stdout.close()
            self.server = None


def layer_metrics(workload, phase: Phase, tracer: Tracer) -> dict:
    """Per-layer figures of a traced phase."""
    means = mean_self_times(tracer.spans)
    n_requests = max(1, sum(1 for s in tracer.spans if s.name == "request"))
    out = {("request.self" if name == "request" else name) + "_s": mean
           for name, (mean, _) in means.items()}
    out["trace.spans_per_request"] = len(tracer.spans) / n_requests
    out["request.samples"] = float(len(phase.latencies))
    out.update(workload.spark_counts(phase))
    if phase.stub_s_per_krow:
        out["backends.stub.generate_s_per_krow"] = median(phase.stub_s_per_krow)
    if phase.cache_bytes_per_row:
        out["results.cache_bytes_per_row"] = median(phase.cache_bytes_per_row)
    srv = phase.server
    if srv.get("submit"):
        jobs = srv["submit"]
        out["backends.http.requests_per_job"] = (jobs + srv["status"] + srv["results"]) / jobs
        out["backends.http.polls_per_job"] = srv["status"] / jobs
        out["backends.http.retries_524"] = float(srv["status_524"])
        out["backends.http.rows_sent_per_unique_row"] = srv["rows"] / srv["new_rows"]
        out["server.inflight_jobs_mean"] = srv["inflight_jobs_mean"]
    return out
