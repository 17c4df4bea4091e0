"""Loopback stand-in for a sutro-style batch inference API.

Run as ``python3 -m perfbench.httpserver --seed N`` from the checkout
root; it prints ``PORT <n>`` once listening and serves until terminated.

- ``POST /batch-inference`` creates a job; the job finishes
  ``fixed_ms + per_row_us * rows`` after submission (no real work).
- ``GET /job-status/<id>`` reports RUNNING, then SUCCEEDED. One job in
  every ``flaky_every`` (by submission order, phase set by the seed)
  answers its first would-be-SUCCEEDED poll with a Cloudflare-style 524
  instead, which the client retries.
- ``POST /job-results`` returns ``expect.http_reply`` of every input,
  positionally aligned.
- ``GET /stats`` / ``POST /reset`` read and restart the counters of the
  measured window. ``new_rows`` counts prompts the service had never
  received before, in this window or earlier.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from perfbench.expect import http_reply


class Service:
    def __init__(self, seed: int, fixed_s: float, per_row_s: float, flaky_every: int):
        self.fixed_s = fixed_s
        self.per_row_s = per_row_s
        self.flaky_every = flaky_every
        self.phase = seed % flaky_every
        self.lock = threading.Lock()
        self.jobs: dict[str, dict] = {}
        self._next_id = 0
        self._seen: set[int] = set()  # every prompt since start, across resets
        self.reset()

    def reset(self) -> None:
        with self.lock:
            now = time.perf_counter()
            self.window_start = self._last = now
            self.inflight = 0
            self._area = 0.0
            self.submitted = 0
            self.counts = {"submit": 0, "status": 0, "results": 0, "status_524": 0,
                           "rows": 0, "new_rows": 0}

    def _advance(self, now: float) -> None:
        self._area += self.inflight * (now - self._last)
        self._last = now

    def submit(self, inputs: list[str]) -> str:
        now = time.perf_counter()
        with self.lock:
            job_id = f"job-{self._next_id}"
            self._next_id += 1
            flaky = (self.submitted + self.phase) % self.flaky_every == 0
            self.submitted += 1
            self.jobs[job_id] = {
                "inputs": inputs,
                "done_at": now + self.fixed_s + self.per_row_s * len(inputs),
                "flaky": flaky,
            }
            self._advance(now)
            self.inflight += 1
            self.counts["submit"] += 1
            self.counts["rows"] += len(inputs)
            for p in inputs:
                h = hash(p)
                if h not in self._seen:
                    self._seen.add(h)
                    self.counts["new_rows"] += 1
        return job_id

    def status(self, job_id: str) -> tuple[int, dict]:
        now = time.perf_counter()
        with self.lock:
            job = self.jobs.get(job_id)
            if job is None:
                return 404, {"detail": "unknown job"}
            if now < job["done_at"]:
                self.counts["status"] += 1
                return 200, {"results": "RUNNING"}
            if job["flaky"]:
                job["flaky"] = False
                self.counts["status_524"] += 1
                return 524, {}
            self.counts["status"] += 1
            return 200, {"results": "SUCCEEDED"}

    def results(self, job_id: str) -> tuple[int, dict]:
        now = time.perf_counter()
        with self.lock:
            job = self.jobs.pop(job_id, None)
            if job is None:
                return 404, {"detail": "unknown job"}
            if now < job["done_at"]:
                self.jobs[job_id] = job
                return 409, {"detail": "not finished"}
            self._advance(now)
            self.inflight -= 1
            self.counts["results"] += 1
        inputs = job["inputs"]
        return 200, {
            "results": {
                "outputs": [http_reply(p) for p in inputs],
                "cumulative_logprobs": [-len(p) / 100.0 for p in inputs],
            }
        }

    def stats(self) -> dict:
        now = time.perf_counter()
        with self.lock:
            self._advance(now)
            elapsed = now - self.window_start
            return {
                **self.counts,
                "inflight_jobs_mean": self._area / elapsed if elapsed > 0 else 0.0,
            }


def make_handler(service: Service):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # keep stderr quiet
            pass

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n) or b"{}")

        def _send(self, code: int, body: dict) -> None:
            data = json.dumps(body).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            if self.path.startswith("/job-status/"):
                self._send(*service.status(self.path.rsplit("/", 1)[1]))
            elif self.path == "/stats":
                self._send(200, service.stats())
            else:
                self._send(404, {"detail": "no route"})

        def do_POST(self):
            body = self._body()
            if self.path == "/batch-inference":
                self._send(200, {"results": service.submit(list(body["inputs"]))})
            elif self.path == "/job-results":
                self._send(*service.results(body["job_id"]))
            elif self.path == "/reset":
                service.reset()
                self._send(200, {"results": "ok"})
            else:
                self._send(404, {"detail": "no route"})

    return Handler


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--fixed-ms", type=float, required=True)
    ap.add_argument("--per-row-us", type=float, required=True)
    ap.add_argument("--flaky-every", type=int, required=True)
    args = ap.parse_args(argv)
    service = Service(args.seed, args.fixed_ms / 1e3, args.per_row_us / 1e6, args.flaky_every)
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(service))
    server.daemon_threads = True
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()


if __name__ == "__main__":
    sys.exit(main())
