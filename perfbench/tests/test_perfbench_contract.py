import json
import os
import time

from perfbench.httpserver import Service
from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS

BENCHMARK_JSON = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_benchmark_json_lists_what_run_reports():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_service_counts_polls_524s_and_new_rows():
    svc = Service(seed=1, fixed_s=0.02, per_row_s=0.0, flaky_every=2)
    first = svc.submit(["p1", "p2", "p2"])  # submission 0: (0 + 1) % 2 -> not flaky
    second = svc.submit(["p1", "p3"])  # submission 1: flaky
    assert svc.status(first) == (200, {"results": "RUNNING"})
    assert svc.results(first)[0] == 409
    time.sleep(0.03)
    assert svc.status(first) == (200, {"results": "SUCCEEDED"})
    assert svc.status(second) == (524, {})
    assert svc.status(second) == (200, {"results": "SUCCEEDED"})
    code, body = svc.results(second)
    assert code == 200 and len(body["results"]["outputs"]) == 2
    svc.results(first)
    stats = svc.stats()
    assert {k: stats[k] for k in ("submit", "status", "status_524", "results", "rows",
                                  "new_rows")} == {
        "submit": 2, "status": 3, "status_524": 1, "results": 2, "rows": 5, "new_rows": 3}
    assert stats["inflight_jobs_mean"] > 0
    svc.reset()
    svc.submit(["p1", "p4"])
    assert svc.stats()["new_rows"] == 1  # p1 was seen before the reset
