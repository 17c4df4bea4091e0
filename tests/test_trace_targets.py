"""Every function the benchmark's ``--trace 1`` mode wraps still exists,
so deleting or renaming one fails here rather than in a traced run."""

import pytest

from perfbench.workloads import RemoteHttp, SparkWorkload


class _RecordingTracer:
    def __init__(self):
        self.targets = []

    def patch(self, owner, attr, name):
        self.targets.append((owner, attr, name))


@pytest.mark.parametrize(
    "workload", [SparkWorkload(seed=1, cpus=1), RemoteHttp(seed=1, cpus=1, root=".")],
    ids=["spark", "remote_http"],
)
def test_every_traced_target_resolves(workload):
    tracer = _RecordingTracer()
    workload.patch(tracer)
    assert tracer.targets
    missing = [f"{getattr(o, '__name__', o)}.{a}" for o, a, _ in tracer.targets
               if not callable(getattr(o, a, None))]
    assert not missing, missing
