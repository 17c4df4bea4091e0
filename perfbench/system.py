"""Run environment: pinned settings, host context and process lifetime."""

from __future__ import annotations

import os
import shlex
import tempfile
import time

DRIVER_MEM = "1g"


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, tmp: str) -> dict:
    """Settings every run uses, set before Spark or Python workers start.

    - one Spark task slot per CPU (the session default of 32 would
      oversubscribe a small host), a driver heap well below RAM, and a
      fixed young generation and two malloc arenas so the JVM's peak
      memory does not swing with adaptive sizing from run to run;
    - ``PYTHONPATH`` so Spark's Python workers import ``sutro_spark``
      from this checkout;
    - results cache, warehouse, Spark scratch and temp files in a per-run
      directory that is deleted afterwards, so no run reads another's
      cached results and nothing is written outside the checkout.
    """
    cpus = cpu_count()
    paths = {name: os.path.join(tmp, name) for name in ("cache", "warehouse", "local")}
    for path in paths.values():
        os.makedirs(path, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn256m"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SUTRO_SPARK_CACHE": paths["cache"],
        "SUTRO_SPARK_WAREHOUSE_DIR": paths["warehouse"],
        "SPARK_LOCAL_DIRS": paths["local"],
        "TMPDIR": tmp,
        "MALLOC_ARENA_MAX": "2",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
        ),
    }
    os.environ.update(env)
    os.environ.pop("SUTRO_SPARK_CHECKPOINT_DIR", None)
    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_mem": DRIVER_MEM, "pythonpath": root}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (via each process's parent id)."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` exists; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.05)
    return alive
