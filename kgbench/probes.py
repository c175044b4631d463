"""Measurements taken from outside the program: process CPU and memory from
``/proc``, Spark's status store through its REST API, and py4j commands."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import urllib.parse
import urllib.request

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    """Children forked by any thread of ``pid`` (a JVM forks from many)."""
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def cpu_seconds(pids) -> float:
    """utime + stime of the given processes, with cutime + cstime of
    their children that have ended and been waited for (a process that
    has ended itself counts 0)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / CLK_TCK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_spark(spark, timeout: float = 60) -> None:
    """Stop the session and wait until its JVM has exited."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()   # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Py4jCounter:
    """Counts py4j call commands sent while active (a context manager)."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        send = type(self.client).send_command.__get__(self.client)

        def counting(command, *args, **kwargs):
            if command.startswith("c\n"):
                self.calls += 1
            return send(command, *args, **kwargs)

        self.client.send_command = counting
        return self

    def __exit__(self, *exc) -> None:
        del self.client.send_command


STAGE_SUMS = {
    # metric: (stage field, scale)
    "tasks": ("numCompleteTasks", 1),
    "input_bytes": ("inputBytes", 1),
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "mem_spill_bytes": ("memoryBytesSpilled", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
}


class SparkStatus:
    """Spark's own status store, read through the UI's REST API.

    ``snapshot()`` marks a boundary; ``since(mark)`` sums the jobs and the
    completed stages that started after it. Job and stage ids only grow,
    so a boundary is just the highest id seen.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}/")
        self.bus = sc._jsc.sc().listenerBus()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def _settle(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self.bus.waitUntilEmpty()

    def snapshot(self) -> tuple[int, int]:
        self._settle()
        jobs = [j["jobId"] for j in self._get("jobs")]
        stages = [s["stageId"] for s in self._get("stages")]
        return max(jobs, default=-1), max(stages, default=-1)

    def since(self, mark: tuple[int, int]) -> dict:
        self._settle()
        last_job, last_stage = mark
        jobs = [j for j in self._get("jobs") if j["jobId"] > last_job]
        stages = [s for s in self._get("stages?status=complete")
                  if s["stageId"] > last_stage]
        out = {"jobs": len(jobs), "stages": len(stages)}
        for name, (field, scale) in STAGE_SUMS.items():
            out[name] = sum(s.get(field, 0) for s in stages) * scale
        out["spill_bytes"] += out.pop("mem_spill_bytes")
        out["max_task_s"] = max(
            (self._longest_task(s) for s in stages), default=0.0)
        return out

    def _longest_task(self, stage: dict) -> float:
        tasks = self._get(f"stages/{stage['stageId']}/{stage['attemptId']}"
                          "/taskList?sortBy=-runtime&length=1")
        return tasks[0]["duration"] / 1e3 if tasks else 0.0

