"""End-to-end ``semantify`` -> ``.nt`` benchmark: one workload per call.

    python3 kgbench/run.py --workload joins_dups --seed 1 --seconds 24 --trace 0
    python3 kgbench/run.py --smoke        # every workload once, small inputs

The inputs are made from the seed (``workloads.py``) before any clock
starts. The timed work runs in a fresh ``worker.py`` process with its own
JVM; ``--seconds`` is how long it keeps making the counted warm calls.
With ``--trace 1`` the worker instead makes the per-layer calls of
``layers.py``, the run reports the per-layer metrics and writes the spans
to ``.kgbench/trace-<workload>.json``. The last line printed is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")

WORKER_TIMEOUT = 150      # seconds; a whole run must end within 180
KEEP_INPUT_SETS = 12      # generated input directories kept for reuse


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def units(kind: str) -> dict[str, str]:
    with open(BENCHMARK_JSON, encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def worker_env() -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
            "pyspark-shell"]),
    )
    return env


def spawn(mode: str, log=None, **kw) -> dict:
    """Run one worker process to its end; returns its result. The
    worker's output goes to ``log`` (default: standard error)."""
    result = os.path.join(WORK, f"result-{os.getpid()}.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode,
           "--cores", str(cores()), "--result", result]
    for k, v in kw.items():
        cmd += [f"--{k.replace('_', '-')}", str(v)]
    cmd += ["--t0", repr(time.monotonic())]
    log = log or sys.stderr
    proc = subprocess.Popen(cmd, cwd=WORK, env=worker_env(), stdout=log,
                            stderr=log, start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT)
    finally:
        # the worker's own session holds its JVM; end anything left over
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if code != 0 or not os.path.exists(result):
        raise RuntimeError(f"worker {mode} exited with code {code}")
    with open(result, encoding="utf-8") as f:
        out = json.load(f)
    os.remove(result)
    return out


def prune_inputs(root: str) -> None:
    sets = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime)
    for d in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(d, ignore_errors=True)


def result_line(res: dict, kind: str) -> dict:
    """The benchmark's result object from a worker's result. A metric no
    call could give (every counted call failed) is null, and then the
    result is not correct."""
    metrics = {name: {"value": res[name], "unit": unit}
               for name, unit in units(kind).items()}
    measured = all(m["value"] is not None for m in metrics.values())
    return {"correct": not res["wrong"] and measured,
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def run_once(workload: str, seed: int, seconds: float, trace: bool,
             scale: str = "full", log=None) -> dict:
    """One run; the result object, with the worker's whole result (spans
    too, when traced) under ``detail``."""
    from workloads import generate

    inputs = os.path.join(WORK, "inputs")
    os.makedirs(inputs, exist_ok=True)
    input_dir, rows = generate(workload, scale, seed, inputs)
    os.utime(input_dir)
    prune_inputs(inputs)
    common = dict(workload=workload, input_dir=input_dir, rows=rows,
                  seconds=seconds)
    res = spawn("trace" if trace else "run", log, **common)
    shutil.rmtree(os.path.join(input_dir, "out"), ignore_errors=True)
    return {**result_line(res, "per_layer" if trace else "end_to_end"),
            "detail": res}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on small inputs")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "sdm_rdfizer_spark")):
        print(f"no sdm_rdfizer_spark package next to {HERE}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.smoke:
        ok = True
        for w in WORKLOADS:
            out = run_once(w, args.seed, 0, bool(args.trace), scale="smoke")
            out.pop("detail")
            print(w, json.dumps(out))
            ok &= out["correct"] and out["failed"] == 0
        return 0 if ok else 1
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    out = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    detail = out.pop("detail")
    if args.trace:
        spans = os.path.join(WORK, f"trace-{args.workload}.json")
        with open(spans, "w", encoding="utf-8") as f:
            json.dump(detail, f, indent=1)
        detail = {"spans_file": spans}
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
