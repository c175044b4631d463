"""One fresh benchmark process: builds the session, then times ``semantify``.

Started by ``run.py`` with ``--t0`` set to the monotonic clock just before
the process was spawned, so ``setup_s`` covers interpreter start, imports,
JVM start, session creation and ``tune_session``. Writes its result as JSON
to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

# warm calls not counted: the JIT is still shortening them, with a step
# around the fifth (see README.md)
DISCARD = 5
MIN_COUNTED = 5


def build_session(t0: float, cores: int):
    """The session, the seconds since spawn, and the seconds of the
    ``default_session`` call alone."""
    from sdm_rdfizer_spark.engine import default_session

    t = time.monotonic()
    spark = default_session(cpus=cores, driver_memory="1g")
    done = time.monotonic()
    return spark, done - t0, done - t


class Op:
    """Runs and checks ``semantify`` calls; counts attempts and failures."""

    def __init__(self, spark, config: str, nt_path: str, checker) -> None:
        from sdm_rdfizer_spark.engine import semantify

        self.config = config
        self.call = lambda: semantify(config, spark)
        self.nt_path = nt_path
        self.checker = checker
        self.attempted = self.failed = 0
        self.wrong = []

    def run(self, before=None, after=None):
        """One timed call, then its check outside the timed region.
        Returns the wall seconds, or None when the call failed."""
        self.attempted += 1
        if os.path.exists(self.nt_path):
            os.remove(self.nt_path)
        if before:
            before()
        t = time.monotonic()
        try:
            self.call()
        except Exception as e:   # a failed operation is counted, not fatal
            print(f"semantify failed: {e!r}", file=sys.stderr)
            self.failed += 1
            return None
        wall = time.monotonic() - t
        if after:
            after()
        problems = self.checker.check(self.nt_path)
        if problems:
            self.failed += 1
            self.wrong.append(problems)
            return None
        return wall


def median_or_none(values):
    """The median, or None when no call succeeded."""
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else None


def run_untraced(args, spark, setup_s, op) -> dict:
    """One cold call, DISCARD warm calls, then counted warm calls until
    ``args.seconds`` have passed and at least MIN_COUNTED were made."""
    from probes import cpu_seconds, jvm_pid, peak_rss_mb, process_tree

    jvm = jvm_pid(spark)
    cold = op.run()
    walls, cpus = [], []
    cpu = {}

    def mark(key):
        return lambda: cpu.__setitem__(
            key, cpu_seconds([os.getpid(), *process_tree(jvm)]))

    def warm_call():
        wall = op.run(mark("before"), mark("after"))
        walls.append(wall)
        cpus.append(None if wall is None else cpu["after"] - cpu["before"])

    for _ in range(DISCARD):
        warm_call()
    deadline = time.monotonic() + args.seconds
    while len(walls) < DISCARD + MIN_COUNTED or time.monotonic() < deadline:
        warm_call()
    return {
        "setup_s": setup_s,
        "cold_kg_s": cold,
        "kg_s": median_or_none(walls[DISCARD:]),
        "cpu_s": median_or_none(cpus[DISCARD:]),
        "peak_rss_mb": peak_rss_mb(jvm),
        "warm_walls": walls,
        "warm_cpus": cpus,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("run", "trace"), required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--workload")
    ap.add_argument("--input-dir")
    ap.add_argument("--rows", type=int)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()

    from probes import stop_spark

    spark, setup_s, session_s = build_session(args.t0, args.cores)
    try:
        from check import Checker
        from workloads import write_config

        out_dir = os.path.join(args.input_dir, "out")
        config = write_config(args.input_dir, out_dir)
        checker = Checker(args.workload, args.input_dir, args.rows)
        op = Op(spark, config, os.path.join(out_dir, "kg.nt"), checker)
        if args.mode == "run":
            result = run_untraced(args, spark, setup_s, op)
        else:
            from layers import run_traced

            result = run_traced(args, spark, setup_s, session_s, op)
        result.update(attempted=op.attempted, failed=op.failed,
                      wrong=op.wrong)
        checker.close()
    finally:
        stop_spark(spark)
    with open(args.result, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
