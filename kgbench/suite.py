"""Several benchmark runs at once, each workload run in its own process.

    python3 kgbench/suite.py all                   # every workload once
    python3 kgbench/suite.py steady --runs 10 --out a.json
    python3 kgbench/suite.py compare a.json b.json
    python3 kgbench/suite.py trace --out trace.json

``all`` prints every end-to-end metric with its unit and the operations
attempted and failed. ``steady`` runs each workload ``--runs`` times with
seeds ``--seed``, ``--seed``+1, ... and prints, per end-to-end metric, the
median, the quartiles and the spread (interquartile range over median)
against the metric's bound. ``compare`` prints the change of each median
between two ``steady`` files against the bound. ``trace`` makes the traced
run of every workload and writes their spans and per-layer metrics, with
the tracing overhead, to one JSON file. Every run has BENCHMARK.json's
length and the workers' own output goes to ``.kgbench/suite.log``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import BENCHMARK_JSON, WORK, run_once  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

LOG = os.path.join(WORK, "suite.log")   # the workers' output


def bench() -> dict:
    with open(BENCHMARK_JSON, encoding="utf-8") as f:
        return json.load(f)


def one_run(workload: str, seed: int, trace: bool) -> dict:
    """One run of BENCHMARK.json's length, as ``run.py`` makes it."""
    os.makedirs(WORK, exist_ok=True)
    with open(LOG, "a", encoding="utf-8") as log:
        return run_once(workload, seed, bench()["run_seconds"], trace,
                        log=log)


def fmt(value, width: int = 10, digits: int = 4) -> str:
    """A metric value; null (no call gave it) prints as "-"."""
    return f"{'-':>{width}s}" if value is None else f"{value:{width}.{digits}f}"


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def cmd_all(args) -> int:
    ok = True
    for w in WORKLOADS:
        r = one_run(w, args.seed, False)
        ok &= r["correct"] and r["failed"] == 0
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']}")
        for name, m in r["metrics"].items():
            print(f"  {name:12s} {fmt(m['value'], 12)} {m['unit']}")
    return 0 if ok else 1


def cmd_steady(args) -> int:
    runs: dict[str, list[dict]] = {w: [] for w in WORKLOADS}
    for i in range(args.runs):
        for w in WORKLOADS:
            t = time.monotonic()
            r = one_run(w, args.seed + i, False)
            r["run_s"] = time.monotonic() - t
            runs[w].append(r)
            print(f"{w} seed={args.seed + i} run_s={r['run_s']:.1f} " + " ".join(
                f"{k}={fmt(m['value'], 0)}" for k, m in r["metrics"].items()),
                flush=True)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(runs, f, indent=1)
    return report_steady(runs, bench())


def values(rs: list[dict], name: str) -> list[float] | None:
    """The metric's values over the runs; None if any run lacks it."""
    vs = [r["metrics"][name]["value"] for r in rs]
    return None if None in vs else vs


def report_steady(runs: dict[str, list[dict]], b: dict) -> int:
    """Prints the spreads; 1 when a run failed or a spread exceeds its
    bound (``setup_s`` excepted), else 0."""
    worse = 0
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    print(f"{'workload':14s} {'metric':12s} {'median':>10s} {'q1':>10s} "
          f"{'q3':>10s} {'spread':>7s} {'bound':>6s}")
    for w, rs in runs.items():
        att = sum(r["attempted"] for r in rs)
        fail = sum(r["failed"] for r in rs)
        correct = all(r["correct"] for r in rs)
        worse += fail > 0 or not correct
        print(f"{w}: {len(rs)} runs, {fail}/{att} operations failed, "
              f"correct={correct}")
        for name, bound in bounds.items():
            vs = values(rs, name)
            if vs is None:
                print(f"{'':14s} {name:12s} missing in some run")
                continue
            med, q1, q3, s = spread(vs)
            flag = "" if s <= bound / 3 else (" over 1/3 bound" if s <= bound
                                               else " OVER BOUND")
            worse += s > bound and name != "setup_s"
            print(f"{'':14s} {name:12s} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                  f"{s:7.3f} {bound:6.2f}{flag}")
    return 1 if worse else 0


def cmd_compare(args) -> int:
    b = bench()
    sets = []
    for path in (args.first, args.second):
        with open(path, encoding="utf-8") as f:
            sets.append(json.load(f))
    worse = 0
    print(f"{'workload':14s} {'metric':12s} {'first':>10s} {'second':>10s} "
          f"{'change':>8s} {'bound':>6s}")
    for w in sets[0]:
        shares = [sum(r["failed"] for r in s[w]) / sum(r["attempted"]
                                                       for r in s[w])
                  for s in sets]
        if shares[0] != shares[1]:
            worse += 1
            print(f"{w}: failed share differs: {shares[0]} vs {shares[1]}")
        for m in b["end_to_end"]:
            vs = [values(s[w], m["name"]) for s in sets]
            if None in vs:
                worse += 1
                print(f"{w:14s} {m['name']:12s} missing in some run")
                continue
            meds = [statistics.median(v) for v in vs]
            change = (meds[1] - meds[0]) / meds[0]
            if m["better"] == "higher":
                change = -change
            bad = change > m["bound"]
            worse += bad
            print(f"{w:14s} {m['name']:12s} {meds[0]:10.4f} {meds[1]:10.4f} "
                  f"{change:+8.3f} {m['bound']:6.2f}"
                  f"{'  WORSE THAN BOUND' if bad else ''}")
    return 1 if worse else 0


def cmd_trace(args) -> int:
    artifact = {"seed": args.seed, "workloads": {}}
    for w in WORKLOADS:
        r = one_run(w, args.seed, True)
        detail = r.pop("detail")
        spans = detail.pop("spans")
        artifact["workloads"][w] = {**r, "detail": detail, "spans": spans}
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']}")
        for name, m in r["metrics"].items():
            print(f"  {name:20s} {fmt(m['value'], 14)} {m['unit']}")
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(artifact, f, indent=1)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("all")
    p.add_argument("--seed", type=int, default=1)
    p = sub.add_parser("steady")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=100)
    p.add_argument("--out")
    p = sub.add_parser("compare")
    p.add_argument("first")
    p.add_argument("second")
    p = sub.add_parser("trace")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--out", default=os.path.join(WORK, "trace.json"))
    args = ap.parse_args()
    return {"all": cmd_all, "steady": cmd_steady, "compare": cmd_compare,
            "trace": cmd_trace}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
