"""Per-query measurement helper for optimization rounds.

For each named query: build the DataFrame, dump ``explain("formatted")``
to ``plans/<tag>/<name>_<suffix>.txt``, then time N noop-sink
materializations (guide §1.4) and print per-run seconds. The session,
warm-up, calibration and cache release between runs are bench.py's own
functions, so numbers are comparable to sweep rows.

Usage:
  python tools/qmeasure.py [--plans-dir plans/r10] [--suffix before]
                           [--runs 2] [--sf /root/testdata/sf0.1]
                           query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "before"
    runs = 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--plans-dir":
            plans_dir = args[i + 1]; i += 2
        elif a == "--suffix":
            suffix = args[i + 1]; i += 2
        elif a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(a); i += 1

    from bench import calibrate, measure_session, release, warm_up

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = measure_session("qmeasure", cpus)
    import __spark_entry__ as entry_mod

    warm_up(spark, sf_dir, cpus)
    print(f"[qmeasure] calibration {calibrate(spark):.2f}s", flush=True)

    qs = entry_mod.queries()
    for name in names:
        fn = qs[name]
        times = []
        for r in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if plans_dir and r == 0:
                os.makedirs(plans_dir, exist_ok=True)
                with open(os.path.join(plans_dir,
                                       f"{name}_{suffix}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            spark.sparkContext.setJobDescription(f"{name} run{r}")
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            release(spark)
            spark.sparkContext.setJobDescription(None)
        print(f"[qmeasure] {name}: " +
              " ".join(f"{t:.2f}" for t in times) +
              f"  min={min(times):.2f}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
