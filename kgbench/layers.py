"""Traced run: the program's public calls, one layer at a time.

Each call is wrapped in a span (name, start, end, parent) that also holds
the Spark counters read at its two boundaries (``probes.SparkStatus``).
Boundary reads happen outside the span's clock. Spans stay in memory and
are returned with the metrics when the run ends. End-to-end metrics never
come from this run; it reports its own overhead as the traced full
``semantify`` over the untraced calls made just before and after it.

Parse and compile are measured first, in the fresh JVM with empty memos
(what ``cold_kg_s`` pays); every other layer after the cold ``semantify``
and the discarded warm-up calls (what ``kg_s`` pays).
"""

from __future__ import annotations

import contextlib
import os
import re
import time

from probes import Py4jCounter, SparkStatus
from worker import DISCARD, median_or_none

# Spark runtime counters of the traced warm semantify
RUNTIME = ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
           "gc_s", "spill_bytes", "max_task_s")
JOIN_RE = re.compile(r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
                     r"BroadcastNestedLoopJoin|CartesianProduct")


class Tracer:
    def __init__(self, status: SparkStatus) -> None:
        self.status = status
        self.t0 = time.monotonic()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self._marks: dict[int, tuple] = {}

    def begin(self, name: str) -> dict:
        rec = {"id": len(self.spans), "name": name,
               "parent": self.stack[-1] if self.stack else None}
        self.spans.append(rec)
        self._marks[rec["id"]] = self.status.snapshot()
        self.stack.append(rec["id"])
        rec["start"] = time.monotonic() - self.t0
        return rec

    def end(self, rec: dict) -> dict:
        rec["end"] = time.monotonic() - self.t0
        rec["wall_s"] = rec["end"] - rec["start"]
        self.stack.remove(rec["id"])
        rec["spark"] = self.status.since(self._marks.pop(rec["id"]))
        return rec

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self.begin(name)
        try:
            yield rec
        finally:
            self.end(rec)


def _noop(df) -> int:
    """Execute ``df`` without writing it; returns its row count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("n")) \
        .write.format("noop").mode("overwrite").save()
    return rows.get["n"]


def _plan_shape(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"plan_scans": plan.count("FileScan"),
            "plan_exchanges": len(re.findall(r"\bExchange\b|BroadcastExchange",
                                             plan)),
            "plan_joins": len(JOIN_RE.findall(plan))}


def run_traced(args, spark, setup_s, session_s, op) -> dict:
    from sdm_rdfizer_spark import rml_parser, sinks, sources, turtle
    from sdm_rdfizer_spark.compiler.plan import MappingPlanner
    from sdm_rdfizer_spark.config import load_config
    from sdm_rdfizer_spark.engine import materialize

    cfg = load_config(op.config)
    mapping_path = cfg.datasets[0].mapping_path
    base_dir = os.path.dirname(mapping_path)
    with open(mapping_path, encoding="utf-8") as f:
        text = f.read()
    opts = dict(remove_duplicates=cfg.remove_duplicates,
                infer_datatypes=cfg.infer_datatypes,
                input_dedup=cfg.input_dedup,
                missing_policy=cfg.missing_policy,
                validate_csv=cfg.validate_csv,
                gather_row_order=cfg.gather_row_order,
                dedup_scope=cfg.dedup_scope,
                dedup_elision=cfg.dedup_elision)
    tr = Tracer(SparkStatus(spark))
    tr.spans.append({"id": 0, "name": "session", "parent": None,
                     "start": -session_s, "end": 0.0, "wall_s": session_s})

    def parse_compile(tag: str):
        with tr.span(f"{tag}.parse") as parse:
            g = turtle.parse(text)
            tms = rml_parser.extract_triples_maps(g, base_dir)
        with tr.span(f"{tag}.compile") as comp, Py4jCounter(spark) as calls:
            df = MappingPlanner(spark, tms, base=g.base, **opts).compile_all()
        comp["py4j_calls"] = calls.calls
        return tms, df, parse, comp

    with tr.span("cold"):
        tms, _, cold_parse, cold_compile = parse_compile("cold")
    # the first semantify (cold) and the discarded warm-up are untraced
    for _ in range(1 + DISCARD):
        op.run()

    with tr.span("warm"):
        _, df, _, warm_compile = parse_compile("warm")
        shape = _plan_shape(df)
        srcs = {tm.source.cache_key(): tm.source for tm in tms}
        # each layer call runs once untimed first, so that its own plan's
        # code generation is not charged to the layer
        scans = [sources.read_source(spark, ls) for ls in srcs.values()]
        for d in scans:
            _noop(d)
        with tr.span("scan") as scan:
            for d in scans:
                _noop(d)
        raw = materialize(spark, text, base_dir=base_dir,
                          **{**opts, "remove_duplicates": False})
        _noop(raw)
        with tr.span("terms_joins") as rows:
            raw_triples = _noop(raw)
        final = materialize(spark, text, base_dir=base_dir, **opts)
        _noop(final)
        with tr.span("terms_joins_dedup") as dedup:
            kept = _noop(final)
        pinned = final.localCheckpoint()
        out = os.path.join(args.input_dir, "out", "sink.nt")
        sinks.write_ntriples(pinned, out, single_file=True)
        with tr.span("sink") as sink:
            sinks.write_ntriples(pinned, out, single_file=True)
        output_bytes = os.path.getsize(out)
        pinned.unpersist()
        os.remove(out)

    # the traced semantify between two untraced ones; the warm-up trend
    # is still falling, so it is compared with their mean
    recs: dict[str, dict] = {}
    before = op.run()
    op.run(lambda: recs.__setitem__("kg", tr.begin("semantify")),
           lambda: tr.end(recs["kg"]))
    after = op.run()
    untraced = median_or_none([before, after])
    # a failed call is counted by ``op``; what it would have given is None
    kg = recs.get("kg", {})
    runtime = dict.fromkeys(RUNTIME + ("core_util",))
    if "spark" in kg:
        runtime.update({k: kg["spark"][k] for k in RUNTIME})
        runtime["core_util"] = (kg["spark"]["executor_run_s"]
                                / (kg["wall_s"] * args.cores))
    traced = kg.get("wall_s")
    return {
        "session_s": session_s,
        "parse_s": cold_parse["wall_s"],
        "triples_maps": len(tms),
        "compile_s": cold_compile["wall_s"],
        "compile_py4j_calls": cold_compile["py4j_calls"],
        "compile_jobs": warm_compile["spark"]["jobs"],
        **shape,
        "scan_s": scan["wall_s"],
        "scan_tasks": scan["spark"]["tasks"],
        "scan_input_bytes": rows["spark"]["input_bytes"],
        "source_bytes": sum(sources.source_bytes(ls.source)
                            for ls in srcs.values()),
        "rows_s": rows["wall_s"],
        "raw_triples": raw_triples,
        "join_shuffle_bytes": rows["spark"]["shuffle_bytes"],
        "dedup_s": dedup["wall_s"] - rows["wall_s"],
        "dedup_shuffle_bytes": (dedup["spark"]["shuffle_bytes"]
                                - rows["spark"]["shuffle_bytes"]),
        "dedup_kept_ratio": kept / raw_triples,
        "sink_s": sink["wall_s"],
        "sink_tasks": sink["spark"]["tasks"],
        "output_bytes": output_bytes,
        **runtime,
        "trace_overhead": (traced / untraced
                           if traced is not None and untraced is not None
                           else None),
        "setup_s": setup_s,
        "untraced_kg_s": untraced,
        "traced_kg_s": traced,
        "spans": tr.spans,
    }
