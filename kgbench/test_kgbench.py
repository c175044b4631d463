"""Tests of the benchmark itself: ``python3 -m pytest kgbench``.

The checker must accept the expected output and refuse a corrupted one;
the smoke mode runs every workload end to end on small inputs.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

import pytest

import probes
import run
import worker
from check import Checker
from workloads import SIZES, WORKLOADS, generate

HERE = os.path.dirname(os.path.abspath(__file__))


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(line + "\n" for line in lines)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_checker_accepts_expected_and_catches_corruption(tmp_path, workload):
    d, rows = generate(workload, "smoke", 7, str(tmp_path))
    checker = Checker(workload, d, rows)
    try:
        lines = [r[0] for r in checker.con.execute(
            "SELECT line FROM expected ORDER BY hash(line)").fetchall()]
        assert len(lines) == checker.count
        good = str(tmp_path / "good.nt")
        _write_lines(good, lines)
        assert checker.check(good) == []

        # one line dropped and another duplicated: same line count
        bad = str(tmp_path / "bad.nt")
        _write_lines(bad, lines[1:] + [lines[2]])
        problems = checker.check(bad)
        assert any("duplicate" in p for p in problems)
        assert any("missing" in p for p in problems)

        # one literal altered
        _write_lines(bad, [lines[0].replace('"v', '"w', 1)] + lines[1:])
        assert checker.check(bad) != []

        _write_lines(bad, lines[1:])
        assert checker.check(bad) != []
        assert checker.check(str(tmp_path / "absent.nt")) != []
    finally:
        checker.close()


def test_inputs_depend_only_on_seed(tmp_path):
    a, _ = generate("joins_dups", "smoke", 3, str(tmp_path / "a"))
    b, _ = generate("joins_dups", "smoke", 3, str(tmp_path / "b"))
    c, _ = generate("joins_dups", "smoke", 4, str(tmp_path / "c"))
    read = lambda d: open(f"{d}/child.csv", encoding="utf-8").read()  # noqa
    assert read(a) == read(b) != read(c)


@pytest.mark.parametrize("scale", sorted(SIZES))
def test_closed_form_matches_duckdb(tmp_path, scale):
    for workload in WORKLOADS:
        d, rows = generate(workload, scale, 11, str(tmp_path))
        Checker(workload, d, rows).close()   # raises on a mismatch


class _NeverRight:
    """Checker stand-in that refuses every output file."""

    def check(self, nt_path):
        return ["wrong"]


@pytest.mark.parametrize("failure", ["raises", "wrong_file"])
def test_failing_calls_are_counted_not_fatal(monkeypatch, tmp_path, failure):
    # no JVM: the probes read this process instead of Spark's
    monkeypatch.setattr(probes, "jvm_pid", lambda spark: os.getpid())
    op = worker.Op.__new__(worker.Op)
    op.nt_path = str(tmp_path / "kg.nt")
    op.checker = _NeverRight()
    op.attempted = op.failed = 0
    op.wrong = []

    def call():
        if failure == "raises":
            raise RuntimeError("semantify broke")
        open(op.nt_path, "w").close()

    op.call = call
    res = worker.run_untraced(argparse.Namespace(seconds=0), None, 1.5, op)
    res.update(attempted=op.attempted, failed=op.failed, wrong=op.wrong)
    calls = 1 + worker.DISCARD + worker.MIN_COUNTED
    assert (res["attempted"], res["failed"]) == (calls, calls)
    assert res["cold_kg_s"] is res["kg_s"] is res["cpu_s"] is None

    line = run.result_line(res, "end_to_end")
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (calls, calls)
    assert line["metrics"]["setup_s"]["value"] == 1.5
    assert line["metrics"]["kg_s"]["value"] is None


def test_smoke_runs_every_workload():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600)
    assert out.returncode == 0, out.stdout
    assert out.stdout.count('"correct": true') == len(WORKLOADS)
