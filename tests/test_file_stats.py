"""The one input-sizing rule: ``sources.file_stats`` lists a source's
files, and every size gate (``source_bytes``), partition count
(``partitions_for``) and compile memo key (``file_memo``) reads that
listing."""

import ast
import os
import pathlib
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sdm_rdfizer_spark import sources
from sdm_rdfizer_spark.compiler.plan import MappingPlanner
from sdm_rdfizer_spark.ir import LogicalSource
from sdm_rdfizer_spark.sources import (
    file_stats, partitions_for, read_source, source_bytes)


@pytest.mark.parametrize("source", [
    "s3a://x/y.parquet",
    "hdfs://nn/y",
    "http://example.invalid/never-staged.csv",
    "/nonexistent/dir/data.csv",
])
def test_unlistable_source_sizes_to_core_count(spark, source):
    assert file_stats(source) is None
    assert source_bytes(source) is None
    par = spark.sparkContext.defaultParallelism
    assert partitions_for(spark, source_bytes(source), 128 << 10) == par
    assert partitions_for(spark, None, 64 << 20, cap=4 * par) == par


def test_partitions_for_known_sizes(spark):
    par = spark.sparkContext.defaultParallelism
    assert partitions_for(spark, 0, 128 << 10) == 1
    assert partitions_for(spark, 3 * (128 << 10), 128 << 10) == min(4, par)
    assert partitions_for(spark, 1 << 40, 128 << 10) == par
    assert partitions_for(spark, 0, 32 << 20, floor=par, cap=4 * par) == par
    assert partitions_for(spark, 1 << 40, 32 << 20, cap=4 * par) == 4 * par


def test_file_url_sizes_like_its_path(tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("a,b\n1,2\n")
    assert source_bytes("file://" + str(p)) == source_bytes(str(p)) \
        == p.stat().st_size
    assert file_stats("file://" + str(p)) == file_stats(str(p))


def test_partitioned_dir_counts_data_files_only(tmp_path):
    part = tmp_path / "k=1"
    part.mkdir()
    pq.write_table(pa.table({"id": [1, 2, 3]}), part / "part-0.parquet")
    (tmp_path / "_SUCCESS").write_text("")
    (part / ".part-0.crc").write_bytes(b"\0" * 16)
    stats = file_stats(str(tmp_path))
    assert [p for p, _, _ in stats] == [str(part / "part-0.parquet")]
    assert source_bytes(str(tmp_path)) \
        == (part / "part-0.parquet").stat().st_size
    assert sources._row_group_stats(stats) == (1, 3)


def test_empty_dir_sizes_to_zero(tmp_path):
    assert file_stats(str(tmp_path)) == ()
    assert source_bytes(str(tmp_path)) == 0


def test_glob_sums_its_matches(tmp_path):
    sizes = []
    for i, body in enumerate(["a\n1\n", "a\n22\n", "a\n333\n"]):
        (tmp_path / f"shard{i}.csv").write_text(body)
        sizes.append(len(body))
    (tmp_path / "other.txt").write_text("not matched")
    assert source_bytes(str(tmp_path / "shard*.csv")) == sum(sizes)
    # a matched directory counts the files under it
    (tmp_path / "shard9.csv").mkdir()
    (tmp_path / "shard9.csv" / "part-0.csv").write_text("a\n4444\n")
    assert source_bytes(str(tmp_path / "shard*.csv")) == sum(sizes) + 7
    assert source_bytes(str(tmp_path / "none*.csv")) is None


def test_touched_csv_reprobes_header(spark, tmp_path):
    """A CSV rewritten in place with a new header of the same length
    gets its new columns on the next read, once its mtime moves."""
    p = tmp_path / "people.csv"
    p.write_text("ab,cd\n1,2\n")
    ls = LogicalSource(source=str(p), fmt="csv")
    assert read_source(spark, ls).columns == ["ab", "cd"]
    st = p.stat()
    p.write_text("xy,zw\n1,2\n")
    os.utime(p, (st.st_atime, st.st_mtime + 1))
    df = read_source(spark, ls)
    assert df.columns == ["xy", "zw"]
    assert [tuple(r) for r in df.collect()] == [("1", "2")]


def test_touched_parquet_parent_reprobes_raw_keys(tmp_path, monkeypatch):
    """The raw join-key probe is memoized on the parent's listing: an
    untouched parent answers from the memo, a touched one probes again."""
    p = tmp_path / "parent.parquet"
    pq.write_table(pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"]}), p)
    parent = SimpleNamespace(
        source=LogicalSource(source=str(p), fmt="parquet"))
    calls = []
    uncached = MappingPlanner._raw_key_unique_uncached

    def counting(self, parent_tm, parent_keys):
        calls.append(parent_keys)
        return uncached(self, parent_tm, parent_keys)

    monkeypatch.setattr(MappingPlanner, "_raw_key_unique_uncached", counting)
    planner = MappingPlanner.__new__(MappingPlanner)
    assert planner._raw_key_unique(parent, ("id",)) is True
    assert planner._raw_key_unique(parent, ("id",)) is True
    assert len(calls) == 1
    st = p.stat()
    os.utime(p, (st.st_atime, st.st_mtime + 1))
    assert planner._raw_key_unique(parent, ("id",)) is True
    assert len(calls) == 2


_LISTING_CALLS = {"os.stat", "os.path.getsize", "os.walk", "os.listdir",
                  "glob.glob"}


def _listing_calls(tree: ast.AST) -> list[str]:
    """Dotted names of the listing calls in ``tree``, import aliases
    (``import glob as _glob``, ``from os import walk``) resolved."""
    alias: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                alias[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                alias[a.asname or a.name] = f"{node.module}.{a.name}"
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        parts, f = [], node.func
        while isinstance(f, ast.Attribute):
            parts.append(f.attr)
            f = f.value
        if not isinstance(f, ast.Name):
            continue
        name = ".".join([alias.get(f.id, f.id), *reversed(parts)])
        if name in _LISTING_CALLS:
            found.append(f"{name} (line {node.lineno})")
    return found


def test_compiler_and_streaming_list_files_only_through_sources():
    pkg = pathlib.Path(sources.__file__).parent
    offenders = {}
    for sub in ("compiler", "streaming"):
        for path in sorted((pkg / sub).rglob("*.py")):
            calls = _listing_calls(ast.parse(path.read_text()))
            if calls:
                offenders[str(path.relative_to(pkg))] = calls
    assert not offenders, offenders


def test_listing_guard_sees_aliased_calls():
    src = ("import glob as _glob\nimport os\nfrom os import walk\n"
           "_glob.glob('x')\nos.path.getsize('x')\nwalk('.')\n")
    assert len(_listing_calls(ast.parse(src))) == 3
