"""Seeded KGCW-shaped inputs, their RML mappings and their expected output.

Every CSV is generated by DuckDB from ``range()``; the seed only moves
values and row order, so the triple counts have a closed form that does
not depend on it. The expected N-Triples lines are computed by DuckDB
from the generated CSVs by the RML rules the mappings use (template IRIs,
plain literals, empty values dropped, inner join, duplicates removed),
never from a stored copy of the program's output.
"""

from __future__ import annotations

import os
import shutil

import duckdb

EX = "http://example.com/"
WORKLOADS = ("joins_dups", "mapping_shape")

# rows per workload (joins_dups: unique child rows); "smoke" is the quick
# end-to-end mode
SIZES = {
    "full": {"joins_dups": 10_000, "mapping_shape": 10_000},
    "smoke": {"joins_dups": 2_000, "mapping_shape": 1_000},
}
RECORD_COLS = 20      # KGCW records-track CSV: an id and 20 value columns
SHAPE_TMS = 15        # KGCW mapping-shape track: 15 TM x 1 POM
CHILD_COLS = 4        # literal columns of the joins_dups child
PARENTS_PER_KEY = 4   # 1-N: each matched child joins 4 parents

PREFIXES = """@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://example.com/> .
"""


def _value(idx: str, col: int, seed: int) -> str:
    # 'v' prefix: never numeric (no float canonicalization), never NULL-ish
    return f"'v' || (hash({idx}, {col}, {seed}) % 1000000000)::VARCHAR"


def _write_wide_csv(con, path: str, rows: int, seed: int) -> None:
    cols = ", ".join(f"{_value('i', k, seed)} AS p{k}"
                     for k in range(1, RECORD_COLS + 1))
    con.execute(f"COPY (SELECT i AS id, {cols} FROM range({rows}) t(i) "
                f"ORDER BY hash(i, {seed})) TO '{path}' (HEADER)")


def _joins_params(unique: int) -> tuple[int, int]:
    keys = unique // 20
    # child keys cycle over 1.25x the parent keys, so exactly 80% match
    if unique % 10 or unique % (keys * 5 // 4):
        raise ValueError(f"joins_dups size {unique} breaks the closed form")
    return keys, keys * 5 // 4


def _write_joins_csvs(con, d: str, unique: int, seed: int) -> None:
    keys, domain = _joins_params(unique)
    # every unique child row appears twice (50% exact duplicates); column
    # a<k> is empty on exactly one row in ten
    cols = ", ".join(
        f"CASE WHEN (u + {3 * k}) % 10 = 0 THEN NULL "
        f"ELSE {_value('u', k, seed)} END AS a{k}"
        for k in range(1, CHILD_COLS + 1))
    con.execute(
        f"COPY (SELECT u AS id, (u + {seed}) % {domain} AS pkey, {cols} "
        f"FROM (SELECT r % {unique} AS u, r FROM range({2 * unique}) t(r)) "
        f"ORDER BY hash(r, {seed})) TO '{d}/child.csv' (HEADER)")
    con.execute(
        f"COPY (SELECT pid, pid % {keys} AS pkey, "
        f"'n' || (hash(pid, {seed}) % 1000000000)::VARCHAR AS name "
        f"FROM range({keys * PARENTS_PER_KEY}) t(pid) "
        f"ORDER BY hash(pid, {seed} + 1)) TO '{d}/parent.csv' (HEADER)")


def _tm(name: str, src: str, subject: str, poms: list[str]) -> str:
    body = "".join(f"  rr:predicateObjectMap {p};\n" for p in poms)
    return (f"<#{name}> a rr:TriplesMap;\n"
            f"  rml:logicalSource [ rml:source \"{src}\"; "
            f"rml:referenceFormulation ql:CSV ];\n"
            f"{body}"
            f"  rr:subjectMap [ rr:template \"{EX}{subject}\" ] .\n")


def _ref_pom(pred: str, col: str) -> str:
    return f"[ rr:predicate ex:{pred}; rr:objectMap [ rml:reference \"{col}\" ] ]"


def mapping(workload: str, d: str) -> str:
    if workload == "mapping_shape":
        return PREFIXES + "".join(
            _tm(f"Shape{k}", f"{d}/records.csv", "r/{id}",
                [_ref_pom(f"p{k}", f"p{k}")])
            for k in range(1, SHAPE_TMS + 1))
    if workload == "joins_dups":
        join = ("[ rr:predicate ex:parent; rr:objectMap [ "
                "rr:parentTriplesMap <#Parent>; rr:joinCondition "
                "[ rr:child \"pkey\"; rr:parent \"pkey\" ] ] ]")
        return PREFIXES + _tm(
            "Child", f"{d}/child.csv", "c/{id}",
            [_ref_pom(f"a{k}", f"a{k}") for k in range(1, CHILD_COLS + 1)]
            + [join]) + _tm(
            "Parent", f"{d}/parent.csv", "p/{pid}", [_ref_pom("name", "name")])
    raise ValueError(f"unknown workload {workload!r}")


def expected_count(workload: str, rows: int) -> int:
    """Closed-form number of distinct triples."""
    if workload == "mapping_shape":
        return rows * SHAPE_TMS
    keys, _ = _joins_params(rows)
    literals = CHILD_COLS * rows * 9 // 10
    joined = rows * 4 // 5 * PARENTS_PER_KEY
    return literals + joined + keys * PARENTS_PER_KEY


def source_tables(workload: str) -> list[str]:
    """The CSV files (and DuckDB table names) a workload reads."""
    return ["child", "parent"] if workload == "joins_dups" else ["records"]


def _lit_line(subj: str, table: str, pred: str, col: str,
              key: str = "id") -> str:
    return (f"SELECT '<{EX}{subj}/' || {key} || '> <{EX}{pred}> \"' || {col} "
            f"|| '\" .' AS line FROM {table} WHERE coalesce({col}, '') <> ''")


def expected_sql(workload: str) -> str:
    """DuckDB query yielding the expected N-Triples lines, one per row,
    over the tables named by ``source_tables`` (all columns VARCHAR)."""
    if workload == "mapping_shape":
        parts = [_lit_line("r", "records", f"p{k}", f"p{k}")
                 for k in range(1, SHAPE_TMS + 1)]
    else:
        parts = [_lit_line("c", "child", f"a{k}", f"a{k}")
                 for k in range(1, CHILD_COLS + 1)]
        parts.append(
            f"SELECT '<{EX}c/' || c.id || '> <{EX}parent> <{EX}p/' || p.pid "
            f"|| '> .' AS line FROM child c JOIN parent p ON c.pkey = p.pkey")
        parts.append(_lit_line("p", "parent", "name", "name", key="pid"))
    return "SELECT DISTINCT line FROM (" + " UNION ALL ".join(parts) + ")"


def write_config(d: str, out_dir: str) -> str:
    path = os.path.join(d, "config.ini")
    with open(path, "w", encoding="utf-8") as f:
        f.write("[datasets]\nnumber_of_datasets: 1\n"
                f"output_folder: {out_dir}\nremove_duplicate: yes\n"
                "all_in_one_file: no\noutput_format: n-triples\n"
                "[dataset1]\nname: kg\nmapping: mapping.ttl\n")
    return path


def generate(workload: str, scale: str, seed: int, root: str) -> tuple[str, int]:
    """Make (or reuse) the inputs of one (workload, scale, seed); returns
    the input directory and the row count."""
    rows = SIZES[scale][workload]
    d = os.path.abspath(os.path.join(root, f"{workload}-{rows}-s{seed}"))
    if os.path.exists(os.path.join(d, "DONE")):
        return d, rows
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    con = duckdb.connect()
    try:
        if workload == "joins_dups":
            _write_joins_csvs(con, d, rows, seed)
        else:
            _write_wide_csv(con, f"{d}/records.csv", rows, seed)
    finally:
        con.close()
    with open(os.path.join(d, "mapping.ttl"), "w", encoding="utf-8") as f:
        f.write(mapping(workload, d))
    open(os.path.join(d, "DONE"), "w").close()
    return d, rows
