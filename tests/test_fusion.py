"""Logical-source fusion: the single-pass TriplesMaps that share a source
compile into one scan and one explode (MappingPlanner.compile_all).
Equivalence is checked against each TriplesMap materialized alone in its
own mapping document, where no fusion applies."""

import itertools
import os
from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st

from sdm_rdfizer_spark import materialize

PREFIXES = """@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://ex.org/> .
"""

SUBJECTS = ("http://ex.org/r/{id}", "http://ex.org/r/{a}",
            "http://ex.org/s/{id}")
OBJECTS = (
    '[ rml:reference "a" ]',
    '[ rml:reference "b"; rr:datatype xsd:integer ]',
    '[ rml:reference "b"; rr:language "en" ]',
    '[ rml:reference "a"; rml:languageMap [ rml:reference "lang" ] ]',
    '[ rml:reference "b"; rml:datatypeMap [ rr:template '
    '"http://ex.org/dt/{lang}" ] ]',
    '[ rr:template "http://ex.org/o/{b}" ]',
    '[ rr:constant "k" ]',
    '[ rr:constant ex:K ]',
)
VALUES = ("1", "2", "x", "", "en", "a b")

_row = st.tuples(*[st.sampled_from(VALUES) for _ in range(3)],
                 st.sampled_from(("en", "de", "")))
_pom = st.tuples(st.sampled_from(("p1", "p2", "p3")),
                 st.sampled_from(OBJECTS))
_tm = st.tuples(st.sampled_from(SUBJECTS),
                st.sampled_from((None, "C1", "C2")),
                st.lists(_pom, min_size=0, max_size=2))

_counter = itertools.count()


def _tm_ttl(i, src, subject, cls, poms):
    body = "".join(f"  rr:predicateObjectMap [ rr:predicate ex:{p}; "
                   f"rr:objectMap {o} ];\n" for p, o in poms)
    cls_ttl = f"; rr:class ex:{cls}" if cls else ""
    return (f"<#T{i}> a rr:TriplesMap;\n"
            f"  rml:logicalSource [ rml:source \"{src}\"; "
            f"rml:referenceFormulation ql:CSV ];\n{body}"
            f"  rr:subjectMap [ rr:template \"{subject}\"{cls_ttl} ] .\n")


def _triples(spark, mapping, rd):
    df = materialize(spark, mapping, remove_duplicates=rd)
    return Counter(tuple(r) for r in df.select("s", "p", "o", "g").collect())


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return tmp_path_factory.mktemp("fusion")


@pytest.mark.parametrize("rd", [True, False])
@settings(max_examples=6, deadline=None)
@given(rows=st.lists(_row, min_size=1, max_size=6),
       dup=st.booleans(),
       tms=st.lists(_tm, min_size=2, max_size=4))
def test_fused_mapping_equals_union_of_single_tm_mappings(
        spark, workdir, rd, rows, dup, tms):
    if dup:
        rows = rows + rows[:2]       # exact duplicate rows
    src = os.path.join(workdir, f"d{next(_counter)}.csv")
    with open(src, "w", encoding="utf-8") as f:
        f.write("id,a,b,lang\n")
        for r in rows:
            f.write(",".join(r) + "\n")
    ttls = [_tm_ttl(i, src, *tm) for i, tm in enumerate(tms)]
    fused = _triples(spark, PREFIXES + "".join(ttls), rd)
    alone = Counter()
    for ttl in ttls:
        alone += _triples(spark, PREFIXES + ttl, rd)
    if rd:
        # the full mapping dedups across TMs; each alone only within it
        assert set(fused) == set(alone)
        assert all(n == 1 for n in fused.values())
    else:
        assert fused == alone


def test_json_reader_count_does_not_download(spark, tmp_path, monkeypatch):
    """Counting the readers of a JSON document compares staged paths: it
    must not download (or fail on) another TriplesMap's remote source."""
    import urllib.request

    from sdm_rdfizer_spark.compiler.plan import MappingPlanner
    from sdm_rdfizer_spark.rml_parser import parse_mapping

    def no_download(*a, **k):
        raise AssertionError("planning downloaded a source")

    monkeypatch.setattr(urllib.request, "urlretrieve", no_download)
    (tmp_path / "d.json").write_text('[{"id": 1}, {"id": 2}]')
    m = PREFIXES + f"""
<#Local> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{tmp_path}/d.json";
    rml:referenceFormulation ql:JSONPath; rml:iterator "$[*]" ];
  rr:subjectMap [ rr:template "http://ex.org/l/{{id}}"; rr:class ex:L ] .
<#Remote> a rr:TriplesMap;
  rml:logicalSource [ rml:source "http://unreachable.invalid/d.json";
    rml:referenceFormulation ql:JSONPath; rml:iterator "$[*]" ];
  rr:subjectMap [ rr:template "http://ex.org/r/{{id}}"; rr:class ex:R ] .
"""
    tms = {tm.tm_id.rsplit("#", 1)[-1]: tm for tm in parse_mapping(m)}
    planner = MappingPlanner(spark, list(tms.values()))
    df = planner.compile_tm(tms["Local"])
    assert df.count() == 2


def test_fused_json_pass_skips_checkpoint(spark, tmp_path):
    """Two TriplesMaps over one JSON document fuse into one reader, so
    the document is scanned once and not eagerly checkpointed. Over a
    flat JSONL file, two TriplesMaps with different dedup verdicts (a
    unique subject key: no distinct; a repeated one: its own distinct)
    are two passes, so the file is parsed at most once (checkpointed),
    not once per pass."""
    (tmp_path / "d.json").write_text('[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]')
    src = f'[ rml:source "{tmp_path}/d.json"; ' \
          'rml:referenceFormulation ql:JSONPath; rml:iterator "$[*]" ]'
    m = PREFIXES + "".join(
        f"""<#T{k}> a rr:TriplesMap; rml:logicalSource {src};
  rr:predicateObjectMap [ rr:predicate ex:p{k};
    rr:objectMap [ rml:reference "v" ] ];
  rr:subjectMap [ rr:template "http://ex.org/r/{{id}}" ] .
""" for k in (1, 2))
    df = materialize(spark, m)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan json") == 1, plan
    assert "ExistingRDD" not in plan, plan
    assert df.count() == 4

    (tmp_path / "d.jsonl").write_text(
        '{"id": 1, "v": "a"}\n{"id": 2, "v": "a"}\n{"id": 3, "v": "b"}\n')
    src = f'[ rml:source "{tmp_path}/d.jsonl"; ' \
          'rml:referenceFormulation ql:JSONPath; rml:iterator "$" ]'
    m = PREFIXES + f"""
<#U> a rr:TriplesMap; rml:logicalSource {src};
  rr:predicateObjectMap [ rr:predicate ex:pu; rr:objectMap [ rml:reference "v" ] ];
  rr:subjectMap [ rr:template "http://ex.org/r/{{id}}" ] .
<#V> a rr:TriplesMap; rml:logicalSource {src};
  rr:predicateObjectMap [ rr:predicate ex:pv; rr:objectMap [ rml:reference "id" ] ];
  rr:subjectMap [ rr:template "http://ex.org/v/{{v}}" ] .
"""
    df = materialize(spark, m)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan json") <= 1, plan
    got = Counter(tuple(r) for r in df.collect())
    assert got == Counter(tuple(r) for r in
                          materialize(spark, m, dedup_elision=False).collect())
    assert len(got) == 6
