"""End-to-end: CSV sources + template subjects + class + join.

Mirrors the shape of the reference's own smoke example
(reference: example/mapping.ttl — two CSVs, template subjects, rr:class,
one parent-triples-map join) with our own fixture data.
"""

import textwrap

import pytest

from sdm_rdfizer_spark import materialize
from tests.conftest import triple_set


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csv_fixtures")
    (d / "child.csv").write_text(
        "tid,kind\n"
        "T1,coding\n"
        "T1,coding\n"          # exact duplicate row → dedup
        "T2,lnc\n"
        "T3,\n"                # empty kind → no kind triple
        "T4,N/A\n"             # NULL-marker → dropped
        ",orphan\n"            # empty tid → subject invalid, row dropped
    )
    (d / "parent.csv").write_text(
        "code,chrom\n"
        "T1,chr1\n"
        "T2,chr2\n"
        "T9,chrX\n"            # unmatched parent
    )
    return d


MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://example.com/vocab/> .

<#Child> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{d}/child.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://example.com/t/{{tid}}"; rr:class ex:Transcript ];
  rr:predicateObjectMap [ rr:predicate ex:kind; rr:objectMap [ rml:reference "kind" ] ];
  rr:predicateObjectMap [
    rr:predicate ex:locatedOn;
    rr:objectMap [ rr:parentTriplesMap <#Parent>;
                   rr:joinCondition [ rr:child "tid"; rr:parent "code" ] ] ] .

<#Parent> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{d}/parent.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://example.com/chr/{{chrom}}"; rr:class ex:Chromosome ] .
"""


def test_end_to_end_join(spark, fixture_dir):
    triples = materialize(spark, MAPPING.format(d=fixture_dir))
    got = triple_set(triples)

    t = "http://example.com/t/"
    c = "http://example.com/chr/"
    v = "http://example.com/vocab/"
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    # classes for all valid child subjects (T4 has valid tid → class triple)
    for tid in ("T1", "T2", "T3", "T4"):
        assert (f"<{t}{tid}>", rdf_type, f"<{v}Transcript>") in got
    # no subject for the empty-tid row
    assert not any(s == f"<{t}>" for s, _, _ in got)

    # kind literals: T1 deduped to one triple; T3 empty and T4 N/A dropped
    kinds = {(s, o) for s, p, o in got if p == f"<{v}kind>"}
    assert kinds == {(f"<{t}T1>", '"coding"'), (f"<{t}T2>", '"lnc"')}

    # join: T1→chr1, T2→chr2; T9 parent unmatched; T3/T4 have no parent
    located = {(s, o) for s, p, o in got if p == f"<{v}locatedOn>"}
    assert located == {
        (f"<{t}T1>", f"<{c}chr1>"),
        (f"<{t}T2>", f"<{c}chr2>"),
    }

    # parent classes exist for all parent rows (including unmatched T9)
    assert (f"<{c}chrX>", rdf_type, f"<{v}Chromosome>") in got

    # global dedup: no duplicate rows at all
    rows = triples.select("s", "p", "o").collect()
    assert len(rows) == len(set((r["s"], r["p"], r["o"]) for r in rows))


def test_null_markers_dropped(spark, tmp_path):
    (tmp_path / "vals.csv").write_text(
        "id,v\n1,ok\n2,nan\n3,NULL\n4,None\n5,   \n6,N/A\n"
    )
    mapping = textwrap.dedent(f"""
        @prefix rr: <http://www.w3.org/ns/r2rml#> .
        @prefix rml: <http://semweb.mmlab.be/ns/rml#> .
        @prefix ql: <http://semweb.mmlab.be/ns/ql#> .
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/vals.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/e/{{id}}" ];
          rr:predicateObjectMap [ rr:predicate <http://x.org/v>; rr:objectMap [ rml:reference "v" ] ] .
    """)
    got = triple_set(materialize(spark, mapping))
    assert got == {("<http://x.org/e/1>", "<http://x.org/v>", '"ok"')}


def test_template_encoding_and_quotes(spark, tmp_path):
    (tmp_path / "enc.csv").write_text(
        'id,name\n'
        'a b,He said "hi"\n'
        'x/y,plain\n'
    )
    mapping = textwrap.dedent(f"""
        @prefix rr: <http://www.w3.org/ns/r2rml#> .
        @prefix rml: <http://semweb.mmlab.be/ns/rml#> .
        @prefix ql: <http://semweb.mmlab.be/ns/ql#> .
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/enc.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/e/{{id}}" ];
          rr:predicateObjectMap [ rr:predicate <http://x.org/name>; rr:objectMap [ rml:reference "name" ] ] .
    """)
    got = triple_set(materialize(spark, mapping))
    # space → %20, '/' → %2F (reference encode_char: quote(safe='_-.~:@=+%'))
    assert ("<http://x.org/e/a%20b>", "<http://x.org/name>", "\"He said 'hi'\"") in got
    assert ("<http://x.org/e/x%2Fy>", "<http://x.org/name>", '"plain"') in got


def test_materialize_incremental_emits_only_delta(spark, tmp_path):
    """Incremental runs append only novel triples to the parquet state
    (reference hash_update analogue as a left_anti join)."""
    from sdm_rdfizer_spark import materialize_incremental

    src = tmp_path / "d.csv"
    state = str(tmp_path / "state")
    m = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://x.org/> .
<#M> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{src}"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://x.org/{{id}}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rml:reference "v" ] ] .
"""
    src.write_text("id,v\n1,a\n2,b\n")
    first = materialize_incremental(spark, m, state)
    assert first.count() == 2

    # source grows by one row; rerun emits only the delta
    src.write_text("id,v\n1,a\n2,b\n3,c\n")
    second = materialize_incremental(spark, m, state)
    got = {(r["s"], r["o"]) for r in second.collect()}
    assert got == {("<http://x.org/3>", '"c"')}
    # state is the duplicate-free union
    assert spark.read.parquet(state).distinct().count() == 3
    assert spark.read.parquet(state).count() == 3

    # unchanged source: delta is empty, state untouched
    third = materialize_incremental(spark, m, state)
    assert third.count() == 0
    assert spark.read.parquet(state).count() == 3


def test_multi_dataset_all_in_one_file(spark, tmp_path):
    """number_of_datasets=2 + all_in_one_file: union of both datasets,
    cross-dataset duplicates collapsed, one output.nt. With
    dedup_scope=spo or reference the merge collapses the same triple
    across graphs, as each dataset's own dedup does."""
    from sdm_rdfizer_spark import semantify

    for scope, graphs in (("spog", ("", "")),
                          ("spo", ("; rr:graph ex:g1", "; rr:graph ex:g2")),
                          ("reference",
                           ("; rr:graph ex:g1", "; rr:graph ex:g2"))):
        d = tmp_path / scope
        d.mkdir()
        (d / "a.csv").write_text("id,v\n1,x\n")
        (d / "b.csv").write_text("id,v\n1,x\n2,y\n")  # row 1 duplicates ds1
        for name, src, graph in (("m1.ttl", "a.csv", graphs[0]),
                                 ("m2.ttl", "b.csv", graphs[1])):
            (d / name).write_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://x.org/> .
<#M> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{d}/{src}"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://x.org/{{id}}"{graph} ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rml:reference "v" ] ] .
""")
        cfg = d / "config.ini"
        cfg.write_text(f"""[datasets]
number_of_datasets: 2
output_folder: {d}/out
all_in_one_file: yes
remove_duplicate: yes
dedup_scope: {scope}
name: combined

[dataset1]
name: d1
mapping: {d}/m1.ttl

[dataset2]
name: d2
mapping: {d}/m2.ttl
""")
        results = semantify(str(cfg), spark)
        assert set(results) == {"d1", "d2"}
        out = (d / "out" / "output.nt").read_text().splitlines()
        if scope == "spog":
            assert sorted(out) == [
                '<http://x.org/1> <http://x.org/v> "x" .',
                '<http://x.org/2> <http://x.org/v> "y" .',
            ]
        else:
            # which graph the collapsed triple keeps is arbitrary
            assert len(out) == 2, out
            assert sum(line.startswith('<http://x.org/1> <http://x.org/v> "x" ')
                       for line in out) == 1, out
            assert '<http://x.org/2> <http://x.org/v> "y" <http://x.org/g2> .' \
                in out


def test_glob_csv_source_reads_all_shards(spark, tmp_path):
    """rml:source with a glob unions every shard — production inputs
    are sharded; one logical source maps to N files."""
    from conftest import triple_set

    from sdm_rdfizer_spark import materialize

    (tmp_path / "part1.csv").write_text("id,v\n1,a\n")
    (tmp_path / "part2.csv").write_text("id,v\n2,b\n")
    m = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://x.org/> .
<#M> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{tmp_path}/part*.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://x.org/{{id}}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rml:reference "v" ] ] .
"""
    got = triple_set(materialize(spark, m))
    assert got == {
        ("<http://x.org/1>", "<http://x.org/v>", '"a"'),
        ("<http://x.org/2>", "<http://x.org/v>", '"b"'),
    }
