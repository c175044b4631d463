"""FNML/FnO functions: registry builders, nested composition, conditions."""

import textwrap

from sdm_rdfizer_spark import materialize
from tests.conftest import triple_set

PFX = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix fnml: <http://semweb.mmlab.be/ns/fnml#> .
@prefix fno: <https://w3id.org/function/ontology#> .
@prefix grel: <http://users.ugent.be/~bjdmeest/function/grel.ttl#> .
@prefix ex: <http://x.org/> .
"""


def _write_people(tmp_path):
    (tmp_path / "people.csv").write_text(
        "pid,name,city\n"
        "1,Ada Lovelace,London\n"
        "2,Alan Turing,London\n"
        "3,Grace Hopper,NYC\n"
    )


def test_to_upper_legacy_fnml(spark, tmp_path):
    _write_people(tmp_path)
    m = PFX + textwrap.dedent(f"""
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{pid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:shout; rr:objectMap [
            fnml:functionValue [
              rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:toUpperCase ];
              rr:predicateObjectMap [ rr:predicate grel:valueParam; rr:objectMap [ rml:reference "name" ] ];
            ] ] ] .
    """)
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/p/1>", "<http://x.org/shout>", '"ADA LOVELACE"') in got
    assert ("<http://x.org/p/3>", "<http://x.org/shout>", '"GRACE HOPPER"') in got


def test_concat_and_md5(spark, tmp_path):
    _write_people(tmp_path)
    m = PFX + textwrap.dedent(f"""
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{pid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:tag; rr:objectMap [
            fnml:functionValue [
              rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:concat2 ];
              rr:predicateObjectMap [ rr:predicate grel:value1; rr:objectMap [ rml:reference "name" ] ];
              rr:predicateObjectMap [ rr:predicate grel:value2; rr:objectMap [ rr:constant "!" ] ];
            ] ] ];
          rr:predicateObjectMap [ rr:predicate ex:digest; rr:objectMap [
            fnml:functionValue [
              rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:string_md5 ];
              rr:predicateObjectMap [ rr:predicate grel:valueParameter; rr:objectMap [ rml:reference "city" ] ];
            ] ] ] .
    """)
    import hashlib

    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/p/1>", "<http://x.org/tag>", '"Ada Lovelace!"') in got
    london = hashlib.md5(b"London").hexdigest()
    assert ("<http://x.org/p/2>", "<http://x.org/digest>", f'"{london}"') in got


def test_nested_composition(spark, tmp_path):
    """toUpperCase(slugify(name)) — function parameter is another function
    (reference: mapping_functions.py:10-103)."""
    _write_people(tmp_path)
    m = PFX + textwrap.dedent(f"""
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{pid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:slug; rr:objectMap [
            fnml:functionValue [
              rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:toUpperCase ];
              rr:predicateObjectMap [ rr:predicate grel:valueParam; rr:objectMap [
                fnml:functionValue [
                  rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:slugify ];
                  rr:predicateObjectMap [ rr:predicate grel:str; rr:objectMap [ rml:reference "name" ] ];
                ] ] ];
            ] ] ] .
    """)
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/p/1>", "<http://x.org/slug>", '"ADA-LOVELACE"') in got


def test_equal_as_bool_term_and_condition(spark, tmp_path):
    _write_people(tmp_path)
    m = PFX + textwrap.dedent(f"""
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{pid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:isLondoner; rr:objectMap [
            fnml:functionValue [
              rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:equal ];
              rr:predicateObjectMap [ rr:predicate grel:valueParam; rr:objectMap [ rml:reference "city" ] ];
              rr:predicateObjectMap [ rr:predicate grel:valueParam2; rr:objectMap [ rr:constant "London" ] ];
            ] ] ] .
    """)
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/p/1>", "<http://x.org/isLondoner>", '"True"') in got
    assert ("<http://x.org/p/3>", "<http://x.org/isLondoner>", '"False"') in got


def test_controls_if(spark, tmp_path):
    _write_people(tmp_path)
    m = PFX + textwrap.dedent(f"""
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{pid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:label; rr:objectMap [
            fnml:functionValue [
              rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:controls_if ];
              rr:predicateObjectMap [ rr:predicate grel:bool_b; rr:objectMap [
                fnml:functionValue [
                  rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:string_contains ];
                  rr:predicateObjectMap [ rr:predicate grel:valueParameter; rr:objectMap [ rml:reference "city" ] ];
                  rr:predicateObjectMap [ rr:predicate grel:string_sub; rr:objectMap [ rr:constant "NYC" ] ];
                ] ] ];
              rr:predicateObjectMap [ rr:predicate grel:any_true; rr:objectMap [ rr:constant "east-coast" ] ];
              rr:predicateObjectMap [ rr:predicate grel:any_false; rr:objectMap [ rr:constant "elsewhere" ] ];
            ] ] ] .
    """)
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/p/3>", "<http://x.org/label>", '"east-coast"') in got
    assert ("<http://x.org/p/1>", "<http://x.org/label>", '"elsewhere"') in got


def test_normalize_date_constant_pattern(spark, tmp_path):
    (tmp_path / "dates.csv").write_text(
        "id,raw\n1,03/25/1999\n2,12/01/2001\n")
    m = PFX + textwrap.dedent(f"""
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/dates.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/d/{{id}}" ];
          rr:predicateObjectMap [ rr:predicate ex:when; rr:objectMap [
            fnml:functionValue [
              rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:normalizeDate ];
              rr:predicateObjectMap [ rr:predicate grel:strDate; rr:objectMap [ rml:reference "raw" ] ];
              rr:predicateObjectMap [ rr:predicate grel:pattern; rr:objectMap [ rr:constant "%m/%d/%Y" ] ];
            ] ] ] .
    """)
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/d/1>", "<http://x.org/when>",
            '"1999-03-25 00:00:00"') in got


def test_normalize_date_dynamic_pattern(spark, tmp_path):
    """Reference-valued pattern (fnml_functions.py:39-47 reads BOTH
    strDate and pattern from the row): per-row datetime.strptime."""
    (tmp_path / "dates2.csv").write_text(
        "id,raw,fmt\n"
        "1,03/25/1999,%m/%d/%Y\n"
        "2,1999-12-31T08:30:00,%Y-%m-%dT%H:%M:%S\n"
        "3,notadate,%m/%d/%Y\n")
    m = PFX + textwrap.dedent(f"""
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/dates2.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/d/{{id}}" ];
          rr:predicateObjectMap [ rr:predicate ex:when; rr:objectMap [
            fnml:functionValue [
              rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:normalizeDateTime ];
              rr:predicateObjectMap [ rr:predicate grel:strDate; rr:objectMap [ rml:reference "raw" ] ];
              rr:predicateObjectMap [ rr:predicate grel:pattern; rr:objectMap [ rml:reference "fmt" ] ];
            ] ] ] .
    """)
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/d/1>", "<http://x.org/when>",
            '"1999-03-25 00:00:00"') in got
    assert ("<http://x.org/d/2>", "<http://x.org/when>",
            '"1999-12-31 08:30:00"') in got
    # unparseable rows drop the term (validity gate), like the
    # reference's exception path
    assert not any(s == "<http://x.org/d/3>" for s, p, o in got)


def test_subject_condition_row_filter(spark, tmp_path):
    """rml:condition on the subject map filters rows through a function
    descriptor referenced nowhere else (semantify.py:6383-6407): only
    Londoners emit triples."""
    _write_people(tmp_path)
    m = PFX + textwrap.dedent(f"""
        <#M> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{pid}}"; rml:condition <#IsLondoner> ];
          rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ] .
        <#IsLondoner>
          rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:equal ];
          rr:predicateObjectMap [ rr:predicate grel:valueParam; rr:objectMap [ rml:reference "city" ] ];
          rr:predicateObjectMap [ rr:predicate grel:valueParam2; rr:objectMap [ rr:constant "London" ] ] .
    """)
    got = triple_set(materialize(spark, m))
    assert got == {
        ("<http://x.org/p/1>", "<http://x.org/name>", '"Ada Lovelace"'),
        ("<http://x.org/p/2>", "<http://x.org/name>", '"Alan Turing"'),
    }


def test_function_subject_parent_joins(spark, tmp_path):
    """A parent TriplesMap whose subject map is a function is joined
    like a template one: across sources on a join condition, and as a
    projection over the same source."""
    _write_people(tmp_path)
    (tmp_path / "orders.csv").write_text("oid,who\n10,1\n11,3\n")
    m = PFX + textwrap.dedent(f"""
        <#P> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ fnml:functionValue [
            rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:toLowerCase ];
            rr:predicateObjectMap [ rr:predicate grel:valueParam; rr:objectMap [ rr:template "http://x.org/P/{{pid}}" ] ] ] ] .
        <#O> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/orders.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/o/{{oid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:by; rr:objectMap [ rr:parentTriplesMap <#P>;
            rr:joinCondition [ rr:child "who"; rr:parent "pid" ] ] ] .
        <#Q> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/q/{{pid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:same; rr:objectMap [ rr:parentTriplesMap <#P> ] ] .
    """)
    got = triple_set(materialize(spark, m))
    assert got == {
        ("<http://x.org/o/10>", "<http://x.org/by>", "<http://x.org/p/1>"),
        ("<http://x.org/o/11>", "<http://x.org/by>", "<http://x.org/p/3>"),
        ("<http://x.org/q/1>", "<http://x.org/same>", "<http://x.org/p/1>"),
        ("<http://x.org/q/2>", "<http://x.org/same>", "<http://x.org/p/2>"),
        ("<http://x.org/q/3>", "<http://x.org/same>", "<http://x.org/p/3>"),
    }


def test_function_graph_map_and_gather_on_function_subject(spark, tmp_path):
    """A subject graph map that is a function, and a gather POM on a TM
    whose subject is a function: both resolve the TM's function maps."""
    _write_people(tmp_path)
    lower = ("fnml:functionValue [ rr:predicateObjectMap [ rr:predicate "
             "fno:executes; rr:object grel:toLowerCase ]; "
             "rr:predicateObjectMap [ rr:predicate grel:valueParam; "
             "rr:objectMap [ rr:template \"http://x.org/{0}/{{{1}}}\" ] ] ]")
    m = PFX + textwrap.dedent(f"""
        @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
        <#G> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{pid}}";
                          rr:graphMap [ {lower.format("G", "city")} ] ];
          rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ] .
        <#L> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/people.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ {lower.format("Q", "pid")} ];
          rr:predicateObjectMap [ rr:predicate ex:tags; rr:objectMap [
            rml:gather ( [ rml:reference "name" ] [ rml:reference "city" ] );
            rml:gatherAs rdf:Seq ] ] .
    """)
    rows = {tuple(r) for r in materialize(spark, m)
            .select("s", "p", "o", "g").collect()}
    assert ("<http://x.org/p/3>", "<http://x.org/name>", '"Grace Hopper"',
            "<http://x.org/g/nyc>") in rows
    nodes = {o for s, p, o, _ in rows
             if s == "<http://x.org/q/1>" and p == "<http://x.org/tags>"}
    assert len(nodes) == 1
    seq = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#_{}>"
    assert {(p, o) for s, p, o, _ in rows if s in nodes} >= {
        (seq.format(1), '"Ada Lovelace"'), (seq.format(2), '"London"')}
