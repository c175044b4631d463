"""Conformance-style corners modeled on the W3C RML test-case shapes the
reference passes (SURVEY §5: KGCW workbook matrices) — written from the
spec surface, not copied from any suite."""

import textwrap

from sdm_rdfizer_spark import materialize
from tests.conftest import triple_set

PFX = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://x.org/> .
"""


def _csv(tmp_path):
    (tmp_path / "d.csv").write_text("code,label,lang,dt\nA,alpha,en,int\nB,beta,de,string\n")
    return f'rml:logicalSource [ rml:source "{tmp_path}/d.csv"; rml:referenceFormulation ql:CSV ];'


def test_language_map_from_reference(spark, tmp_path):
    """rml:languageMap [ rml:reference ... ] — per-row language tags."""
    m = PFX + f"""
<#M> a rr:TriplesMap; {_csv(tmp_path)}
  rr:subjectMap [ rr:template "http://x.org/i/{{code}}" ];
  rr:predicateObjectMap [ rr:predicate ex:label; rr:objectMap [
      rml:reference "label"; rml:languageMap [ rml:reference "lang" ] ] ] .
"""
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/i/A>", "<http://x.org/label>", '"alpha"@en') in got
    assert ("<http://x.org/i/B>", "<http://x.org/label>", '"beta"@de') in got


def test_datatype_map_from_template(spark, tmp_path):
    """rr:datatypeMap with a template — per-row datatype IRIs."""
    m = PFX + f"""
<#M> a rr:TriplesMap; {_csv(tmp_path)}
  rr:subjectMap [ rr:template "http://x.org/i/{{code}}" ];
  rr:predicateObjectMap [ rr:predicate ex:label; rr:objectMap [
      rml:reference "label";
      rr:datatypeMap [ rr:template "http://www.w3.org/2001/XMLSchema#{{dt}}" ] ] ] .
"""
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/i/A>", "<http://x.org/label>",
            '"alpha"^^<http://www.w3.org/2001/XMLSchema#int>') in got
    assert ("<http://x.org/i/B>", "<http://x.org/label>",
            '"beta"^^<http://www.w3.org/2001/XMLSchema#string>') in got


def test_multiple_predicates_one_pom(spark, tmp_path):
    """One POM, two rr:predicate values — every (p, o) pair emits."""
    m = PFX + f"""
<#M> a rr:TriplesMap; {_csv(tmp_path)}
  rr:subjectMap [ rr:template "http://x.org/i/{{code}}" ];
  rr:predicateObjectMap [ rr:predicate ex:name, ex:alias;
      rr:objectMap [ rml:reference "label" ] ] .
"""
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/i/A>", "<http://x.org/name>", '"alpha"') in got
    assert ("<http://x.org/i/A>", "<http://x.org/alias>", '"alpha"') in got


def test_object_and_subject_shortcuts(spark, tmp_path):
    """rr:object constant shortcut (IRI + literal) on a template subject."""
    m = PFX + f"""
<#M> a rr:TriplesMap; {_csv(tmp_path)}
  rr:subjectMap [ rr:template "http://x.org/i/{{code}}" ];
  rr:predicateObjectMap [ rr:predicate ex:type; rr:object ex:Thing ];
  rr:predicateObjectMap [ rr:predicate ex:note; rr:object "fixed" ] .
"""
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/i/A>", "<http://x.org/type>", "<http://x.org/Thing>") in got
    assert ("<http://x.org/i/B>", "<http://x.org/note>", '"fixed"') in got


def test_pom_graph_map_overrides_subject_graph(spark, tmp_path):
    """A POM-level rr:graphMap overrides the subject's graph for that POM
    only (R2RML graph scoping)."""
    m = PFX + f"""
<#M> a rr:TriplesMap; {_csv(tmp_path)}
  rr:subjectMap [ rr:template "http://x.org/i/{{code}}";
                  rr:graphMap [ rr:constant ex:gmain ] ];
  rr:predicateObjectMap [ rr:predicate ex:label;
      rr:objectMap [ rml:reference "label" ];
      rr:graphMap [ rr:template "http://x.org/g/{{code}}" ] ];
  rr:predicateObjectMap [ rr:predicate ex:code;
      rr:objectMap [ rml:reference "code" ] ] .
"""
    df = materialize(spark, m)
    rows = {(r["s"], r["p"], r["o"], r["g"]) for r in df.collect()}
    assert ("<http://x.org/i/A>", "<http://x.org/label>", '"alpha"',
            "<http://x.org/g/A>") in rows
    assert ("<http://x.org/i/A>", "<http://x.org/code>", '"A"',
            "<http://x.org/gmain>") in rows


def test_template_iri_percent_encoding(spark, tmp_path):
    """Values with spaces/# percent-encode inside IRI templates but stay
    raw in literals (reference encode_char)."""
    (tmp_path / "e.csv").write_text('k,v\n"a b#c",plain\n')
    m = PFX + f"""
<#M> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{tmp_path}/e.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://x.org/i/{{k}}" ];
  rr:predicateObjectMap [ rr:predicate ex:raw; rr:objectMap [ rml:reference "k" ] ] .
"""
    got = triple_set(materialize(spark, m))
    assert ("<http://x.org/i/a%20b%23c>", "<http://x.org/raw>", '"a b#c"') in got


def test_unresolved_parent_tm_raises_mapping_error(spark, tmp_path):
    import pytest as _pytest

    from sdm_rdfizer_spark.compiler.plan import MappingError

    m = PFX + f"""
<#M> a rr:TriplesMap; {_csv(tmp_path)}
  rr:subjectMap [ rr:template "http://x.org/i/{{code}}" ];
  rr:predicateObjectMap [ rr:predicate ex:ref; rr:objectMap [
      rr:parentTriplesMap <#DoesNotExist>;
      rr:joinCondition [ rr:child "code"; rr:parent "code" ] ] ] .
"""
    with _pytest.raises(MappingError, match="DoesNotExist"):
        materialize(spark, m).collect()


def test_streaming_rejects_gather_maps(spark, tmp_path):
    import pytest as _pytest

    from sdm_rdfizer_spark.compiler.plan import MappingError
    from sdm_rdfizer_spark.streaming import materialize_stream

    m = PFX + f"""
<#M> a rr:TriplesMap; {_csv(tmp_path)}
  rr:subjectMap [ rr:template "http://x.org/i/{{code}}" ];
  rr:predicateObjectMap [ rr:predicate ex:all; rr:objectMap [
      rml:gather ( [ rml:reference "label" ] );
      rml:gatherAs <http://www.w3.org/1999/02/22-rdf-syntax-ns#Seq> ] ] .
"""
    # a projection-only TM on the same source does not pull the gather
    # TM into a fused pass: it keeps its own compile_tm and its guard
    m2 = m + f"""
<#N> a rr:TriplesMap; {_csv(tmp_path)}
  rr:subjectMap [ rr:template "http://x.org/n/{{code}}" ];
  rr:predicateObjectMap [ rr:predicate ex:l; rr:objectMap [ rml:reference "label" ] ] .
"""
    for mapping in (m, m2):
        with _pytest.raises(MappingError, match="gather"):
            materialize_stream(spark, mapping)
