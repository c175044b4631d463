"""RML-star: quoted triples maps (asserted and non-asserted)."""

import textwrap

from sdm_rdfizer_spark import materialize
from tests.conftest import triple_set

PFX = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://x.org/> .
"""


def test_quoted_object_same_source(spark, tmp_path):
    (tmp_path / "conf.csv").write_text(
        "s_name,o_name,score\nalice,bob,0.9\ncarol,dan,0.7\n"
    )
    m = PFX + textwrap.dedent(f"""
        <#Statement> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/conf.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/stmt/{{s_name}}" ];
          rr:predicateObjectMap [ rr:predicate ex:confidence; rr:objectMap [
              rml:quotedTriplesMap <#Knows> ] ];
          rr:predicateObjectMap [ rr:predicate ex:score; rr:objectMap [ rml:reference "score" ] ] .

        <#Knows> a rml:NonAssertedTriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/conf.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{s_name}}" ];
          rr:predicateObjectMap [ rr:predicate ex:knows; rr:objectMap [
              rr:template "http://x.org/p/{{o_name}}" ] ] .
    """)
    got = triple_set(materialize(spark, m))
    q = "<< <http://x.org/p/alice> <http://x.org/knows> <http://x.org/p/bob> >>"
    assert ("<http://x.org/stmt/alice>", "<http://x.org/confidence>", q) in got
    # NonAsserted: the Knows TM itself is not materialized
    assert not any(p == "<http://x.org/knows>" for _, p, _ in got)
    # score literal canonicalized (0.9 floatish)
    assert ("<http://x.org/stmt/alice>", "<http://x.org/score>", '"0.9"') in got


def test_quoted_subject(spark, tmp_path):
    (tmp_path / "conf2.csv").write_text("s_name,o_name,src\nalice,bob,wiki\n")
    m = PFX + textwrap.dedent(f"""
        <#Meta> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/conf2.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rml:quotedTriplesMap <#Knows2> ];
          rr:predicateObjectMap [ rr:predicate ex:source; rr:objectMap [ rml:reference "src" ] ] .

        <#Knows2> a rml:NonAssertedTriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/conf2.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{s_name}}" ];
          rr:predicateObjectMap [ rr:predicate ex:knows; rr:objectMap [
              rr:template "http://x.org/p/{{o_name}}" ] ] .
    """)
    got = triple_set(materialize(spark, m))
    q = "<< <http://x.org/p/alice> <http://x.org/knows> <http://x.org/p/bob> >>"
    assert (q, "<http://x.org/source>", '"wiki"') in got


def test_quoted_object_with_join(spark, tmp_path):
    (tmp_path / "facts.csv").write_text("fid,person\nf1,alice\nf2,zed\n")
    (tmp_path / "rel.csv").write_text("who,whom\nalice,bob\n")
    m = PFX + textwrap.dedent(f"""
        <#Fact> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/facts.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/fact/{{fid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:states; rr:objectMap [
              rml:quotedTriplesMap <#Rel>;
              rr:joinCondition [ rr:child "person"; rr:parent "who" ] ] ] .

        <#Rel> a rml:NonAssertedTriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/rel.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/p/{{who}}" ];
          rr:predicateObjectMap [ rr:predicate ex:knows; rr:objectMap [
              rr:template "http://x.org/p/{{whom}}" ] ] .
    """)
    got = triple_set(materialize(spark, m))
    q = "<< <http://x.org/p/alice> <http://x.org/knows> <http://x.org/p/bob> >>"
    assert ("<http://x.org/fact/f1>", "<http://x.org/states>", q) in got
    # f2 (zed) has no matching quoted parent → no triple
    assert not any(s == "<http://x.org/fact/f2>" for s, _, _ in got)


def test_quoted_subject_with_join(spark, tmp_path):
    """Quoted subject with a join condition across sources (reference
    semantify.py:2652-2659): subject = quoted triple of the JOINED row."""
    (tmp_path / "facts.csv").write_text("fid,val\nf1,10\nf2,20\n")
    (tmp_path / "annot.csv").write_text(
        "ref,conf\nf1,high\nf1,low\nf2,mid\nf9,none\n")
    m = f"""
        @prefix rr: <http://www.w3.org/ns/r2rml#> .
        @prefix rml: <http://semweb.mmlab.be/ns/rml#> .
        @prefix rml2: <http://w3id.org/rml/> .
        @prefix ql: <http://semweb.mmlab.be/ns/ql#> .
        @prefix ex: <http://x.org/> .
        <#A> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/annot.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rml2:quotedTriplesMap <#F>;
                          rr:joinCondition [ rr:child "ref"; rr:parent "fid" ] ];
          rr:predicateObjectMap [ rr:predicate ex:confidence; rr:objectMap [ rml:reference "conf" ] ] .
        <#F> a rml2:NonAssertedTriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/facts.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/fact/{{fid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:value; rr:objectMap [ rml:reference "val" ] ] .
    """
    got = triple_set(materialize(spark, m))
    q1 = '<< <http://x.org/fact/f1> <http://x.org/value> "10" >>'
    q2 = '<< <http://x.org/fact/f2> <http://x.org/value> "20" >>'
    assert (q1, "<http://x.org/confidence>", '"high"') in got
    assert (q1, "<http://x.org/confidence>", '"low"') in got
    assert (q2, "<http://x.org/confidence>", '"mid"') in got
    # unmatched child key (f9) emits nothing — inner join semantics
    assert not any('"none"' == o for _, _, o in got)
    assert len(got) == 3


def test_quoted_subject_with_gather_and_targets(spark, tmp_path):
    """Cross-feature: joined quoted subject + gather POM + logical target
    + infer_datatypes through the config path (r2 e2e drive found the
    gather branch crashing on quoted subjects)."""
    import sdm_rdfizer_spark.engine as engine

    (tmp_path / "facts.csv").write_text("fid,val\nf1,10\n")
    (tmp_path / "annot.csv").write_text("ref,conf,tag1,tag2\nf1,high,x,y\n")
    target = tmp_path / "conf.nt"
    (tmp_path / "m.ttl").write_text(f"""
        @prefix rr: <http://www.w3.org/ns/r2rml#> .
        @prefix rml: <http://semweb.mmlab.be/ns/rml#> .
        @prefix rml2: <http://w3id.org/rml/> .
        @prefix ql: <http://semweb.mmlab.be/ns/ql#> .
        @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
        @prefix ex: <http://x.org/> .
        <#T> a rml2:LogicalTarget; rml2:target [ rml2:path "{target}" ] .
        <#F> a rml2:NonAssertedTriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/facts.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rr:template "http://x.org/fact/{{fid}}" ];
          rr:predicateObjectMap [ rr:predicate ex:value; rr:objectMap [ rml:reference "val" ] ] .
        <#A> a rr:TriplesMap;
          rml:logicalSource [ rml:source "{tmp_path}/annot.csv"; rml:referenceFormulation ql:CSV ];
          rr:subjectMap [ rml2:quotedTriplesMap <#F>;
                          rr:joinCondition [ rr:child "ref"; rr:parent "fid" ] ];
          rr:predicateObjectMap [ rr:predicate ex:confidence;
              rr:objectMap [ rml:reference "conf"; rml2:logicalTarget <#T> ] ];
          rr:predicateObjectMap [ rr:predicate ex:tags; rr:objectMap [
              rml:gather ( [ rml:reference "tag1" ] [ rml:reference "tag2" ] );
              rml:gatherAs rdf:Seq ] ] .
    """)
    out = tmp_path / "out"
    out.mkdir()
    (tmp_path / "config.ini").write_text(f"""
[default]
main_directory: {tmp_path}

[datasets]
number_of_datasets: 1
output_folder: {out}
all_in_one_file: no
remove_duplicate: yes
infer_datatypes: yes

[dataset1]
name: combo
mapping: {tmp_path}/m.ttl
""")
    spark.catalog.clearCache()
    engine.semantify(str(tmp_path / "config.ini"), spark)
    # the run released what it cached (the tagged triples the target
    # and the main output both read)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    main = open(out / "combo.nt").read()
    q = ('<< <http://x.org/fact/f1> <http://x.org/value> '
         '"10"^^<http://www.w3.org/2001/XMLSchema#integer> >>')
    assert f'{q} <http://x.org/confidence> "high" .' in main
    # the gather hangs off the quoted subject
    assert f"{q} <http://x.org/tags> _:" in main
    assert '#_1> "x"' in main and '#_2> "y"' in main
    # the logical target received exactly the confidence triples
    tgt = open(target).read().strip().splitlines()
    assert len(tgt) == 1 and "confidence" in tgt[0]
