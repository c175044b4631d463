"""Parent-side joins (MappingPlanner._join_table) against a DuckDB join
over the same CSV files.

One mapping covers every consumer of a join table: referencing object
maps (folded into the child's explode pass as a left join against the
parent's terms grouped per key, two of them on different keys), a
quoted object with a join, a quoted subject with a join and a gather
parent item. Keys are small integers with duplicates, plus empty,
``NULL`` and whitespace values, which never join."""

import itertools
import os
from collections import Counter

import duckdb
from hypothesis import example, given, settings, strategies as st

from sdm_rdfizer_spark import materialize

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
KEYS = ("1", "2", "3", "", "NULL", " ")
NAMES = ("a", "b", "c", "")

_parent = st.tuples(st.sampled_from(KEYS), st.sampled_from(NAMES))
_child = st.tuples(st.sampled_from(("x", "y", "a")), st.sampled_from(KEYS))
_counter = itertools.count()

MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix rml2: <http://w3id.org/rml/> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix ex: <http://ex.org/> .
<#C> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{child}"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/c/{{c}}" ];
  rr:predicateObjectMap [ rr:predicate ex:key; rr:objectMap [
      rml:reference "k" ] ];
  rr:predicateObjectMap [ rr:predicate ex:ref; rr:objectMap [
      rr:parentTriplesMap <#P>;
      rr:joinCondition [ rr:child "k"; rr:parent "k" ] ] ];
  rr:predicateObjectMap [ rr:predicate ex:named; rr:objectMap [
      rr:parentTriplesMap <#R>;
      rr:joinCondition [ rr:child "c"; rr:parent "n" ] ] ];
  rr:predicateObjectMap [ rr:predicate ex:quo; rr:objectMap [
      rml:quotedTriplesMap <#Q>;
      rr:joinCondition [ rr:child "k"; rr:parent "k" ] ] ];
  rr:predicateObjectMap [ rr:predicate ex:roster; rr:objectMap [
      rml:gather ( [ rr:parentTriplesMap <#P>;
                     rr:joinCondition [ rr:child "k"; rr:parent "k" ] ] );
      rml:gatherAs rdf:Seq ] ] .
<#QS> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{child}"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rml2:quotedTriplesMap <#Q>;
                  rr:joinCondition [ rr:child "k"; rr:parent "k" ] ];
  rr:predicateObjectMap [ rr:predicate ex:val; rr:objectMap [
      rml:reference "c" ] ] .
<#P> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{parent}"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/p/{{n}}" ] .
<#R> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{parent}"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/r/{{k}}" ] .
<#Q> a rml:NonAssertedTriplesMap;
  rml:logicalSource [ rml:source "{parent}"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/p/{{n}}" ];
  rr:predicateObjectMap [ rr:predicate ex:q; rr:objectMap [
      rml:reference "n" ] ] .
"""

VALID = ("{0} IS NOT NULL AND trim({0}) <> '' "
         "AND {0} NOT IN ('nan', 'N/A', 'None', 'NULL')")


def _write(path, header, rows):
    with open(path, "w", encoding="utf-8") as f:
        f.write(header + "\n" + "".join(",".join(r) + "\n" for r in rows))


def _expected(parent, child):
    """DuckDB: the multiset of key/ref/named/quo/val triples and the set of
    (child subject, gathered members) over the same files."""
    con = duckdb.connect()
    for name, path in (("p", parent), ("c", child)):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_csv("
                    f"'{path}', all_varchar=true, header=true, delim=',')")
    con.execute(
        "CREATE VIEW pairs AS SELECT DISTINCT k, n FROM p WHERE "
        + VALID.format("k") + " AND " + VALID.format("n"))
    joined = ("FROM (SELECT row_number() OVER () AS r, * FROM c) c "
              "JOIN pairs ON c.k = pairs.k")
    triples = Counter()
    for c, n in con.execute(f"SELECT c.c, pairs.n {joined}").fetchall():
        cs, po = f"<http://ex.org/c/{c}>", f"<http://ex.org/p/{n}>"
        quoted = f'<< {po} <http://ex.org/q> "{n}" >>'
        triples[(cs, "<http://ex.org/ref>", po)] += 1
        triples[(cs, "<http://ex.org/quo>", quoted)] += 1
        triples[(quoted, "<http://ex.org/val>", f'"{c}"')] += 1
    for c, k in con.execute(
            "SELECT c.c, r.k FROM c JOIN (SELECT DISTINCT n, k FROM p WHERE "
            + VALID.format("n") + " AND " + VALID.format("k")
            + ") r ON c.c = r.n").fetchall():
        triples[(f"<http://ex.org/c/{c}>", "<http://ex.org/named>",
                 f"<http://ex.org/r/{k}>")] += 1
    # one per child row: a join fused into the child's own pass must
    # not multiply its rows
    for c, k in con.execute("SELECT c, k FROM c WHERE "
                            + VALID.format("k")).fetchall():
        triples[(f"<http://ex.org/c/{c}>", "<http://ex.org/key>",
                 f'"{k}"')] += 1
    members: dict = {}
    for c, ns in con.execute(f"SELECT c.c, list_sort(list(DISTINCT pairs.n)) "
                             f"{joined} GROUP BY c.r, c.c").fetchall():
        members.setdefault(f"<http://ex.org/c/{c}>", set()).add(
            tuple(f"<http://ex.org/p/{n}>" for n in ns))
    return triples, members


def _actual(rows):
    """The engine's output split like ``_expected``'s: the gather's
    collection nodes are replaced by their ordered members (equal rows
    name one node, so its membership triples repeat)."""
    triples, links, items = Counter(), [], {}
    for s, p, o in rows:
        if p == "<http://ex.org/roster>":
            links.append((s, o))
        elif p.startswith(f"<{RDF}_"):
            items.setdefault(s, set()).add((int(p[len(RDF) + 2:-1]), o))
        elif p != f"<{RDF}type>":
            triples[(s, p, o)] += 1
    members: dict = {}
    for s, node in links:
        members.setdefault(s, set()).add(
            tuple(o for _, o in sorted(items[node])))
    return triples, members


_ROWS = [("1", "a"), ("1", "b"), ("2", "c"), ("", "a"), ("NULL", "b"),
         (" ", "c")]
_CHILD = [("x", "1"), ("y", "2"), ("z", "3"), ("x", ""), ("y", "NULL"),
          ("z", " ")]


# pinned: a 1-N join over duplicate rows; unique keys over duplicate
# rows (N:1 once grouped); unique digit keys, where the raw-key probe
# skips the grouping; a unique-subject child whose joins match several
# parents per row
@example(parent=_ROWS, child=_CHILD, unique=False, dup=True)
@example(parent=[("1", "a"), ("1", "b"), ("2", "a"), ("3", "b")],
         child=[("x", "1"), ("y", "2"), ("a", "1")], unique=False, dup=False)
@example(parent=_ROWS, child=_CHILD, unique=True, dup=True)
@example(parent=[("1", "a"), ("2", "b"), ("3", "")],
         child=[("x", "1"), ("y", "1"), ("z", "3")], unique=True, dup=False)
@settings(max_examples=6, deadline=None)
@given(parent=st.lists(_parent, min_size=1, max_size=6),
       child=st.lists(_child, min_size=1, max_size=6),
       unique=st.booleans(), dup=st.booleans())
def test_join_tables_match_duckdb_join(spark, tmp_path_factory, parent,
                                       child, unique, dup):
    if unique:
        # one row per key: the referencing join fuses as N:1
        parent = list({k: (k, n) for k, n in reversed(parent)}.values())
    if dup:
        parent, child = parent + parent[:2], child + child[:2]
    d = tmp_path_factory.mktemp(f"join{next(_counter)}")
    ppath, cpath = os.path.join(d, "parent.csv"), os.path.join(d, "child.csv")
    _write(ppath, "k,n", parent)
    _write(cpath, "c,k", child)
    df = materialize(spark, MAPPING.format(parent=ppath, child=cpath),
                     remove_duplicates=False)
    got = _actual(tuple(r) for r in df.select("s", "p", "o").collect())
    assert got == _expected(ppath, cpath)
    # grouped terms are sorted by generated code (sort_array), not by
    # array_sort's lambda comparator (the gather's own transform/filter
    # lambdas stay, so the check names the sort)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "array_sort" not in plan, plan
    assert "sort_array(collect_set(" in plan, plan
