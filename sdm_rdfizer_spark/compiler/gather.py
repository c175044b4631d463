"""RML-CC gather maps: rdf:List / rdf:Bag / rdf:Seq / rdf:Alt construction.

Reference implementation: rdfizer/rdfizer/cc_functions.py:217-536
(gather_triples_generation), subject-position gathers at
cc_functions.py:121-216 (gather_subject), parent-TM items with join at
cc_functions.py:13-120 + 340-346 (hash_maker_cc / "join" items), the
cartesian strategy at cc_functions.py:499-536.

Spark shape: per-row item ARRAYS built from the gather term maps — a
scalar term contributes 0/1 items, an array-typed reference contributes
all its elements, a parent-triples-map item contributes every joined
parent subject (planner-provided left join against grouped parent pairs).
``append`` concatenates the arrays in gather order; ``cartesian`` explodes
the cross product into one collection per combination. Optional grouping
across rows by the collection-node value (groupBy + collect_list of the
still-packed per-row item arrays — items are never exploded before the
shuffle); shuffles only when grouping or a parent join requires one.
``row_order="source"`` keeps items in source-row order (reference
parity, carried via monotonically_increasing_id); the default sorts by
item value (cross-row order is undefined in RML-CC).

Blank-node determinism: the reference mints uuid4-per-collection
(cc_functions.py:218), which is non-reproducible and breaks distributed
retries; we derive node ids from md5(subject || predicate || items) so
re-executed tasks emit identical triples (SURVEY §7 hard part c). Joined
parent items come sorted (``sort_array`` over the join table's
``collect_set``; the reference's dict order is source-row order —
RML-CC leaves cross-row item order undefined; pass
``gather_row_order="source"`` for reference-ordered grouped items).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ir import CONSTANT, PARENT, QUOTED, REFERENCE, TEMPLATE, GatherMap, TermMap
from .terms import _nt_escape_literal, compile_term_map

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_FIRST = f"<{RDF}first>"
RDF_REST = f"<{RDF}rest>"
RDF_NIL = f"<{RDF}nil>"
RDF_TYPE = f"<{RDF}type>"

EMPTY = F.array().cast("array<string>")


def _term_value_array(df: DataFrame, tm: TermMap, base: str | None) -> Column:
    """Item values one gather term map contributes for a row, as an array.

    A reference to an ARRAY column yields every element as a quoted
    literal (the reference's string_substitution_json returns a list,
    cc_functions.py:269-275); scalars yield a 0/1-element array.
    """
    if tm.kind == REFERENCE:
        dtype = dict(df.dtypes).get(tm.value, "")
        if dtype.startswith("array"):
            return F.filter(
                F.transform(
                    F.col(tm.value),
                    lambda e: F.concat(
                        F.lit('"'), _nt_escape_literal(e.cast("string")), F.lit('"')),
                ),
                lambda x: x.isNotNull(),
            )
    cv = compile_term_map(df, tm, "object", base=base)
    return F.when(cv.valid, F.array(cv.expr)).otherwise(EMPTY)


def _item_arrays(
    df: DataFrame, gm: GatherMap, base: str | None, parent_items,
) -> tuple[DataFrame, list[Column]]:
    """One value-array per gather item (in gather order). PARENT-kind
    items left-join the planner's grouped parent pairs into ``df``."""
    arrays: list[Column] = []
    cur = df
    for item in gm.gather:
        if item.kind in (PARENT, QUOTED):
            if parent_items is None:
                raise NotImplementedError(
                    "parent-triples-map gather items need a planner context")
            cur, arr = parent_items(cur, item)
        else:
            arr = _term_value_array(cur, item, base)
        arrays.append(arr)
    return cur, arrays


def compile_gather(
    df: DataFrame,
    subject: Column,
    subject_valid: Column,
    pred: Column,
    graph: Column,
    gm: GatherMap,
    *,
    base: str | None = None,
    node_term: TermMap | None = None,
    parent_items=None,
    as_subject: bool = False,
    row_order: str = "value",
) -> DataFrame:
    """Triples DataFrame for one gather map.

    ``node_term`` is the gather map's own template/reference (the
    collection node); when present, rows sharing a node value are grouped
    (one collection per node), else each row gets its own collection.
    With ``as_subject`` the collection node IS the triples-map subject
    (reference gather_subject): no head triple is emitted and membership
    hangs directly off ``subject``.
    """
    df, arrays = _item_arrays(df, gm, base, parent_items)

    if gm.strategy == "cartesian" and len(arrays) >= 2 and not as_subject:
        # one collection per combination of item values
        # (cc_functions.py:499-536, generalized to N item terms)
        combos = F.transform(arrays[0], lambda x: F.array(x))
        for arr in arrays[1:]:
            nxt = arr
            combos = F.flatten(
                F.transform(combos,
                            lambda c: F.transform(nxt, lambda y: F.concat(c, F.array(y))))
            )
        grouped = (
            df.where(subject_valid)
            .select(subject.alias("s"), pred.alias("p"),
                    graph.cast("string").alias("g"),
                    F.explode(combos).alias("items"))
            .withColumn("node", F.concat(
                F.lit("_:g"),
                F.md5(F.concat(F.col("s"), F.col("p"),
                               F.concat_ws("\x1f", F.col("items")))),
            ))
            .select("s", "p", "g", "node", "items")
        )
        return _emit(grouped, gm, as_subject=False)

    items = F.array_compact(F.flatten(F.array(*arrays))) if arrays else EMPTY

    if as_subject:
        grouped = df.where(subject_valid).select(
            subject.alias("node"), graph.cast("string").alias("g"),
            items.alias("items"),
        ).withColumn("s", F.col("node")).withColumn("p", F.lit(None).cast("string"))
        return _emit(grouped, gm, as_subject=True)

    if node_term is not None and node_term.kind in (TEMPLATE, REFERENCE):
        ncv = compile_term_map(df, node_term, "subject", base=base)
        node = ncv.expr
        # group across rows: one collection per (s, p, node). The shuffle
        # carries one row per SOURCE row (its items still packed as an
        # array) — no posexplode round-trip, and the per-group sort works
        # on plain strings / a rid-keyed struct, not per-item structs
        # (the r2 emission exploded every item before the groupBy and
        # array_sort-ed (item,pos) structs — 2.4x slower at sf0.1).
        # Scope note: rows are grouped per (s, p, g, node) — one
        # collection per subject. The reference groups by the NODE value
        # alone (grouping_values_json, cc_functions.py:537-552), so a
        # mapping whose node template collides across different subjects
        # would merge their items there; RML-CC does not define that
        # corner and node templates in practice embed the subject keys.
        if row_order == "source":
            # reference parity: the reference appends items in source-row
            # iteration order (cc_functions.py:269-340); rid is ascending
            # in scan order (deterministic for single-file CSV/JSON/XML
            # string sources — partition index follows file-split offset;
            # parquet scans may repartition for parallelism, which breaks
            # source order — but the reference has no parquet source, so
            # every parity surface is covered)
            rows = df.where(subject_valid & ncv.valid).select(
                subject.alias("s"), pred.alias("p"),
                graph.cast("string").alias("g"),
                node.alias("node"), items.alias("items"),
                F.monotonically_increasing_id().alias("__rid"),
            )
            agg = F.array_sort(F.collect_list(F.struct("__rid", "items")))
            items_col = F.flatten(F.transform(agg, lambda x: x["items"]))
        else:
            # default "value": RML-CC leaves cross-row item order
            # undefined; sort by item value for a deterministic output
            rows = df.where(subject_valid & ncv.valid).select(
                subject.alias("s"), pred.alias("p"),
                graph.cast("string").alias("g"),
                node.alias("node"), items.alias("items"),
            )
            items_col = F.array_sort(F.flatten(F.collect_list("items")))
        grouped = (
            rows.groupBy("s", "p", "g", "node")
            .agg(items_col.alias("items"))
        )
    else:
        # per-row collection with a deterministic blank node; the item
        # values participate in the id so two rows sharing a subject don't
        # collapse into one collection (the reference mints uuid4 per row,
        # cc_functions.py:218 — unique but not reproducible)
        node = F.concat(
            F.lit("_:g"),
            F.md5(F.concat(subject, pred, F.concat_ws("\x1f", items))),
        )
        grouped = df.where(subject_valid).select(
            subject.alias("s"), pred.alias("p"), graph.cast("string").alias("g"),
            node.alias("node"), items.alias("items"),
        )
    return _emit(grouped, gm, as_subject=False)


def _emit(grouped: DataFrame, gm: GatherMap, *, as_subject: bool) -> DataFrame:
    """(s, p, g, node, items) rows → collection triples.

    All triple kinds (head, rdf:type, membership / first+rest cells) are
    packed into ONE per-row struct array and exploded in a single pass —
    the union-of-branches shape would recompute the whole grouped subplan
    (scan + parent joins + grouping) once per triple kind, a 3× cost at
    any scale (plan-audit r2)."""
    empty = F.size("items") == 0
    is_list = gm.gather_as.endswith("List")
    node = F.col("node")
    n = F.size("items")

    def entry(s, p, o):
        return F.struct(s.alias("es"), p.alias("ep"), o.alias("eo"))

    def derived(pos):
        return F.concat(
            F.lit("_:"), F.md5(F.concat_ws("|", node, pos.cast("string"))))

    if is_list:
        def cell(pos):
            # subject-position lists: the subject itself is the first cell
            if as_subject:
                return F.when(pos == F.lit(0), node).otherwise(derived(pos))
            return derived(pos)

        def cells(item, pos):
            nxt = F.when(pos == n - 1, F.lit(RDF_NIL)).otherwise(derived(pos + 1))
            return F.array(
                entry(cell(pos), F.lit(RDF_FIRST), item),
                entry(cell(pos), F.lit(RDF_REST), nxt),
            )

        arr = F.flatten(F.transform("items", cells))
        if not as_subject:
            head_obj = F.when(empty, F.lit(RDF_NIL)).otherwise(derived(F.lit(0)))
            arr = F.concat(F.array(entry(F.col("s"), F.col("p"), head_obj)), arr)
    else:
        # containers: Bag / Seq / Alt
        members = F.transform(
            "items",
            lambda item, pos: entry(
                node,
                F.concat(F.lit(f"<{RDF}_"), (pos + 1).cast("string"), F.lit(">")),
                item,
            ),
        )
        typ = F.array(entry(node, F.lit(RDF_TYPE), F.lit(f"<{gm.gather_as}>")))
        arr = F.concat(typ, members) if as_subject else F.concat(
            F.array(entry(F.col("s"), F.col("p"), node)), typ, members)

    return (
        grouped.where(F.lit(gm.allow_empty) | ~empty)
        .select(F.explode(arr).alias("__e"), F.col("g"))
        .select(F.col("__e.es").alias("s"), F.col("__e.ep").alias("p"),
                F.col("__e.eo").alias("o"), F.col("g"))
    )
