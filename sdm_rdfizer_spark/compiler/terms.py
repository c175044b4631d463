"""Term-map → native Spark Column compilation.

This is the replacement for the reference's row-at-a-time
``string_substitution`` interpreter (reference:
rdfizer/rdfizer/functions.py:1775-1965) and the term-type/datatype
decoration logic (reference: rdfizer/rdfizer/semantify.py:6328-6381,
6794-6885). Everything compiles to built-in Column expressions so Catalyst
sees the whole plan and whole-stage codegen applies — no Python in the hot
path.

Semantics preserved from the reference:
  * NULL-ish values — ``None``/``"nan"``/``"N/A"``/``"None"``/``"NULL"`` or
    whitespace-only — invalidate the term and drop the triple
    (functions.py:1882-1912).
  * Template values are trimmed and percent-encoded (safe set
    ``'_-.~:@=+%'``, functions.py:580-582) when they land inside an IRI and
    don't themselves contain "http".
  * Reference-valued literals replace ``"`` with ``'`` (functions.py:1950).
  * Float-looking values are canonicalized like Python ``repr(float(v))``
    (functions.py:1884-1890) — e.g. ``"150.00"`` → ``"150.0"``.
  * Blank nodes: ``/``→``2F``, percent signs stripped, ``.``→``2E``
    (semantify.py:6354-6367).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._memo import BoundedMemo
from ..ir import CONSTANT, REFERENCE, TEMPLATE, TermMap, TT_BLANKNODE, TT_IRI, TT_LITERAL, TT_UNSAFE_IRI

XSD = "http://www.w3.org/2001/XMLSchema#"
DEFAULT_BASE = "http://example.com/base/"

_NULLISH = ("nan", "N/A", "None", "NULL")

_TEMPLATE_REF_RE = re.compile(r"(?<!\\)\{(.+?)(?<!\\)\}")

# ---------------------------------------------------------------------------
# Expression-tree memo (r10, guide §1.2 step 2: every Column operation is one
# py4j round trip; a 10-TriplesMap compile builds ~7,600 of them = ~2 s of
# driver latency). Columns are immutable name-bound expression trees, so any
# builder whose OUTPUT depends only on hashable scalars (a column-name
# string, a literal value, flags) can hand out one shared tree for the
# process lifetime — the same reuse contract as ops.dedup._doc_index_exprs
# and ops._exprs.lit_array. Keys fully describe the tree, so a racing
# duplicate build under the compile thread pool writes an identical value;
# trees referencing LAYER names (__x0_1 …) are memoized by that name alone
# on purpose: two TriplesMaps may bind the same layer name to different
# inputs, but the returned tree is the same unresolved-attribute tree either
# way — resolution happens per-plan, not at construction.
# bounded (r11, ADVICE #4): every distinct constant literal/template
# fragment ever compiled adds an entry, a slow leak in a long-lived
# service; LRU eviction only costs rebuilding an identical tree
_TREE_MEMO: dict = BoundedMemo(4096)


def _memo_tree(key: tuple, build) -> Column:
    col = _TREE_MEMO.get(key)
    if col is None:
        col = _TREE_MEMO[key] = build()
    return col


def _lit(v) -> Column:
    """Memoized ``F.lit`` for plan-constant scalars (a multi-TM compile
    was measured issuing ~1,000 lit() round trips)."""
    return _memo_tree(("lit", type(v).__name__, v), lambda: F.lit(v))


def _col(name: str) -> Column:
    """Memoized ``F.col`` — every name-bound attribute reference is one
    py4j round trip, and the same names (layer columns ``__x0_1``…,
    struct fields ``__t.p``…) recur across TriplesMaps and compiles
    (r11; the same unresolved-attribute reuse contract as the layer
    trees in ``_TREE_MEMO``)."""
    return _memo_tree(("col", name), lambda: F.col(name))


def template_references(template: str) -> list[str]:
    """Column references inside a ``{...}`` template."""
    return _TEMPLATE_REF_RE.findall(template)


_INLINE_PRED_RE = re.compile(
    r"^(?P<base>.+?)\[\?\(@\.(?P<path>[A-Za-z0-9_.]+)\s*(?P<op>==|!=)\s*"
    r"'(?P<val>[^']*)'\)\]\.(?P<field>[A-Za-z0-9_.]+)$"
)


def _inline_predicate(df: DataFrame, ref: str) -> Column | None:
    """``field[?(@.attr=='v')].out`` — inline JSON predicate on a reference
    (reference: functions.py:1820-1864): filter an array-of-structs column
    by an equality/inequality on a (dotted) member, project ``out`` from
    the LAST match; no match ⇒ NULL (triple dropped)."""
    m = _INLINE_PRED_RE.match(ref)
    if m is None:
        return None
    base, path, op, val, fld = (m.group("base"), m.group("path"),
                                m.group("op"), m.group("val"), m.group("field"))

    def get(x: Column, dotted: str) -> Column:
        for seg in dotted.split("."):
            x = x.getField(seg)
        return x

    try:
        dtype = df.select(F.col(base)).schema[0].dataType
    except Exception:
        return None
    if dtype.typeName() == "array":
        cond = (lambda x: get(x, path).cast("string") == F.lit(val)) if op == "==" \
            else (lambda x: get(x, path).cast("string") != F.lit(val))
        filtered = F.filter(F.col(base), cond)
        # F.get is NULL on out-of-bounds (ANSI-safe) — empty ⇒ NULL ⇒ drop
        elem = F.get(filtered, F.size(filtered) - 1)
        return get(elem, fld).cast("string")
    # scalar struct: conditional projection
    hit = get(F.col(base), path).cast("string")
    test = (hit == F.lit(val)) if op == "==" else (hit != F.lit(val))
    return F.when(test, get(F.col(base), fld).cast("string"))


def canonical_string(df: DataFrame, ref: str) -> Column:
    """A column rendered to its canonical string form.

    Matches the reference's row model where every value is a string
    (CSV is read with dtype=str, semantify.py:10227) and float-like values
    go through ``repr(float(v))`` (functions.py:1884-1890): typed parquet
    doubles become shortest-decimal strings without scientific notation and
    with at least one fractional digit.
    """
    inline = _inline_predicate(df, ref)
    if inline is not None:
        floatish = inline.rlike(r"^-?\d+\.\d+$")
        canon = F.regexp_replace(inline, r"(\.\d*?)0+$", r"$1")
        canon = F.regexp_replace(canon, r"\.$", ".0")
        return F.when(floatish, canon).otherwise(inline)

    dtype = dict(df.dtypes).get(ref)
    # the remaining tree depends only on (ref, dtype, exact-column?) —
    # share one tree per combination across TMs/queries (_TREE_MEMO note)
    return _memo_tree(("canon", ref, dtype, ref in df.columns),
                      lambda: _canonical_core(ref, dtype, ref in df.columns))


def _canonical_core(ref: str, dtype: str | None, exact: bool) -> Column:
    if exact:
        # exact column: backtick-quote so names with dots (XML parent-axis
        # refs like "../@id") aren't parsed as struct field access
        col = F.col("`" + ref.replace("`", "``") + "`")
    else:
        col = F.col(ref)  # nested struct access via dots

    if dtype in ("double", "float"):
        # decimal-cast → trim trailing zeros, keep >=1 fractional digit:
        # 1234.5600 → "1234.56", 150.0 → "150.0", 12345678.9 stays plain
        # notation (Spark's native double→string cast would give E-notation
        # for |v|>=1e7, which diverges from Python repr()).
        # Values outside DECIMAL(38,10) — |v| >= ~1e28 or needing more than
        # 10 fractional digits to round-trip — would overflow (ANSI error)
        # or silently round; for those fall back to the native cast and
        # rewrite Java E-notation ("1.0E30") to Python-repr style ("1e+30").
        # Rendering is always VALUE-EXACT (float(s) == v, property-tested);
        # notation diverges from repr() only in [1e-10, 1e-4), where repr
        # switches to E-notation and this stays plain-decimal.
        dec = F.col(ref).try_cast(T.DecimalType(38, 10))
        s = dec.cast("string")
        s = F.regexp_replace(s, r"(\.\d*?)0+$", r"$1")
        s = F.regexp_replace(s, r"\.$", ".0")
        plain = F.col(ref).cast("string")
        mant = F.regexp_replace(
            F.regexp_extract(plain, r"^(-?\d+(?:\.\d+)?)[eE]", 1), r"\.0$", "")
        exp = F.regexp_extract(plain, r"[eE]([+-]?\d+)$", 1).cast("int")
        # Python pads exponents to TWO digits minimum but never truncates
        # (repr(1e100) == '1e+100'); lpad(…, 2, '0') silently truncated
        # three-digit exponents to a 10^90-off value (hypothesis r2)
        expdigits = F.abs(exp).cast("string")
        expdigits = F.when(F.length(expdigits) < 2,
                           F.concat(F.lit("0"), expdigits)).otherwise(expdigits)
        sci = F.concat(mant, F.lit("e"),
                       F.when(exp < 0, F.lit("-")).otherwise(F.lit("+")),
                       expdigits)
        fallback = F.when(plain.rlike("[eE]"), sci).otherwise(plain)
        exact = dec.isNotNull() & (dec.cast("double") == F.col(ref).cast("double"))
        return F.when(exact, s).otherwise(fallback)
    if dtype == "boolean":
        return F.when(col, F.lit("True")).when(~col, F.lit("False"))
    if dtype == "string":
        # float-string canonicalization: "^-?\d+(?:\.\d+)$" → repr(float())
        floatish = col.rlike(r"^-?\d+\.\d+$")
        canon = F.regexp_replace(col, r"(\.\d*?)0+$", r"$1")
        canon = F.regexp_replace(canon, r"\.$", ".0")
        return F.when(floatish, canon).otherwise(col)
    return col.cast("string")


def valid_value(col: Column) -> Column:
    """True when the value is usable (reference NULL semantics,
    functions.py:1882-1912): non-null, not a NULL-marker string, not
    whitespace-only."""
    return col.isNotNull() & ~col.isin(*_NULLISH) & (F.trim(col) != "")


def encode_iri_component(col: Column) -> Column:
    """Percent-encode like ``urllib.parse.quote(v, safe='_-.~:@=+%')``
    (reference functions.py:580-582) using only JVM-side expressions.

    ``F.url_encode`` is java.net.URLEncoder (form encoding); we post-fix the
    differences: space→%20 (not '+'), keep ``~ : @ = + %`` unencoded,
    encode ``*``.
    """
    c = F.url_encode(col)
    c = F.replace(c, F.lit("+"), F.lit("%20"))      # URLEncoder space → '+'
    c = F.replace(c, F.lit("%2B"), F.lit("+"))
    c = F.replace(c, F.lit("%7E"), F.lit("~"))
    c = F.replace(c, F.lit("%3A"), F.lit(":"))
    c = F.replace(c, F.lit("%40"), F.lit("@"))
    c = F.replace(c, F.lit("%3D"), F.lit("="))
    c = F.replace(c, F.lit("*"), F.lit("%2A"))
    c = F.replace(c, F.lit("%25"), F.lit("%"))      # last: un-encode literal '%'
    return c


@dataclass
class CompiledValue:
    """A lexical value expression + its row-validity condition.

    ``core``/``suffix`` (optional) factor the rendered term into a
    per-row part and a CONSTANT tail, i.e. ``expr == concat(core,
    lit(suffix))``. Narrow dedup keys on ``core`` alone and re-attaches
    the suffix after the shuffle — a literal's `^^<datatype>` decoration
    is ~47 bytes/row that would otherwise ride (and spill) the dedup
    hash for no information. Appending a fixed-per-entry suffix is
    injective, so dedup on the core is exact."""

    expr: Column
    valid: Column
    core: Column | None = None
    suffix: str | None = None


class ExprLayers:
    """Named-subexpression builder.

    Term constructors branch on their own inputs (``when(v.contains(
    "http"), v).otherwise(encode(v))``), which at the Column level
    DUPLICATES the input expression in every branch — nested over
    templates and IRI completion this grows combinatorially (observed:
    a 2-ref subject template expanded to >20 copies of the per-ref
    expression, blowing generated code past the JIT limit). Registering
    each intermediate as a named column in layered projections makes
    every reuse a cheap attribute reference; Catalyst's CollapseProject
    keeps non-trivial aliases that are referenced more than once.

    Every key is a function of the scan frame's columns and the planner's
    base, so the TriplesMaps of one fused logical-source pass share ONE
    instance (MappingPlanner.compile_all): equal subexpressions across
    them become one column, and their layer names cannot collide.
    """

    def __init__(self) -> None:
        self.layers: list[dict[str, Column]] = [{}, {}, {}]
        self._memo: dict = {}
        self._n = 0

    def add(self, level: int, key, col: Column) -> Column:
        memo_key = (level, key)
        if memo_key in self._memo:
            return _col(self._memo[memo_key])
        self._n += 1
        name = f"__x{level}_{self._n}"
        self.layers[level][name] = col
        self._memo[memo_key] = name
        return _col(name)

    def name_of(self, level: int, key) -> str | None:
        """Registered layer-column name for a key (the _TREE_MEMO key
        component for trees built on top of this layer reference)."""
        return self._memo.get((level, key))

    def apply(self, df: DataFrame) -> DataFrame:
        for layer in self.layers:
            if layer:
                df = df.withColumns(layer)
        return df


def _canon(df: DataFrame, ref: str, layers: ExprLayers | None) -> Column:
    raw = canonical_string(df, ref)
    if layers is not None:
        raw = layers.add(0, ("canon", ref), raw)
    return raw


def compile_template(
    df: DataFrame, template: str, *, encode: bool = True,
    layers: ExprLayers | None = None,
) -> CompiledValue:
    """Expand ``"http://x/{a}/{b}"`` into concat + validity condition.

    Encoding rule mirrors functions.py:1896-1899: a substituted value is
    percent-encoded iff the template text before the placeholder contains
    "http" and the value itself doesn't.
    """
    parts: list[Column] = []
    valid = _lit(True)
    pos = 0
    seen_http = False
    for m in _TEMPLATE_REF_RE.finditer(template):
        lit = template[pos : m.start()].replace(r"\{", "{").replace(r"\}", "}")
        if lit:
            parts.append(_lit(lit))
        seen_http = seen_http or ("http" in template[: m.start()])
        ref = m.group(1).split("[")[0] if "[" not in m.group(1) else m.group(1)
        raw = _canon(df, ref, layers)
        rkey = _layer_key(layers, 0, ("canon", ref))
        do_encode = encode and seen_http
        if rkey is not None:
            # valid/value chains over a layer reference depend only on
            # that name + flags — share one tree (_TREE_MEMO note)
            valid = valid & _memo_tree(("valid", rkey),
                                       lambda: valid_value(raw))
            v = _memo_tree(("tv", rkey, do_encode),
                           lambda: _template_value(raw, do_encode))
        else:
            valid = valid & valid_value(raw)
            v = _template_value(raw, do_encode)
        if layers is not None:
            v = layers.add(1, ("tv", ref, do_encode), v)
        parts.append(v)
        pos = m.end()
    tail = template[pos:].replace(r"\{", "{").replace(r"\}", "}")
    if tail:
        parts.append(_lit(tail))
    if not parts:
        parts = [_lit("")]
    return CompiledValue(expr=F.concat(*parts), valid=valid)


def _template_value(raw: Column, do_encode: bool) -> Column:
    v = F.trim(raw)
    if do_encode:
        v = F.when(v.contains("http"), v).otherwise(encode_iri_component(v))
    return v


def _layer_key(layers: ExprLayers | None, level: int, key) -> str | None:
    """_TREE_MEMO key component for a layer-registered reference: the
    registered name (trees over ``F.col(name)`` depend only on it), or
    None when unlayered — callers then build fresh, unmemoized trees."""
    if layers is None:
        return None
    return layers.name_of(level, key)


def compile_reference(
    df: DataFrame, ref: str, *, for_literal: bool = True,
    layers: ExprLayers | None = None,
) -> CompiledValue:
    raw = _canon(df, ref, layers)
    rkey = _layer_key(layers, 0, ("canon", ref))
    if rkey is not None:
        valid = _memo_tree(("valid", rkey), lambda: valid_value(raw))
        v = _memo_tree(("rv", rkey, for_literal),
                       lambda: _reference_value(raw, for_literal))
    else:
        valid = valid_value(raw)
        v = _reference_value(raw, for_literal)
    if layers is not None:
        v = layers.add(1, ("rv", ref, for_literal), v)
    return CompiledValue(expr=v, valid=valid)


def _reference_value(raw: Column, for_literal: bool) -> Column:
    v = F.trim(raw)
    if for_literal:
        v = F.replace(v, F.lit('"'), F.lit("'"))   # functions.py:1950
    return v


def _nt_escape_literal(col: Column) -> Column:
    """Escape backslash/newline/CR/tab for N-Triples literal bodies.

    The reference emits raw strings (only ``"``→``'``); we additionally
    escape control characters so the output is always valid N-Triples —
    a strict superset of valid outputs on clean data.
    """
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return c


def wrap_iri(value: Column, *, base: str | None = None) -> Column:
    """IRI term completion (semantify.py:6334-6350): values without "http"
    get the base IRI prepended (encoded under the default base)."""
    b = base if base else DEFAULT_BASE
    completed = F.when(value.contains("http"), value).otherwise(
        F.concat(F.lit(b), value if base else encode_iri_component(value))
    )
    return F.concat(F.lit("<"), completed, F.lit(">"))


def wrap_blank(value: Column) -> Column:
    """Blank-node term (semantify.py:6354-6367)."""
    v = F.replace(value, F.lit("/"), F.lit("2F"))
    v = encode_iri_component(v)
    v = F.replace(v, F.lit("%"), F.lit(""))
    v = F.replace(v, F.lit("."), F.lit("2E"))
    return F.concat(F.lit("_:"), v)


def wrap_literal(value: Column, datatype: Column | None, language: Column | None,
                 *, datatype_nullable: bool = False) -> Column:
    """Literal term with optional datatype/language decoration
    (semantify.py:6794-6885). ``datatype_nullable`` keeps the plain
    literal when a per-row inferred datatype is NULL (value sniffing)."""
    body = F.concat(F.lit('"'), _nt_escape_literal(value), F.lit('"'))
    if language is not None:
        return F.concat(body, F.lit("@"), language)
    if datatype is not None:
        decorated = F.concat(body, F.lit("^^<"), datatype, F.lit(">"))
        if datatype_nullable:
            return F.when(datatype.isNull(), body).otherwise(decorated)
        return decorated
    return body


_NATURAL_DT = {
    "tinyint": XSD + "integer", "smallint": XSD + "integer",
    "int": XSD + "integer", "bigint": XSD + "integer",
    "float": XSD + "double", "double": XSD + "double",
    "decimal": XSD + "decimal", "boolean": XSD + "boolean",
    "date": XSD + "date", "timestamp": XSD + "dateTime",
}


def natural_datatype(df: DataFrame, ref: str) -> str | None:
    """xsd datatype inferred from the source column's Spark type (the
    natural-mapping analogue of value sniffing at functions.py:16-65,
    applied at semantify.py:8537-8546 for typed DB sources)."""
    dtype = dict(df.dtypes).get(ref)
    if dtype is None:
        return None
    base = dtype.split("(")[0]
    return _NATURAL_DT.get(base)


def sniff_datatype(value: Column) -> tuple[Column, Column]:
    """Per-row value-sniffed (value, datatype IRI) for STRING sources —
    the reference's is_convertible_to_int / is_bool /
    is_convertible_to_double / is_date / is_datetime chain
    (functions.py:16-65, precedence at semantify.py:9492-9508: explicit
    datatype > integer > boolean > double > date > dateTime > plain).
    Booleans lower-case the lexical form like the reference. Runs as one
    whole-stage-codegen CASE chain, no UDF."""
    lower = F.lower(value)
    is_int = value.rlike(r"^[+-]?[0-9]+$")
    is_bool = lower.isin("true", "false")
    is_double = value.try_cast("double").isNotNull()
    # cheap regex prefilter so the expensive date/timestamp casts only
    # run on date-shaped values, not every plain string in the corpus
    datish = value.rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}")
    is_date = datish & value.rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$") \
        & value.try_cast("date").isNotNull()
    is_dt = datish & F.replace(value, F.lit(" T"), F.lit("T")) \
        .try_cast("timestamp").isNotNull()
    dt = (
        F.when(is_int, F.lit(XSD + "integer"))
        .when(is_bool, F.lit(XSD + "boolean"))
        .when(is_double, F.lit(XSD + "double"))
        .when(is_date, F.lit(XSD + "date"))
        .when(is_dt, F.lit(XSD + "dateTime"))
    )
    out_value = F.when(~is_int & is_bool, lower).otherwise(value)
    return out_value, dt


def compile_term_map(
    df: DataFrame,
    tm: TermMap,
    position: str,
    *,
    base: str | None = None,
    infer_datatypes: bool = False,
    func_maps: dict | None = None,
    layers: ExprLayers | None = None,
) -> CompiledValue:
    """Compile a non-join term map into an N-Triples term Column.

    ``position`` ∈ {subject, predicate, object, graph, datatype, language}.
    Returns the fully-wrapped term (``<iri>`` / ``_:b`` / ``"lit"...``).
    """
    if tm.kind == CONSTANT:
        return _compile_constant(tm, position)

    if tm.kind == TEMPLATE:
        cv = compile_template(df, tm.value, layers=layers)
    elif tm.kind == REFERENCE:
        is_lit = _is_literal_position(tm, position)
        cv = compile_reference(df, tm.value, for_literal=is_lit, layers=layers)
    elif tm.kind == "function":
        from .fnml import compile_function

        fm = (func_maps or {}).get(tm.value)
        if fm is None:
            raise ValueError(f"unresolved function map {tm.value!r}")
        cv = compile_function(df, fm, func_maps or {}, base=base, layers=layers)
    else:
        raise NotImplementedError(f"term map kind {tm.kind} must be handled by the planner")

    if position in ("datatype", "language"):
        return cv

    tt = tm.term_type
    if tt is None:
        if position in ("subject", "predicate", "graph"):
            tt = TT_IRI
        else:
            tt = TT_LITERAL if tm.kind in (REFERENCE, "function") else TT_IRI

    ckey = None
    if layers is not None:
        # name the lexical value so the term wrappers below (whose branches
        # repeat it, e.g. wrap_iri's 3 uses) reference one computed column
        lk = ("cv", tm.kind, tm.value, _is_literal_position(tm, position))
        expr = layers.add(2, lk, cv.expr)
        cv = CompiledValue(expr, cv.valid)
        ckey = _layer_key(layers, 2, lk)

    def _wrap(tag: tuple, build) -> Column:
        # term wrappers over the layer reference depend only on its name
        # + plan constants — share one tree (_TREE_MEMO note)
        if ckey is None:
            return build()
        return _memo_tree((*tag, ckey), build)

    if tt == TT_BLANKNODE:
        return CompiledValue(_wrap(("blank",), lambda: wrap_blank(cv.expr)),
                             cv.valid)
    if tt == TT_UNSAFE_IRI:
        return CompiledValue(
            _wrap(("unsafe",), lambda: F.concat(
                F.lit("<"), F.url_decode(cv.expr), F.lit(">"))),
            cv.valid)
    if tt == TT_IRI:
        return CompiledValue(
            _wrap(("iri", base), lambda: wrap_iri(cv.expr, base=base)),
            cv.valid)

    # Literal: resolve datatype / language (constant or map-valued)
    dt_col = lang_col = None
    valid = cv.valid
    # const_suffix: the decoration when it is a plan CONSTANT — lets
    # narrow dedup key on the bare body and re-attach the tail after the
    # shuffle ("" = undecorated; None = per-row decoration, can't split)
    const_suffix: str | None = ""
    if tm.language is not None:
        lang_col = _lit(tm.language)
        const_suffix = f"@{tm.language}"
    elif tm.language_map is not None:
        lcv = compile_term_map(df, tm.language_map, "language", base=base,
                               func_maps=func_maps, layers=layers)
        lang_col, valid = lcv.expr, valid & lcv.valid
        const_suffix = None
    elif tm.datatype is not None:
        dt_col = _lit(tm.datatype)
        const_suffix = f"^^<{tm.datatype}>"
    elif tm.datatype_map is not None:
        dcv = compile_term_map(df, tm.datatype_map, "datatype", base=base,
                               func_maps=func_maps, layers=layers)
        dt_col, valid = dcv.expr, valid & dcv.valid
        const_suffix = None
    elif infer_datatypes and tm.kind == REFERENCE:
        nd = natural_datatype(df, tm.value)
        if nd:
            dt_col = _lit(nd)
            const_suffix = f"^^<{nd}>"
        elif dict(df.dtypes).get(tm.value) == "string":
            # string source (CSV/XML/JSON text): per-row value sniffing
            # (reference functions.py:16-65)
            return CompiledValue(
                _wrap(("snifflit",), lambda: wrap_literal(
                    *sniff_datatype(cv.expr)[:2], None,
                    datatype_nullable=True)),
                valid)
    bare = _wrap(("lit0",), lambda: wrap_literal(cv.expr, None, None))
    if const_suffix == "":
        # undecorated literal: full == bare — one shared tree
        return CompiledValue(bare, valid, core=bare, suffix="")
    if const_suffix is not None:
        # constant decoration: full = bare + suffix, memoizable
        full = _wrap(("litsfx", const_suffix),
                     lambda: wrap_literal(cv.expr, dt_col, lang_col))
        return CompiledValue(full, valid, core=bare, suffix=const_suffix)
    # per-row datatype/language column — not a plan constant, no memo
    return CompiledValue(wrap_literal(cv.expr, dt_col, lang_col), valid)


def _is_literal_position(tm: TermMap, position: str) -> bool:
    if position != "object":
        return False
    return tm.term_type in (None, TT_LITERAL) or tm.term_type == TT_LITERAL


def _compile_constant(tm: TermMap, position: str) -> CompiledValue:
    v = tm.value
    if position in ("datatype", "language"):
        return CompiledValue(_lit(v), _lit(True))
    if tm.constant_is_iri or position in ("subject", "predicate", "graph"):
        term = f"<{v}>"
    else:
        # constant-shortcut literal, possibly with "...@lang" suffix
        # (reference parses it at semantify.py:6695-6713)
        if tm.language:
            term = f'"{v}"@{tm.language}'
        elif tm.datatype:
            term = f'"{v}"^^<{tm.datatype}>'
        else:
            term = f'"{v}"'
    # a constant term is ALL suffix for narrow dedup — no reason to
    # carry its bytes through the shuffle when the entry index names it
    return CompiledValue(_lit(term), _lit(True),
                         core=_lit(""), suffix=term)
