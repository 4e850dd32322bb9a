"""Arbitrary-JSON ingestion: validate raw JSON-string columns.

The reference validates ANY parsed JSON value (``validator.rs:29-33``,
``jsonschema-py/src/ser.rs`` converts arbitrary Python objects) — the typed
engine in :mod:`compiler` instead assumes a pre-typed table.  This module
closes that generality gap Spark-natively: one ``try_parse_json`` per
document into Spark 4's VARIANT type, then every keyword lowered to
variant-aware Column expressions — ``schema_of_variant`` for exact JSON
type tags (JSON ``null`` ≠ absent ≠ wrong type), ``try_variant_get`` casts
gated on the tag so Spark's lenient coercions (number→string) can never
leak a wrong-typed value into a check, ``map<string,variant>`` /
``array<variant>`` casts + higher-order functions for objects and arrays.

The schema walk is not repeated here: :func:`compiler.prepare_spec` is
the spec front end of both paths (draft, format-assertion default,
meta-validation, ``$ref`` inlining, and the draft's keyword vocabulary),
and :class:`compiler.Lowerer` is the one walk, here over :class:`JV`
nodes (``Lowerer(VariantType(), options)``).  This module keeps the JSON
node itself: its value primitives (type tags, bound compares, JSON
equality, ``uniqueItems`` canon), its side of the walk protocol (member
and position nodes, the NULL rule of a check, the observed rendering,
the element node of a ``forall``), and the run-time binding below.

Scale notes: the whole validation is ONE projection over ONE parse per
document — no shuffle, no Python in the hot path (the only Python-backed
expressions are the same three pandas-UDF formats the typed engine uses,
and only at doc scope).  Variant parse + path extraction are JVM
expressions, so the plan stays embarrassingly parallel in input splits
exactly like the typed ``violations`` plan.

Run-time binding: a node's type tag is a CASE chain over its
``schema_of_variant`` string, and every check tests it.  Spark shares no
subexpression inside ``Generate`` or a ``transform`` lambda, and the
optimizer expands each tag test into the whole chain, so a tag derived
at every reference ran ``schema_of_variant`` hundreds of times per row.
:class:`_Binder` instead binds each node's ``schema_of_variant`` string,
tag, map/array casts and ``properties`` members once: per row as plain
columns below the cell projection (``validate_json_strings``), and per
element inside the items lambda (both entry points).  The flagship plan
went from 372 ``schemaOfVariant`` calls to 8, one per node, and the
smaller expression also analyses faster at build time.  Every derived
Column of a node is still memoised on it (:class:`JV`), so each is built
once over py4j.  NULL is guarded once per check (:meth:`JV.checked`): a
check is never NULL, so validity is the bare conjunction of the checks
and is built only where it is read (combinators, claim gates, HOF
lambdas, verdicts).

``unevaluatedProperties``/``unevaluatedItems`` lower natively (round 5):
in expression land the 2020-12 annotation algebra — claims count only
from schema objects that were APPLIED and whose claim keywords VALIDATED
— composes directly as per-row gate Columns, bound once per row via a
single-element transform.  The few remaining unsupported constructs
raise :class:`JsonIngestUnsupported` at compile time (never at action
time): ECMA patterns that java.util.regex rejects (no Python fallback
on this path), pandas-UDF formats under an array/map lambda
(no per-element Python) and ``EngineOptions.custom_keywords`` (their
factories build typed-column predicates).  Callers (the suite harness)
fall back to the typed path for those.
"""

from __future__ import annotations

from decimal import Decimal
from functools import cached_property
from typing import Any, NamedTuple, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, VariantType

from jsonschema_rs_spark.compiler import (JsonIngestUnsupported, Lowerer,
                                          _as_double, _multiple_of_decimal,
                                          _or_all, _TypedNode, prepare_spec)
from jsonschema_rs_spark.functions.ecma import ecma_to_java
from jsonschema_rs_spark.spec import SpecError


def _null_str() -> Column:
    return F.lit(None).cast("string")


class JV:
    """One JSON instance node: a VARIANT Column where SQL NULL = absent
    (vs ``is_variant_null`` = JSON null).

    Every derived Column is built once per node and reused, which saves
    plan-build round trips; a node made by :meth:`bound` also reads its
    costly values (``schema_of_variant``, tag, casts, members) from
    columns bound once per row or element, which is what shares them at
    run time.  A lambda variable always gets a fresh ``JV``, so nothing
    memoised crosses a lambda scope."""

    def __init__(self, e: Column):
        self.e = e
        self._is: dict[tuple[str, ...], Column] = {}
        self._members: dict[str, JV] = {}

    @classmethod
    def bound(cls, e: Column, members: Optional[dict] = None,
              **cols: Column) -> "JV":
        """A node whose derived Columns ``cols`` (any of ``_sch``,
        ``tag``, ``m``, ``arr``) and ``members`` are given, as references
        to values bound by a :class:`_Binder`."""
        jv = cls(e)
        jv.__dict__.update(cols)
        jv._members.update(members or {})
        return jv

    @cached_property
    def _sch(self) -> Column:
        return F.schema_of_variant(self.e)

    @cached_property
    def tag(self) -> Column:
        """JSON type tag: null/string/boolean/integer/number/object/array;
        SQL NULL when the node is absent.  ``integer`` means the token was
        an integer literal (BIGINT or DECIMAL(p,0) — variant preserves the
        exact parse, which is what draft-4 strict-integer needs)."""
        e, sch = self.e, self._sch
        # plain str values become literals in the JVM call itself
        return (F.when(self.absent, _null_str())
                .when(F.is_variant_null(e), "null")
                .when(sch.startswith("OBJECT"), "object")
                .when(sch.startswith("ARRAY"), "array")
                .when(sch == "STRING", "string")
                .when(sch == "BOOLEAN", "boolean")
                .when((sch == "BIGINT")
                      | sch.rlike(r"^DECIMAL\([0-9]+,0\)$"), "integer")
                .otherwise("number"))

    def is_(self, *names: str) -> Column:
        """``tag IN names`` (NULL when absent)."""
        c = self._is.get(names)
        if c is None:
            t = self.tag
            c = self._is[names] = (t == names[0] if len(names) == 1
                                   else t.isin(*names))
        return c

    # tag-gated extractions: the gate is what keeps Spark's lenient
    # variant casts (5 -> "5") from leaking cross-type values
    @cached_property
    def s(self) -> Column:
        return F.when(self.is_("string"),
                      F.try_variant_get(self.e, "$", "string"))

    @cached_property
    def nd(self) -> Column:
        return F.when(self.is_("integer", "number"),
                      F.try_variant_get(self.e, "$", "double"))

    @cached_property
    def ndec(self) -> Column:
        """Exact integer value (38 digits) — only for integer-tagged."""
        return F.when(self.is_("integer"),
                      F.try_variant_get(self.e, "$", "decimal(38,0)"))

    @cached_property
    def b(self) -> Column:
        return F.when(self.is_("boolean"),
                      F.try_variant_get(self.e, "$", "boolean"))

    @cached_property
    def arr(self) -> Column:
        return F.try_variant_get(self.e, "$", "array<variant>")

    @cached_property
    def m(self) -> Column:
        return F.try_variant_get(self.e, "$", "map<string,variant>")

    def member(self, key: str) -> "JV":
        jv = self._members.get(key)
        if jv is None:
            jv = self._members[key] = JV(F.try_element_at(self.m, F.lit(key)))
        return jv

    @cached_property
    def absent(self) -> Column:
        return self.e.isNull()

    @cached_property
    def obs(self) -> Column:
        """Deterministic observed rendering: raw string for strings, the
        variant's JSON text otherwise."""
        return F.when(self.is_("string"), self.s).otherwise(
            self.e.try_cast("string"))


    # -- node protocol of compiler.scalar_checks --------------------------

    def can_be(self, *names: str) -> bool:
        return True  # the tag is only known at runtime

    def gate(self, names, p: Column) -> Column:
        """``p`` where the instance is one of ``names``, else pass."""
        return ~self.is_(*names) | p

    def type_is(self, name: str, draft) -> Column:
        if name == "number":
            return self.is_("integer", "number")
        if name != "integer":
            return self.is_(name)
        if draft == 4:
            # draft-4: 1.0 is NOT an integer (legacy/type_draft_4.rs:
            # 113-114 is_u64/is_i64).  Variant parses an integer LITERAL
            # in i64 range as BIGINT but a fractional-form literal (1.0)
            # as DECIMAL(p,0) — so BIGINT = integer literal.  Past i64,
            # genuine integer literals also land in DECIMAL(p,0); serde
            # accepts u64 there, so extend by value range [2^63, 2^64)
            # (the fractional-form literal in that window is a documented
            # mis-classification; the reference's own guarantee stops at
            # u64).
            u64_ext = ((self.ndec >= F.lit(Decimal(2 ** 63)))
                       & (self.ndec < F.lit(Decimal(2 ** 64))))
            return ((self._sch == F.lit("BIGINT"))
                    | (self.is_("integer") & u64_ext))
        return self.is_("integer") | (self.is_("number")
                                      & (self.nd == F.floor(self.nd)))

    def compare(self, bound, op: str) -> Column:
        """Bound compare over the JSON number: double math, with the exact
        decimal path for integer-tagged values against big integer bounds
        (mirrors compiler._bound_pred)."""
        if isinstance(bound, int) and not isinstance(bound, bool) \
                and 2 ** 53 < abs(bound) < 10 ** 37:
            dec = getattr(self.ndec, op)(F.lit(Decimal(bound)))
            dbl = getattr(self.nd, op)(F.lit(_as_double(bound)))
            return F.when(self.is_("integer"), dec).otherwise(dbl)
        return getattr(self.nd, op)(F.lit(_as_double(bound)))

    def equals(self, lit: Any) -> Column:
        """JSON-semantic deep equality against a Python literal."""
        if lit is None:
            return self.is_("null")
        if isinstance(lit, bool):
            return self.is_("boolean") & (self.b == F.lit(lit))
        if isinstance(lit, int) and 2 ** 53 < abs(lit) < 10 ** 37:
            # exact big-integer equality via decimal (1e15-scale doubles
            # lie); beyond 37 digits no decimal literal exists — double
            # equality is the documented residual there
            return self.is_("integer") & (self.ndec == F.lit(Decimal(lit)))
        if isinstance(lit, (int, float)):
            # 1 == 1.0 per JSON Schema numeric equality
            return (self.is_("integer", "number")
                    & (self.nd == F.lit(_as_double(lit))))
        if isinstance(lit, str):
            return self.is_("string") & (self.s == F.lit(lit))
        if isinstance(lit, list):
            a = self.arr
            p = self.is_("array") & (F.size(a) == len(lit))
            for i, sub in enumerate(lit):
                p = p & JV(F.try_element_at(a, F.lit(i + 1))).equals(sub)
            return p
        if isinstance(lit, dict):
            p = self.is_("object") & (F.size(self.m) == len(lit))
            for k, sub in lit.items():
                p = p & F.coalesce(self.member(k).equals(sub), F.lit(False))
            return p
        raise SpecError(f"unsupported literal in enum/const: {lit!r}")

    def one_of(self, values: list) -> Column:
        return _or_all([self.equals(v) for v in values])

    # -- applicator protocol of compiler.object_checks & co ----------------

    def present(self, key: str) -> Column:
        return F.map_contains_key(self.m, F.lit(key))

    def member_count(self) -> Column:
        return F.size(self.m)

    def child(self, col: Column) -> "JV":
        return JV(col)

    def name(self, col: Column) -> _TypedNode:
        return _TypedNode(StringType(), col)

    def unique(self) -> Column:
        canon = F.transform(self.arr, lambda el: _canon(JV(el)))
        return F.size(F.array_distinct(canon)) == F.size(self.arr)

    def key_regex(self, pat: str, where: str) -> str:
        return _java_pattern(pat, where)

    def multiple_of(self, q: Any) -> Column:
        ratio = self.nd / F.lit(_as_double(q))
        approx = F.abs(ratio - F.round(ratio, 0)) < F.lit(1e-9)
        kd = _multiple_of_decimal(q)
        if kd is not None:
            # variant keeps the literal's exact decimal — extract it
            # directly (no double round-trip needed for ≤6-scale
            # literals; mirrors compiler._lower_multiple_of)
            xd = F.when(self.is_("integer", "number"),
                        F.try_variant_get(self.e, "$", "decimal(38,6)"))
            exact = xd.isNotNull() & (xd.cast("double") == self.nd)
            flt = F.when(exact, xd % F.lit(kd) == 0).otherwise(approx)
        else:
            flt = approx
        if isinstance(q, int) and not isinstance(q, bool) \
                and abs(q) < 10 ** 37:
            # decimal modulo keeps integer-tagged values exact past 2^53;
            # a >37-digit divisor cannot be a decimal literal
            # (fuzz-found), so it falls to the double path
            return F.when(self.is_("integer"),
                          self.ndec % F.lit(Decimal(q)) == 0).otherwise(flt)
        return flt

    # -- walk protocol of compiler.Lowerer ---------------------------------

    dt = VariantType()

    def item(self, p: int) -> "JV":
        return JV(F.try_element_at(self.arr, F.lit(p + 1)))

    def checked(self, p: Column) -> Column:
        """An absent node passes every keyword (presence is the parent's
        concern, via required/dependencies); a NULL check on a present
        node fails.  The one NULL guard of the variant path."""
        return self.absent | F.coalesce(p, F.lit(False))

    def passes(self, valid: Column) -> Column:
        return valid  # never NULL: each check is guarded

    def absent_passes(self, p: Column) -> Column:
        return p  # the member's own checks pass it when absent

    def render(self, observed) -> Column:
        return self.obs  # the variant path renders the node itself

    def all_items(self, schema: Any, start: int, valid) -> Column:
        """``valid`` holds for every item from ``start`` on: each item's
        costly values are bound once (:class:`_Binder`), then ``valid``
        runs over the bound structs."""
        arr = (F.slice(self.arr, start + 1, F.size(self.arr)) if start
               else self.arr)
        b = _Binder(_needs([schema]), "el")
        return F.forall(b.transform(arr),
                        lambda x: valid(b.node(b.reader(x))))


def _java_pattern(pat: str, where: str) -> str:
    java = ecma_to_java(pat)
    if java is None:
        raise JsonIngestUnsupported(
            f"pattern {pat!r} at {where} does not compile in java.util.regex"
            " (no Python fallback on the variant path)")
    return java


# canonical rendering for uniqueItems (JSON equality: 1 == 1.0,
# true != 1, key order irrelevant) — bounded structural depth, then the
# variant's own JSON text (documented approximation past depth 4)
_CANON_DEPTH = 4


def _canon(jv, depth: int = _CANON_DEPTH) -> Column:
    # numeric canon (round 6, ADVICE): integer-tagged values render via
    # the exact decimal(38,0) so big integers beyond 2^53 stay distinct;
    # number-tagged INTEGRAL doubles render through the same decimal form
    # so 1 == 1.0 still holds; everything else (fractional, >38-digit)
    # keeps the double rendering on both tags, preserving equality.
    int_s = F.coalesce(jv.ndec.cast("string"), jv.nd.cast("string"))
    flt = jv.nd
    flt_s = F.coalesce(
        F.when((flt % F.lit(1.0)) == 0,
               flt.try_cast("decimal(38,0)").cast("string")),
        flt.cast("string"))
    scalar = (F.when(jv.is_("null"), F.lit("z:"))
              .when(jv.is_("boolean"), F.concat(F.lit("b:"),
                                                jv.b.cast("string")))
              .when(jv.is_("integer"), F.concat(F.lit("n:"), int_s))
              .when(jv.is_("number"), F.concat(F.lit("n:"), flt_s))
              .when(jv.is_("string"),
                    F.concat(F.lit("s:"), F.length(jv.s).cast("string"),
                             F.lit(":"), jv.s)))
    if depth <= 0:
        return F.coalesce(scalar,
                          F.concat(F.lit("v:"), jv.e.try_cast("string")))
    arr_c = F.concat(
        F.lit("a:["),
        F.concat_ws("|", F.transform(
            jv.arr, lambda el: _canon(JV(el), depth - 1))),
        F.lit("]"))
    # objects: canonical = sorted 'len(k):k=canon(v)' entries
    obj_entries = F.transform(
        F.map_keys(jv.m),
        lambda k: F.concat(F.length(k).cast("string"), F.lit(":"), k,
                           F.lit("="),
                           _canon(JV(F.try_element_at(jv.m, k)), depth - 1)))
    obj_c = F.concat(F.lit("o:{"),
                     F.concat_ws("|", F.array_sort(obj_entries)),
                     F.lit("}"))
    return (F.when(jv.is_("array"), arr_c)
            .when(jv.is_("object"), obj_c)
            .otherwise(scalar))


# --------------------------------------------------------------------------
# run-time binding: each node's costly values once per row or element
# --------------------------------------------------------------------------

# keywords that read a node's map<string,variant> / array<variant> cast
_OBJECT_KWS = frozenset((
    "properties", "required", "minProperties", "maxProperties",
    "propertyNames", "patternProperties", "additionalProperties",
    "dependentRequired", "dependentSchemas", "dependencies",
    "unevaluatedProperties"))
_ARRAY_KWS = frozenset((
    "items", "prefixItems", "additionalItems", "minItems", "maxItems",
    "uniqueItems", "contains", "unevaluatedItems"))


class _Need(NamedTuple):
    """What to bind at one node beyond its ``schema_of_variant`` string
    and tag: the map cast, the array cast, and the ``properties`` members
    (name -> their own need)."""
    m: bool
    arr: bool
    members: dict


def _needs(schemas: list) -> _Need:
    """The binding need of a node, read from the schemas applied to it:
    ``schemas`` and every subschema applied in place to the same instance
    (``allOf``/``anyOf``/``oneOf``, ``not``, ``if``/``then``/``else`` and
    the dependent schemas).  A value no check reads is not bound, and one
    not bound here is still derived where it is read."""
    todo = list(schemas)
    here: list[dict] = []
    while todo:
        s = todo.pop()
        if not isinstance(s, dict):
            continue
        here.append(s)
        for kw in ("allOf", "anyOf", "oneOf"):
            todo.extend(s.get(kw) or [])
        todo.extend(s[kw] for kw in ("not", "if", "then", "else")
                    if kw in s)
        for kw in ("dependentSchemas", "dependencies"):
            if isinstance(s.get(kw), dict):
                todo.extend(s[kw].values())
    kws = {kw for s in here for kw in s}
    lits = [s["const"] for s in here if "const" in s]
    lits += [v for s in here for v in s.get("enum") or []]
    props: dict[str, list] = {}
    for s in here:
        for k, sub in (s.get("properties") or {}).items():
            if sub is not True and sub != {}:
                props.setdefault(k, []).append(sub)
    return _Need(
        m=bool(kws & _OBJECT_KWS) or any(isinstance(v, dict) for v in lits),
        arr=bool(kws & _ARRAY_KWS) or any(isinstance(v, list) for v in lits),
        members={k: _needs(ss) for k, ss in props.items()})


class _Binder:
    """The costly values of a node and of its ``properties`` members,
    bound once per row or per array element (:func:`_needs` says which):
    every node's ``schema_of_variant`` string and the tag derived from
    it, the map and array casts, and each member's variant.  A value is
    bound one level above the values it reads: at doc scope a level is
    one projection (:meth:`select`), inside a lambda one ``transform`` of
    the array into structs (:meth:`transform`).  ``node`` makes the
    bound :class:`JV` from a name accessor, so the checks read references
    instead of re-deriving each value at every reference (the optimizer
    would also expand each tag test into the whole tag CASE chain).

    Doc-scope values are plain columns, not one struct: CollapseProject
    keeps a non-cheap alias that has several consumers, but it would
    inline a ``named_struct`` and simplify the field reads back into the
    full expressions."""

    def __init__(self, need: _Need, root: str):
        self.root = root
        self.levels: list[list] = [[]]  # level 0: the root, bound already
        self.level_of = {root: 0}
        # node(get): the bound root JV; ``get`` maps a bound name to its
        # Column
        self.node = self._bind(need, root, 0)

    def _put(self, level: int, fn) -> str:
        while len(self.levels) <= level:
            self.levels.append([])
        name = f"{self.root}_{len(self.level_of)}"
        self.levels[level].append((name, fn))
        self.level_of[name] = level
        return name

    def _bind(self, need: _Need, e: str, level: int):
        """Binds the values of the node whose variant is the name ``e``
        (bound at ``level``); returns the factory of its :class:`JV`."""
        put = self._put
        sch = put(level + 1, lambda g: F.schema_of_variant(g(e)))
        cols = {"_sch": sch, "tag": put(
            level + 2, lambda g: JV.bound(g(e), _sch=g(sch)).tag)}
        if need.m:
            cols["m"] = m = put(level + 1, lambda g: JV(g(e)).m)
        if need.arr:
            cols["arr"] = put(level + 1, lambda g: JV(g(e)).arr)
        members = {
            k: self._bind(sub, put(level + 2, lambda g, _k=k: JV.bound(
                g(e), m=g(m)).member(_k).e), level + 2)
            for k, sub in need.members.items()}

        def make(g) -> JV:
            return JV.bound(g(e), {k: mk(g) for k, mk in members.items()},
                            **{a: g(n) for a, n in cols.items()})
        return make

    def select(self, df: DataFrame) -> DataFrame:
        """``df`` (holding the root column) with every value bound as a
        column, one projection per level."""
        for level in self.levels[1:]:
            df = df.withColumns({n: fn(F.col) for n, fn in level})
        return df

    def transform(self, arr: Column) -> Column:
        """``arr`` (of root variants) as an array of structs, one
        ``transform`` per level: a level's struct holds its values and,
        as ``p``, the struct of the level below (the element itself below
        level 1), so no value is copied forward."""
        for top, level in enumerate(self.levels[1:]):
            arr = F.transform(arr, self._step(level, top))
        return arr

    def _step(self, level: list, top: int):
        def step(x: Column) -> Column:
            g = self.reader(x, top)
            return F.struct(x.alias("p"),
                            *[fn(g).alias(n) for n, fn in level])
        return step

    def reader(self, x: Column, top: int = -1):
        """``get`` over ``x``, a struct of level ``top`` (default: the last)
        of :meth:`transform`: a value bound at level ``l`` is a field of
        the struct ``top - l`` ``p`` fields down, and the root is that
        chain itself."""
        top = len(self.levels) - 1 if top < 0 else top
        chain = [x]

        def get(name: str) -> Column:
            depth = top - self.level_of[name]
            while len(chain) <= depth:
                chain.append(chain[-1].getField("p"))
            return (chain[depth] if name == self.root
                    else chain[depth].getField(name))
        return get


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------

# the spec front end, under the name ``perfbench/tracing.py`` times as the
# variant path's compile layer
_compile_json = prepare_spec


def json_valid_column(js: Column, schema: Any, options=None,
                      parsed: Column | None = None) -> Column:
    """Boolean validity of a raw JSON-string Column under ``schema`` —
    the arbitrary-JSON analogue of ``plans.validate.valid_column``.
    Malformed JSON (unparseable) is invalid; SQL NULL input is invalid
    (there is no document).

    ``parsed`` (round 6): an already-``try_parse_json``-ed VARIANT column
    to validate instead of re-parsing ``js``.  The constraint chain
    dereferences the document many times, and when several schemas
    validate the same column in one projection (suite replay, multi-spec
    gates) a caller-staged parse keeps it at one parse per row instead of
    one per reference."""
    resolved, options = _compile_json(schema, options)
    valid = Lowerer(VariantType(), options).lower_root(resolved).valid
    v = parsed if parsed is not None else F.try_parse_json(js)
    return v.isNotNull() & valid(JV(v))


def validate_json_strings(df: DataFrame, json_col: str, schema: Any,
                          options=None, id_cols=("doc_id",),
                          mode: str = "violations") -> DataFrame:
    """Validate a DataFrame column of raw JSON documents.

    mode='verdicts': id columns + ``valid`` boolean.
    mode='violations': one row per failed constraint —
    ``(*id_cols, constraint_id, observed)`` — plus a ``json/parse`` row
    for unparseable documents (reference: a document that does not parse
    cannot be validated at all).
    """
    if mode not in ("violations", "verdicts"):
        raise ValueError(f"unknown mode {mode!r}")
    resolved, options = _compile_json(schema, options)
    lowered = Lowerer(VariantType(), options).lower_root(resolved)
    # stage the parsed VARIANT once per row (round 6): every constraint
    # cell dereferences the document, and composing them over the raw
    # try_parse_json expression inlined the parse dozens of times per row
    # in the final projection; a named intermediate keeps a projection
    # boundary (CollapseProject will not merge a non-trivial alias with
    # multiple consumers), so the parse runs once
    keep = list(id_cols) + ([json_col] if json_col not in id_cols else [])
    df = df.select(*keep, F.try_parse_json(F.col(json_col)).alias("__jv"))
    # the same staging for each node's costly values (_Binder): one
    # projection per level, so every check reads plain columns
    binder = _Binder(_needs([resolved]), "__jv")
    df = binder.select(df)
    root = binder.node(F.col)
    v = root.e
    # SQL-NULL documents are NOT parse_ok (round 6, ADVICE): verdicts mode
    # already reported them invalid, but violations mode treated NULL as
    # parsed-and-vacuously-passing and emitted zero rows — the two modes
    # disagreed on the same input.  A NULL document now yields a
    # ``json/parse`` violation row (observed NULL: there is no text).
    parse_ok = v.isNotNull()
    if mode == "verdicts":
        ok = (F.col(json_col).isNotNull() & parse_ok
              & lowered.valid(root))
        return df.select(*id_cols, ok.alias("valid"))
    cells = lowered.constraints
    cell_arr = F.array(*[
        F.struct(F.lit(c.constraint_id).alias("constraint_id"),
                 c.pred(root).alias("ok"),
                 c.observed(root).cast("string").alias("observed"))
        for c in cells
    ]) if cells else F.array().cast(
        "array<struct<constraint_id:string,ok:boolean,observed:string>>")
    parse_cell = F.when(
        ~parse_ok,
        F.array(F.struct(
            F.lit("json/parse").alias("constraint_id"),
            F.lit(False).alias("ok"),
            F.substring(F.col(json_col), 1, 64).alias("observed"))))
    # documents that fail to parse report ONLY the parse violation; parsed
    # documents report their failed constraint cells
    all_cells = F.when(~parse_ok, parse_cell).otherwise(
        F.filter(cell_arr, lambda c: ~c.getField("ok")))
    # explode_OUTER + null filter (round 6): a plain explode lets
    # InferFiltersFromGenerate clone the whole variant cell array into a
    # size(...)>0 pre-filter, doubling the constraint evaluation per row
    out = (df.select(*id_cols, F.explode_outer(all_cells).alias("cell"))
             .filter(F.col("cell").isNotNull())
             .select(*id_cols,
                     F.col("cell.constraint_id").alias("constraint_id"),
                     F.col("cell.observed").alias("observed")))
    return out
