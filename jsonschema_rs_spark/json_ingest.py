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

Keyword decisions are shared with the typed engine, not repeated here:
:func:`compiler.prepare_spec` is the spec front end of both paths (draft,
format-assertion default, meta-validation, ``$ref`` inlining, and the
draft's keyword vocabulary); :func:`compiler.scalar_checks` lowers the
scalar keywords, :func:`compiler.object_checks`,
:func:`compiler.array_checks` and :func:`compiler.logic_checks` the
object, array and combinator keywords, and :func:`compiler.claim_gates`
folds the ``unevaluated*`` claim sources, for both paths, over
:class:`JV`/:class:`SJV` nodes here.  This module keeps the walk itself
and the keywords whose typed form differs: ``properties``, the items
family, ``allOf``, ``if``/``then``/``else`` and the ``unevaluatedItems``
consumer.

Scale notes: the whole validation is ONE projection over ONE parse per
document — no shuffle, no Python in the hot path (the only Python-backed
expressions are the same three pandas-UDF formats the typed engine uses,
and only at doc scope).  Variant parse + path extraction are JVM
expressions, so the plan stays embarrassingly parallel in input splits
exactly like the typed ``violations`` plan.

Build cost: the driver-side plan build, not execution, dominates this
path.  It is proportional to the number of Column nodes built over py4j;
each PySpark function call costs about five round trips beyond the call
itself (call-site capture).  So every derived Column of a node — its tag
CaseWhen, type tests, extractions, members and observed rendering — is
memoised on the node (:class:`JV`) and built once.  NULL is guarded once
per cell, in ``emit``: a cell is never NULL, so validity is the bare
conjunction of the cells and is built only where it is read
(combinators, claim gates, HOF lambdas, verdicts).

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
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonschema_rs_spark.compiler import (_ARRAY, _and_all, _as_double,
                                          _multiple_of_decimal, _or_all,
                                          array_checks, claim_gates,
                                          item_claims, logic_checks,
                                          object_checks,
                                          prepare_spec, scalar_checks)
from jsonschema_rs_spark.functions.ecma import ecma_to_java
from jsonschema_rs_spark.spec import SpecError


class JsonIngestUnsupported(ValueError):
    """Schema uses a construct the variant lowering cannot express; the
    caller should fall back to the typed-table engine."""


def _null_str() -> Column:
    return F.lit(None).cast("string")


class JV:
    """One JSON instance node: a VARIANT Column where SQL NULL = absent
    (vs ``is_variant_null`` = JSON null).

    Every derived Column is built once per node and reused: each PySpark
    function call costs several py4j round trips, so rebuilding the tag
    CaseWhen on every access dominated the plan build.  A lambda variable
    always gets a fresh ``JV``, so nothing memoised crosses a lambda
    scope."""

    def __init__(self, e: Column):
        self.e = e
        self._is: dict[tuple[str, ...], Column] = {}
        self._members: dict[str, JV] = {}

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
        return (F.when(self.absent, _null_str())
                .when(F.is_variant_null(e), F.lit("null"))
                .when(sch.startswith("OBJECT"), F.lit("object"))
                .when(sch.startswith("ARRAY"), F.lit("array"))
                .when(sch == "STRING", F.lit("string"))
                .when(sch == "BOOLEAN", F.lit("boolean"))
                .when((sch == "BIGINT")
                      | sch.rlike(r"^DECIMAL\([0-9]+,0\)$"),
                      F.lit("integer"))
                .otherwise(F.lit("number")))

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

    def child(self, col: Column) -> "JV":
        return JV(col)

    def name(self, col: Column) -> "JV":
        return SJV(col)

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


class SJV(JV):
    """A plain STRING treated as a JSON instance (propertyNames applies
    subschemas to each member NAME).  Its variant is NULL, so every
    non-string extraction is NULL."""

    def __init__(self, s: Column):
        super().__init__(F.lit(None).cast("variant"))
        self.s = self.obs = s

    def is_(self, *names: str) -> Column:
        return F.lit("string" in names)

    def can_be(self, *names: str) -> bool:
        return "string" in names

    def gate(self, names, p: Column) -> Column:
        return p  # a name is always a string

    def type_is(self, name: str, draft) -> Column:
        return F.lit(name == "string")

    @cached_property
    def absent(self) -> Column:
        return self.s.isNull()


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
# keyword lowering over a variant node
# --------------------------------------------------------------------------

class _JsonLowerer:
    """Walks a RESOLVED spec over a variant node and emits ``cells`` =
    [(constraint_id, pred, observed)] for the violations stream
    (conjunctive scopes only — combinator branches collapse into one
    cell, reference basic-output granularity for failed branches).  A
    cell is never NULL and passes when its node is absent, so a node's
    full validity (:meth:`valid`, read by combinators, claim gates, HOF
    lambdas and verdicts) is just the conjunction of its cells.

    The structural walk mirrors the typed engine's ``_Lowered`` contract
    (compiler.py) but the instance domain is JSON-via-variant, so absent /
    JSON-null / wrong-type distinctions are native instead of
    typed-column approximations.  The spec arrives from
    :func:`compiler.prepare_spec`, so it holds only keywords its draft
    defines.  The scalar, object, array and combinator keywords come from
    the shared ``compiler`` lowerings (``scalar_checks``,
    ``object_checks``, ``array_checks``, ``logic_checks``), which reach
    subschemas through the ``sub`` hook of :meth:`lower`; the draft is
    read only for keyword forms (tuple ``items``)."""

    def __init__(self, options):
        self.options = options

    def _py_leaf(self, where: str, in_lambda: bool):
        """``scalar_checks`` hook for Python-backed leaves: a pandas-UDF
        format runs in the plain projection; inside an array/map lambda
        it has no evaluation site, and an untranslatable pattern has no
        Python fallback on this path."""
        def leaf(py_fn, udf_builder, what):
            if what == "pattern":
                raise JsonIngestUnsupported(
                    f"pattern at {where} does not compile in "
                    "java.util.regex (no Python fallback on the variant "
                    "path)")
            if in_lambda:
                raise JsonIngestUnsupported(
                    f"{what} is pandas-UDF-backed and cannot run inside "
                    "an array/map lambda on the variant path")
            return lambda n: udf_builder(n.s)
        return leaf

    def valid(self, schema: Any, jv, path: tuple[str, ...],
              in_lambda: bool = True) -> Column:
        """Full validity of ``schema`` at ``jv``; ``in_lambda`` defaults
        to the HOF-lambda rules (no pandas-UDF formats)."""
        return _and_all([p for _, p, _ in
                         self.lower(schema, jv, path, in_lambda)])

    def lower(self, schema: Any, jv, path: tuple[str, ...],
              in_lambda: bool = False) -> list:
        cells: list[tuple[str, Column, Column]] = []
        if schema is True or schema == {}:
            return cells
        if schema is False:
            cells.append(("/".join(path) or "false", jv.absent, jv.obs))
            return cells
        if not isinstance(schema, dict):
            raise SpecError(f"schema must be dict/bool, got {schema!r}")
        custom = sorted(set(schema) & set(self.options.custom_keywords))
        if custom:
            raise JsonIngestUnsupported(
                f"custom keyword(s) {custom} at {'/'.join(path) or '#'}: "
                "custom keyword factories build typed-column predicates "
                "and have no variant lowering")

        def emit(kw_path: tuple[str, ...], pred: Column,
                 obs: Optional[Column] = None):
            # absent node passes every keyword (presence is the parent's
            # concern via required/dependencies); the one NULL guard
            cells.append(("/".join(kw_path),
                          jv.absent | F.coalesce(pred, F.lit(False)),
                          jv.obs if obs is None else obs))

        def sub(s, segs, at, lam):
            # one Column per node: claim gates share their branch terms
            memo: dict = {}

            def valid(n):
                if id(n) not in memo:
                    memo[id(n)] = (n, self.valid(s, n, path + segs,
                                                 in_lambda or lam))
                return memo[id(n)][1]
            return valid

        def emit_checks(checks):
            for chk in checks:
                o = chk.observed
                emit(path + chk.segs, chk.pred(jv),
                     F.lit(o) if isinstance(o, str) else None)

        where = "/".join(path)
        for chk in scalar_checks(schema, jv, self.options, where,
                                 self._py_leaf(where, in_lambda)):
            emit(path + (chk.keyword,), chk.pred(jv))
        for k, s in (schema.get("properties") or {}).items():
            # no object re-gate: ``m`` is NULL for a non-object, so every
            # member is absent and its cells pass
            cells.extend(self.lower(s, jv.member(k), path + (k,),
                                    in_lambda))
        emit_checks(object_checks(schema, jv, sub, where))
        self._items(schema, jv, path, emit, cells, in_lambda)
        emit_checks(array_checks(schema, sub))
        self._unevaluated_items(schema, jv, path, emit, sub)

        # ---- combinators -------------------------------------------------
        if "allOf" in schema:
            for i, s in enumerate(schema["allOf"]):
                cells.extend(self.lower(s, jv, path + ("allOf", str(i)),
                                        in_lambda))
        emit_checks(logic_checks(schema, sub))
        if "if" in schema:
            def branch(kw):
                return (sub(schema[kw], (kw,), None, False)(jv)
                        if kw in schema else F.lit(True))
            emit(path + ("if",), F.when(branch("if"), branch("then"))
                 .otherwise(branch("else")))
        return cells

    # -- array keywords ----------------------------------------------------

    def _items(self, schema, jv, path, emit, cells, in_lambda):
        """The items family: tuple and rest forms per draft (mirrors
        compiler._lower_array)."""
        items = schema.get("items")
        prefix: list = []
        rest = None
        rest_kw = "items"
        draft = self.options.draft
        if draft == 2020 or (draft is None and "prefixItems" in schema):
            prefix = schema.get("prefixItems") or []
            rest = items
        elif isinstance(items, list):
            prefix = items
            rest = schema.get("additionalItems")
            rest_kw = "additionalItems"
        else:
            rest = items
        for j, s in enumerate(prefix):
            # no array re-gate: the array cast is NULL for a non-array,
            # so every element is absent and its cells pass
            cells.extend(self.lower(
                s, JV(F.try_element_at(jv.arr, F.lit(j + 1))),
                path + ("items", str(j)), in_lambda))
        n_pre = len(prefix)
        if rest is False:
            emit(path + (rest_kw,),
                 jv.gate(_ARRAY, F.size(jv.arr) <= n_pre))
        elif isinstance(rest, (dict, bool)) and rest is not True:
            p = F.forall(
                F.transform(
                    jv.arr, lambda el, i: F.when(i < n_pre, F.lit(True))
                    .otherwise(self.valid(rest, JV(el),
                                          path + (rest_kw,)))),
                lambda x: x)
            emit(path + (rest_kw,), jv.gate(_ARRAY, p))

    def _unevaluated_items(self, schema, jv, path, emit, sub):
        """``unevaluatedItems`` over the runtime annotation algebra: each
        ``claim_gates`` record folds to a gate Column, bound once per row
        via a single-element transform so the per-item lambda reads
        booleans."""
        ue = schema.get("unevaluatedItems")
        if not isinstance(ue, (dict, bool)):
            return
        bind, claimed = item_claims(claim_gates(schema, "items", sub), sub)
        ue_ok = sub(ue, ("unevaluatedItems",), "child", True)

        def _cell(b, el, i):
            el = JV(el)
            return claimed(b, el, i) | ue_ok(el)

        bound = F.struct(*bind(jv))
        p = F.element_at(F.transform(F.array(bound), lambda b: F.forall(
            F.transform(jv.arr, lambda el, i: _cell(b, el, i)),
            lambda xx: xx)), 1)
        emit(path + ("unevaluatedItems",), jv.gate(_ARRAY, p))

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
    v = parsed if parsed is not None else F.try_parse_json(js)
    valid = _JsonLowerer(options).valid(resolved, JV(v), (),
                                        in_lambda=False)
    return v.isNotNull() & valid


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
    # stage the parsed VARIANT once per row (round 6): every constraint
    # cell dereferences the document, and composing them over the raw
    # try_parse_json expression inlined the parse dozens of times per row
    # in the final projection; a named intermediate keeps a projection
    # boundary (CollapseProject will not merge a non-trivial alias with
    # multiple consumers), so the parse runs once
    keep = list(id_cols) + ([json_col] if json_col not in id_cols else [])
    df = df.select(*keep, F.try_parse_json(F.col(json_col)).alias("__jv"))
    v = F.col("__jv")
    lw = _JsonLowerer(options)
    # SQL-NULL documents are NOT parse_ok (round 6, ADVICE): verdicts mode
    # already reported them invalid, but violations mode treated NULL as
    # parsed-and-vacuously-passing and emitted zero rows — the two modes
    # disagreed on the same input.  A NULL document now yields a
    # ``json/parse`` violation row (observed NULL: there is no text).
    parse_ok = v.isNotNull()
    if mode == "verdicts":
        ok = (F.col(json_col).isNotNull() & parse_ok
              & lw.valid(resolved, JV(v), (), in_lambda=False))
        return df.select(*id_cols, ok.alias("valid"))
    cells = lw.lower(resolved, JV(v), ())
    cell_arr = F.array(*[
        F.struct(F.lit(cid).alias("constraint_id"), p.alias("ok"),
                 obs.cast("string").alias("observed"))
        for cid, p, obs in cells
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
