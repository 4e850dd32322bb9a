"""Driver-side spec → Column compiler.

The analogue of the reference's compile phase
(``crates/jsonschema/src/compiler.rs:351-434``: per-keyword dispatch building
a tree of specialized validators), inverted for a columnar engine: instead of
a validator *tree* interpreted per document, every keyword lowers to a
specialized ``pyspark.sql.Column`` *expression builder*, and all constraints
fuse into ONE projection over ONE scan (the plan-level analogue of the
reference's fused keyword variants, ``additional_properties.rs:79-864``).

Lowering is specialized by the **Spark data type** at each schema location —
the columnar analogue of the reference's compile-time monomorphization
(``maximum.rs:98-133`` u64/i64/f64 variants, ``type_.rs:295-329`` bitmasks):
a statically-satisfied keyword lowers to ``lit(True)`` and a statically-
impossible one to ``lit(False)``, for free.

Scopes:

- ``doc``     — predicate over the document root struct.
- ``element`` — predicate over one element of a doc-rooted array column
  (signature ``pred(x, i)`` with 0-based index ``i``), evaluated inside
  array higher-order functions so no shuffle and no explode is needed for
  verdicts; violation rows get ``span_index = i``.

Null semantics follow JSON Schema: an absent member (≡ NULL in the typed
world) passes every keyword except ``required`` — enforced by wrapping each
descent in ``isNull() | pred``.
"""

from __future__ import annotations

import dataclasses
import operator
from dataclasses import dataclass, field
from functools import partial, reduce
from typing import Any, Callable, Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    VariantType,
)

from jsonschema_rs_spark.spec import SpecError, resolve_refs, validate_spec
from jsonschema_rs_spark.functions.ecma import (
    driver_regex_matcher,
    ecma_to_java,
    python_fallback,
)
from jsonschema_rs_spark.functions.formats import FORMATS, FORMATS_PY
from jsonschema_rs_spark.metaschema import validate_against_metaschema

_INTEGRALS = (ByteType, ShortType, IntegerType, LongType)
_FRACTIONALS = (FloatType, DoubleType, DecimalType)


def _is_numeric(dt: DataType) -> bool:
    return isinstance(dt, _INTEGRALS + _FRACTIONALS)


# --------------------------------------------------------------------------
# python-check staging (Arrow adapter columns for HOF plans)
# --------------------------------------------------------------------------
#
# Spark bans Python UDFs inside higher-order-function lambdas.  Exploded
# plans evaluate predicates in plain projections, so a pandas-UDF leaf is
# legal there.  HOF plans instead *stage* each python-backed leaf as one
# array<boolean> column (``adapter(transform(arr, extract))`` — the planner
# extracts it into ArrowEvalPython), and the leaf predicate self-resolves to
# ``element_at(staged, i+1)`` whenever a staging context is active at
# plan-build time.  Because the LEAF resolves (not the whole constraint),
# any column-algebra composition wrapped around it — if/then gates, anyOf /
# oneOf / not, tuple index gates, field-descent null passes — evaluates
# identically on both paths.

_ACTIVE_STAGES: list[dict] = []


class py_stage_context:
    """Plan-build-time context: maps PyStage.stage_id -> staged column name."""

    def __init__(self, mapping: dict):
        self.mapping = mapping

    def __enter__(self):
        _ACTIVE_STAGES.append(self.mapping)
        return self.mapping

    def __exit__(self, *exc):
        _ACTIVE_STAGES.pop()
        return False


def _stage_lookup(stage_id: int):
    if _ACTIVE_STAGES and stage_id in _ACTIVE_STAGES[-1]:
        return _ACTIVE_STAGES[-1][stage_id]
    return None


@dataclass
class PyStage:
    """One stageable python-backed leaf check (element scope)."""

    stage_id: int
    # doc root -> the array the leaf's element belongs to
    array: Callable[[Column], Column]
    array_key: tuple
    # array element -> the string value the python check consumes
    extract: Callable[[Column], Column]
    py_fn: Callable[[str], bool]
    # top-level element field the extraction reads (scan-pruning hint)
    touched: Optional[frozenset] = None


# --------------------------------------------------------------------------
# compiled artifacts
# --------------------------------------------------------------------------

@dataclass
class CompiledConstraint:
    """One leaf constraint, ready to fuse into the validation projection."""

    constraint_id: str
    scope: str  # 'doc' | 'element'
    # doc:      pred(root) -> BooleanColumn ; observed(root) -> StringColumn
    # element:  pred(x, i) -> BooleanColumn ; observed(x, i) -> StringColumn
    pred: Callable[..., Column]
    observed: Callable[..., Column]
    # element scope only: doc-root -> array Column
    array: Optional[Callable[[Column], Column]] = None
    array_key: Optional[tuple[str, ...]] = None  # grouping key for fusion
    # introspection only: the plain python check when this constraint's leaf
    # is python-backed.  Plans do NOT consult this — the leaf pred resolves
    # itself through the staging context (see PyStage above), so gates and
    # combinator wrapping apply identically on staged and direct paths.
    py_fn: Optional[Callable] = None
    # introspection only: positional gate folded into pred by tuple forms
    index_gate: Optional[tuple] = None
    # doc scope only, optional: fn(node) -> array<struct<pos:int,obs:string>>
    # of FAILING positions — lets a node-level check (conditional
    # unevaluatedItems, whose claim bounds need the whole array) still emit
    # one violation row PER POSITION (round 4; reference
    # ``unevaluated_items.rs`` reports per-item errors)
    viol_positions: Optional[Callable[..., Column]] = None
    # companion both-polarity builder for the annotation-units stream:
    # fn(node) -> array<struct<pos:int,ok:boolean,obs:string>> over ALL
    # positions (same gated claim math via _gated_cells)
    unit_positions: Optional[Callable[..., Column]] = None
    # element scope: the top-level element fields this constraint reads
    # (None = unknown/whole element).  Lets plans project the array down to
    # arrays_zip(touched fields) so nested parquet pruning reaches the scan
    # even through Generate+Filter.
    touched: Optional[frozenset] = None
    # basic-output locations (reference output.rs:104-200 / paths.rs:60-106):
    # keywordLocation as a full JSON Pointer, and the instance field path
    # (element-relative at element scope, root-relative at doc scope) that
    # plans combine with the span index into instanceLocation.
    schema_path: str = ""
    instance_fields: tuple = ()


@dataclass
class CompiledSpec:
    constraints: list[CompiledConstraint]
    valid: Callable[[Column], Column]  # doc root -> boolean (is_valid fast path)
    schema: Any
    table_schema: StructType
    # python-backed element-leaf checks to stage for HOF plans
    py_stages: list[PyStage] = field(default_factory=list)


@dataclass
class EngineOptions:
    """Mirrors reference ``ValidationOptions`` (``options.rs:20-50``)."""

    # Draft dialect: 4, 6, 7, 2019, 2020, or None.  None = auto: sniff the
    # root ``$schema`` URI (reference ``options.rs:58-82``); no ``$schema``
    # -> the permissive merged dialect (round-1 behavior).  The draft
    # controls the keyword vocabulary (``prepare_spec`` drops keywords the
    # draft does not define), draft-4 boolean vs numeric exclusive bounds,
    # tuple ``items`` vs ``prefixItems``, and the format-assertion default
    # below.
    draft: int | None = None
    # None = per-draft default: formats ASSERT under drafts 4/6/7 (and the
    # merged dialect), and are annotation-only under 2019-09/2020-12 unless
    # explicitly enabled — the spec's format-vocabulary split, mirrored by
    # the reference's should_validate_formats option.
    validate_formats: bool | None = None
    ignore_unknown_formats: bool = True
    # $recursiveRef/$dynamicRef unroll budget (reference compiles dynamic-
    # scope thunks, ref_.rs:82-155; a columnar plan needs a finite tree).
    # On a typed table, a limit >= the type's nesting depth is EXACT:
    # deeper instances cannot exist.
    recursion_limit: int = 3
    # name -> factory(value, dtype) -> (pred_builder, observed_builder)
    custom_keywords: dict[str, Callable] = field(default_factory=dict)
    custom_formats: dict[str, Callable[[Column], Column]] = field(default_factory=dict)
    # uri -> schema dict: extra $ref-addressable resources, supplied on the
    # driver (the registry analogue, ``registry.rs:103-261``; retrieval is
    # always ahead-of-time — never on executors; see ``retriever.fetch_
    # resources`` for the ahead-of-time URL fetcher analogue of
    # ``retriever.rs``)
    resources: dict[str, Any] = field(default_factory=dict)
    # name -> (string Column -> boolean Column): custom contentEncoding /
    # contentMediaType checks (reference ``options.rs:137-258``); built-ins
    # (base64, application/json) can be overridden by name.
    custom_encodings: dict[str, Callable[[Column], Column]] = field(
        default_factory=dict)
    custom_media_types: dict[str, Callable[[Column], Column]] = field(
        default_factory=dict)
    # support-removal toggles — the reference's per-name
    # ``without_content_encoding_support("base64")`` /
    # ``without_content_media_type_support("application/json")``
    # (``options.rs:152-258``).  True = all supported (default), False =
    # keyword is pure annotation, a collection of names = those specific
    # encodings/media types are removed (they annotate; others still
    # assert).
    content_encoding_support: Any = True
    content_media_type_support: Any = True


# --------------------------------------------------------------------------
# lowering context
# --------------------------------------------------------------------------

def _sp(ctx) -> tuple:
    """The node's effective schema pointer (falls back to the compact path)."""
    return ctx.spointer if ctx.spointer is not None else ctx.path


def _esc_pointer(seg: str) -> str:
    """RFC 6901 JSON Pointer token escaping."""
    return seg.replace("~", "~0").replace("/", "~1")


@dataclass
class _Ctx:
    dtype: DataType
    path: tuple[str, ...]          # compact schema pointer segments
    scope: str                     # 'doc' | 'element'
    # FULL schema JSON Pointer segments (includes 'properties' etc.) for
    # basic-output keywordLocation (reference paths.rs:60-106); compact
    # `path` stays the stable constraint_id.  None = same as `path`.
    spointer: Optional[tuple[str, ...]] = None
    # data path: pure struct-field descent from the scope root (excludes
    # combinator segments like allOf/0) — used to build array accessors
    dpath: tuple[str, ...] = ()
    # True while the node is reachable from the scope root via struct fields
    # only (element-scope violation rows are only possible then)
    elementable: bool = True
    # for scope='element': doc-root -> the array this element belongs to
    array: Optional[Callable[[Column], Column]] = None
    array_key: Optional[tuple[str, ...]] = None
    # True when a python-backed leaf can be evaluated at this node.  Doc
    # scope: everywhere except inside an array or map lambda (nested
    # arrays, contains, map values, property names), where the pandas UDF
    # would sit in the lambda.  Element scope: when the leaf can be staged
    # as an Arrow adapter column (single array, pure field descent from
    # the element root).
    stageable: bool = False
    options: EngineOptions = field(default_factory=EngineOptions)

    def cid(self, *extra: str) -> str:
        return "/".join(self.path + tuple(extra))

    def child(self, **changes) -> "_Ctx":
        """This context with ``changes``: a child node's, or a
        subschema's at the same node."""
        return dataclasses.replace(self, **changes)


@dataclass
class _Lowered:
    """Constraints emitted at a node + the node's combined validity fn
    (used by combinators; a function of the node)."""

    constraints: list[CompiledConstraint]
    valid: Callable[..., Column]


def _true(*_a) -> Column:
    return F.lit(True)


_node_obs = operator.attrgetter("obs")  # a check's observed: its node


def _and(fns: list[Callable[..., Column]]) -> Callable[..., Column]:
    if not fns:
        return _true

    def combined(*a):
        out = fns[0](*a)
        for f in fns[1:]:
            out = out & f(*a)
        return out

    return combined


def _obs_str(dt: DataType) -> Callable[[Column], Column]:
    """Observed-value rendering; complex types via to_json so the string is
    deterministic (struct field order is fixed by the table schema)."""
    if isinstance(dt, (StructType, ArrayType, MapType)):
        return lambda c: F.to_json(c)
    return lambda c: c.cast("string")


# --------------------------------------------------------------------------
# keyword lowerings (value-level; each returns pred over the node instance)
# --------------------------------------------------------------------------


def _as_double(v) -> float:
    """float(v), saturating to ±inf for integers beyond float range
    (fuzz-found OverflowError on 10**400-scale bounds — comparisons
    against an unrepresentable bound degrade gracefully to ±inf)."""
    try:
        return float(v)
    except OverflowError:
        import math

        return math.inf if v > 0 else -math.inf


def _bound_pred(v, op: str, dt: DataType) -> Callable[[Column], Column]:
    """min/max/exclusive bound comparison, EXACT past 2^53.

    The reference compares u64/i64/f64 exactly (``keywords/maximum.rs:
    48-60``, torture values 2^54±1 at ``:141-145``).  Spark long-vs-long
    literal comparison is already exact; the lossy case is a FRACTIONAL
    column against an integer bound beyond 2^53 — Catalyst promotes the
    long literal to double and the bound itself rounds.  There the compare
    runs in decimal(38,6) (doubles within ±1 of any >2^53 integer bound are
    integral, so the cast is exact where it matters), falling back to the
    double compare far from the bound where decimal would overflow.
    Integer bounds beyond int64 always take a decimal literal."""
    exact_int = isinstance(v, int) and not isinstance(v, bool)
    if exact_int and abs(v) >= 10 ** 37:
        # beyond what a decimal(38) literal can carry: double compare is
        # the best available (documented residual; the reference's u64/i64
        # range tops out at 2^64 anyway)
        return lambda x, _op=op, _fv=_as_double(v): getattr(x, _op)(F.lit(_fv))
    if exact_int and abs(v) >= 10 ** 31 and isinstance(dt, _FRACTIONALS) \
            and not (isinstance(dt, DecimalType) and dt.scale == 0):
        # beyond decimal(38,6)'s 32 integer digits the NEAR-bound compare
        # can no longer run in decimal, so the whole compare is double
        # (documented residual; the reference's exactness guarantee tops
        # out at 2^64 ≈ 1.8e19 — round 5 moved this down from 1e37: bounds
        # in [1e31, 1e37) used to take the decimal path whose 1e31
        # far-guard was unsound for values near such a bound)
        return lambda x, _op=op, _fv=_as_double(v): getattr(x, _op)(F.lit(_fv))
    if exact_int and abs(v) > 2 ** 53 and isinstance(dt, _FRACTIONALS) \
            and not (isinstance(dt, DecimalType) and dt.scale == 0):
        from decimal import Decimal

        dv, fv = Decimal(v), float(v)

        def pred(x: Column, _op=op, _dv=dv, _fv=fv) -> Column:
            # decimal(38,6) carries 32 integer digits; 1e31 keeps margin.
            # Past it the double compare is safe: the bound itself is
            # < 1e31 there is no 'far' value within rounding distance.
            far = F.abs(x) >= F.lit(1e31)
            return F.when(far, getattr(x, _op)(F.lit(_fv))).otherwise(
                getattr(x.cast("decimal(38,6)"), _op)(F.lit(_dv)))

        return pred
    if exact_int and abs(v) >= 2 ** 63:
        from decimal import Decimal

        return lambda x, _op=op, _dv=Decimal(v): getattr(x, _op)(F.lit(_dv))
    return lambda x, _op=op, _v=v: getattr(x, _op)(F.lit(_v))


def _num_literal(v, dt: DataType):
    """A literal Spark can carry for numeric equality against ``dt`` —
    integers beyond int64 have no long literal (fuzz-found
    NumberFormatException): impossible on integral columns (None = can
    never match), exact decimal on wide-enough decimal columns, double
    on fractional columns."""
    if isinstance(v, int) and not isinstance(v, bool) and abs(v) >= 2 ** 63:
        if isinstance(dt, DecimalType):
            from decimal import Decimal

            if len(str(abs(v))) <= dt.precision - dt.scale:
                return Decimal(v)
            return None
        if isinstance(dt, _INTEGRALS):
            return None
        return _as_double(v)
    return v


def _json_eq(dt: DataType, v: Any) -> Callable[[Column], Column]:
    """Equality with a literal under JSON semantics (reference
    ``keywords/helpers.rs:19-38``: 1 == 1.0 across representations — native
    in Spark's numeric coercion; object key order is fixed by the typed
    struct so order-insensitivity is free)."""
    if v is None:
        return lambda x: x.isNull()
    if isinstance(v, bool):
        if isinstance(dt, BooleanType):
            return lambda x: x == F.lit(v)
        return lambda x: F.lit(False)
    if isinstance(v, (int, float)):
        if _is_numeric(dt):
            lv = _num_literal(v, dt)
            if lv is None:
                return lambda x: F.lit(False)
            return lambda x, _lv=lv: x == F.lit(_lv)
        return lambda x: F.lit(False)
    if isinstance(v, str):
        if isinstance(dt, StringType):
            return lambda x: x == F.lit(v)
        return lambda x: F.lit(False)
    if isinstance(v, dict):
        if isinstance(dt, StructType):
            def eq_struct(x: Column) -> Column:
                out = F.lit(True)
                for f_ in dt.fields:
                    fv = v.get(f_.name)
                    out = out & _json_eq(f_.dataType, fv)(x.getField(f_.name))
                # keys in v not present in the struct type can never match
                extra = set(v) - {f_.name for f_ in dt.fields}
                if extra:
                    out = F.lit(False)
                return out
            return eq_struct
        return lambda x: F.lit(False)
    if isinstance(v, list):
        if isinstance(dt, ArrayType):
            elem = dt.elementType
            def eq_arr(x: Column) -> Column:
                out = F.size(x) == len(v)
                for idx, ev in enumerate(v):
                    out = out & _json_eq(elem, ev)(F.element_at(x, idx + 1))
                return out
            return eq_arr
        return lambda x: F.lit(False)
    raise SpecError(f"unsupported const/enum literal {v!r}")


def _lower_enum(values: list, dt: DataType) -> Callable[[Column], Column]:
    """Reference ``keywords/enum_.rs:108-129`` — type-bitmap prefilter is the
    static-type split below; single-value specialization falls out of isin."""
    if not isinstance(dt, (StructType, ArrayType, MapType)):
        compat = []
        for v in values:
            if (isinstance(v, str) and isinstance(dt, StringType)) \
                    or (isinstance(v, bool) and isinstance(dt, BooleanType)):
                compat.append(v)
            elif isinstance(v, (int, float)) and not isinstance(v, bool) \
                    and _is_numeric(dt):
                lv = _num_literal(v, dt)
                if lv is not None:
                    compat.append(lv)
        has_null = any(v is None for v in values)
        if not compat:
            if has_null:
                return lambda x: x.isNull()
            return lambda x: F.lit(False)
        if has_null:
            return lambda x: x.isNull() | x.isin(*compat)
        return lambda x: x.isin(*compat)
    preds = [_json_eq(dt, v) for v in values]
    return lambda x: _or_all([p(x) for p in preds])  # an empty enum: none


def _multiple_of_decimal(k: Any):
    """The divisor's exact decimal form when it qualifies for the
    decimal-remainder path (≤6 fractional digits, fits decimal(38,6)) —
    the analogue of the reference's exact fraction fallback
    (``multiple_of.rs:33-41``, fraction-crate values built from the
    canonical decimal rendering).  None → epsilon double math."""
    from decimal import Decimal

    if isinstance(k, bool) or not isinstance(k, (int, float)):
        return None
    # integers exact (repr(float()) would round past 2^53); floats via
    # their canonical shortest decimal rendering
    kd = Decimal(k) if isinstance(k, int) else Decimal(repr(float(k)))
    tup = kd.as_tuple()
    frac_digits = max(-tup.exponent, 0)
    int_digits = len(tup.digits) - frac_digits
    if kd == 0 or frac_digits > 6 or int_digits > 32:
        return None
    return kd


def _lower_multiple_of(k: Any, dt: DataType) -> Callable[[Column], Column]:
    """Reference ``keywords/multiple_of.rs:101-123``: integer fast path;
    floats via an EXACT decimal remainder when both the divisor and the
    value round-trip through decimal(38,6) (round 5 — the old pure-epsilon
    path went false-negative once |value/divisor| outgrew 1e9·ε, e.g.
    123456.7891 multipleOf 0.0001), with the epsilon double path (``:27-
    59``) kept for everything that does not round-trip."""
    if isinstance(k, int) and isinstance(dt, _INTEGRALS) \
            and abs(k) < 2 ** 63:
        # beyond int64 a long literal cannot exist (fuzz-found
        # NumberFormatException); such divisors take the decimal/double
        # path below
        return lambda x: x % F.lit(k) == 0
    kd = _multiple_of_decimal(k)

    def pred(x: Column) -> Column:
        xf = x.cast("double")
        r = xf / F.lit(_as_double(k))
        approx = F.abs(r - F.round(r, 0)) < F.lit(1e-9)
        if kd is None:
            return approx
        xd = xf.try_cast("decimal(38,6)")
        exact = xd.isNotNull() & (xd.cast("double") == xf)
        return F.when(exact, xd % F.lit(kd) == 0).otherwise(approx)

    return pred


def _pattern_udf(pat: str):
    """Arrow-batched fallback for patterns Java can't express (reference
    rejects those at compile time, ``ecma.rs``; we accept the Python-re
    dialect as an extension when it compiles).  ``pd`` is a module global:
    with postponed annotations, ``pandas_udf`` resolves the ``pd.Series``
    hints in the module namespace."""

    @F.pandas_udf(BooleanType())
    def _re_search(s: pd.Series) -> pd.Series:  # pragma: no cover - exotic
        import re as _re

        rx = _re.compile(pat)
        return s.map(lambda v: None if v is None else rx.search(v) is not None)

    return lambda x: _re_search(x)


# Round 5: unevaluated* claims count only from SUCCESSFUL subschemas
# (reference output.rs:139-164 — annotations are dropped from failed
# schemas).  Claim keywords whose subschemas cannot fail stay on the
# static path; the rest get a runtime validity gate.

_ANNOTATION_ONLY = frozenset({
    "title", "description", "default", "examples", "$comment",
    "deprecated", "readOnly", "writeOnly", "$id", "$schema", "$anchor",
    "$dynamicAnchor", "$recursiveAnchor", "$defs", "definitions",
    "$__abs__", "$__lenient__",
})


def _always_valid_schema(s: Any) -> bool:
    """True when the schema can never fail (claims from it are
    unconditional even under the annotations-from-successful-subschemas
    rule)."""
    if s is True:
        return True
    if isinstance(s, dict):
        return all(k in _ANNOTATION_ONLY for k in s)
    return False


def _prop_claim_subset(s: Any) -> Any:
    """The claim-producing property keywords of one source schema object
    whose failure drops its unevaluatedProperties claims — None when they
    cannot fail.  ``additionalProperties`` keeps the full name/pattern
    context so its lowering picks the same extra members."""
    subset: dict = {}
    props = {k: v for k, v in (s.get("properties") or {}).items()
             if not _always_valid_schema(v)}
    if props:
        subset["properties"] = dict(props)
    pats = {p: v for p, v in (s.get("patternProperties") or {}).items()
            if not _always_valid_schema(v)}
    if pats:
        subset["patternProperties"] = dict(pats)
    ap = s.get("additionalProperties")
    if isinstance(ap, (dict, bool)) and not _always_valid_schema(ap):
        subset["additionalProperties"] = ap
        subset.setdefault("properties", {})
        for k in (s.get("properties") or {}):
            subset["properties"].setdefault(k, True)
        subset.setdefault("patternProperties", {})
        for p in (s.get("patternProperties") or {}):
            subset["patternProperties"].setdefault(p, True)
    return subset or None


def _items_claim_subset(s: Any) -> Any:
    """The claim-producing array keywords of one source schema object
    whose failure drops its unevaluatedItems claims — None when they
    cannot fail."""
    subset: dict = {}
    pre = s.get("prefixItems")
    it = s.get("items")
    ai = s.get("additionalItems")
    if isinstance(pre, list) and any(not _always_valid_schema(x)
                                     for x in pre):
        subset["prefixItems"] = pre
    if isinstance(it, list):
        if any(not _always_valid_schema(x) for x in it):
            subset["items"] = it
    elif isinstance(it, (dict, bool)) and not _always_valid_schema(it):
        subset["items"] = it
        if isinstance(pre, list):
            subset.setdefault("prefixItems", pre)
    if isinstance(ai, (dict, bool)) and not _always_valid_schema(ai) \
            and isinstance(it, list):
        subset["additionalItems"] = ai
        subset.setdefault("items", it)
    return subset or None


@dataclass(frozen=True)
class ClaimSource:
    """One schema object applied in place at an ``unevaluated*`` node, and
    the members or positions it claims.

    Its claims count only when every branch term holds.  A term is
    ``("valid", schema, suffix)``, ``("invalid", schema, suffix)`` (an
    ``if`` that failed) or ``("present", key, None)``.  The node itself and
    its ``allOf`` chain have no terms; for them ``subset`` holds the claim
    keywords that can fail (round 5: annotations only from successful
    subschemas, reference ``output.rs:139-164``), None when none can.  A
    valid branch implies its own subset, so branch sources carry none.

    A ``contains`` (items kind) is a source of its own, with no subset:
    the items its subschema matches are claimed when the terms hold."""
    suffix: tuple[str, ...]
    terms: tuple
    subset: Any
    names: tuple[str, ...] = ()
    patterns: tuple[str, ...] = ()
    n_prefix: int = 0
    claims_all: bool = False
    contains: Any = None


def claim_sources(schema: Any, kind: str) -> list[ClaimSource]:
    """Every schema object whose annotations an ``unevaluatedProperties``
    (``kind="props"``) or ``unevaluatedItems`` (``kind="items"``) at
    ``schema`` sees — the compile-time form of the reference's runtime
    annotation tracking (``unevaluated_properties.rs:41-752``).

    Sources are the node, ``allOf`` (same terms), ``if`` (gated on its
    validity), ``then``/``else`` (gated on the ``if`` outcome and their own
    validity), ``anyOf``/``oneOf`` branches and, for properties,
    ``dependentSchemas`` (gated on key presence and validity).  ``not``
    claims nothing; for items, each ``contains`` claims the items it
    matches (2020-12).  A nested ``unevaluated*`` claims everything.
    Objects that claim nothing are walked but not returned."""
    props = kind == "props"
    ue = "unevaluatedProperties" if props else "unevaluatedItems"
    out: list[ClaimSource] = []

    def walk(s, terms, suffix):
        if not isinstance(s, dict):
            return
        claims_all = bool(suffix) and isinstance(s.get(ue), (dict, bool))
        names: tuple = ()
        pats: tuple = ()
        n = 0
        if props:
            names = tuple(s.get("properties") or {})
            pats = tuple(s.get("patternProperties") or {})
            claims_all |= isinstance(s.get("additionalProperties"),
                                     (dict, bool))
        else:
            n = max([len(s[k]) for k in ("items", "prefixItems")
                     if isinstance(s.get(k), list)], default=0)
            claims_all |= any(isinstance(s.get(k), (dict, bool))
                              for k in ("items", "additionalItems"))
        if names or pats or n or claims_all:
            subset = None
            if not terms:
                subset = (_prop_claim_subset if props
                          else _items_claim_subset)(s)
            out.append(ClaimSource(suffix, terms, subset, names, pats, n,
                                   claims_all))
        if not props and isinstance(s.get("contains"), (dict, bool)):
            out.append(ClaimSource(suffix, terms, None,
                                   contains=s["contains"]))
        for idx, sub in enumerate(s.get("allOf") or []):
            walk(sub, terms, suffix + ("allOf", str(idx)))
        if isinstance(s.get("if"), (dict, bool)):
            sif = suffix + ("if",)
            walk(s["if"], terms + (("valid", s["if"], sif),), sif)
            for kw, outcome in (("then", "valid"), ("else", "invalid")):
                if isinstance(s.get(kw), (dict, bool)):
                    bsuf = suffix + (kw,)
                    walk(s[kw], terms + ((outcome, s["if"], sif),
                                         ("valid", s[kw], bsuf)), bsuf)
        for kw in ("anyOf", "oneOf"):
            for idx, sub in enumerate(s.get(kw) or []):
                bsuf = suffix + (kw, str(idx))
                walk(sub, terms + (("valid", sub, bsuf),), bsuf)
        if props:
            for k, sub in (s.get("dependentSchemas") or {}).items():
                bsuf = suffix + ("dependentSchemas", k)
                walk(sub, terms + (("present", k, None),
                                   ("valid", sub, bsuf)), bsuf)

    walk(schema, (), ())
    return out


def dependency_keywords(schema: dict) -> tuple[dict, dict]:
    """``dependentRequired`` and ``dependentSchemas`` as ``{key: (keyword
    declared, value)}``, with the draft 4-7 ``dependencies`` entries folded
    in by form (a list of names, or a schema)."""
    req = {k: ("dependentRequired", v)
           for k, v in (schema.get("dependentRequired") or {}).items()}
    sch = {k: ("dependentSchemas", v)
           for k, v in (schema.get("dependentSchemas") or {}).items()}
    for k, v in (schema.get("dependencies") or {}).items():
        (req if isinstance(v, list) else sch)[k] = ("dependencies", v)
    return req, sch


# --------------------------------------------------------------------------
# scalar keywords: one lowering over two value backends
# --------------------------------------------------------------------------
#
# ``scalar_checks`` decides every scalar keyword once; the walk
# (:class:`Lowerer`) supplies the instance node.  A node answers
# ``can_be`` (can the instance hold one of these JSON types?) at compile
# time and builds the value primitives that really differ per backend:
# type tests, the exact bound compare, JSON equality and enum, and
# multipleOf.  On the typed path (:class:`_TypedNode`) the Spark type
# answers every type test statically, so checks constant-fold; on the
# variant path (``json_ingest.JV``) they read runtime tags; a member name
# is a typed string node on both paths.

_TYPE_NAMES = ("null", "boolean", "object", "array", "number", "string",
               "integer")
_NUMBER = ("integer", "number")
# keyword, comparison, and the draft-4 boolean flag that makes it strict
# (reference ``keywords/legacy/maximum_draft_4.rs``)
_BOUNDS = (("minimum", "__ge__", "exclusiveMinimum"),
           ("maximum", "__le__", "exclusiveMaximum"),
           ("exclusiveMinimum", "__gt__", None),
           ("exclusiveMaximum", "__lt__", None))
_STRICT = {"__ge__": "__gt__", "__le__": "__lt__"}


def _or_all(preds: list[Column]) -> Column:
    return reduce(operator.or_, preds) if preds else F.lit(False)


def _and_all(preds: list[Column]) -> Column:
    return reduce(operator.and_, preds) if preds else F.lit(True)


def _json_kind(dt: DataType) -> Optional[str]:
    """The JSON type of every non-NULL value of a typed column ('number'
    covers integers)."""
    if isinstance(dt, StringType):
        return "string"
    if isinstance(dt, BooleanType):
        return "boolean"
    if _is_numeric(dt):
        return "number"
    if isinstance(dt, ArrayType):
        return "array"
    if isinstance(dt, (StructType, MapType)):
        return "object"
    return None


class _TypedNode:
    """A typed-table instance node of the walk: a Column and its static
    Spark type.  Built without a Column for the compile-time questions,
    and with the Column (and element index) a predicate is evaluated
    at."""

    def __init__(self, dt: DataType, c: Optional[Column] = None,
                 i: tuple = ()):
        self.dt, self.c, self.i = dt, c, i

    @property
    def s(self) -> Column:
        return self.c

    def can_be(self, *names: str) -> bool:
        return _json_kind(self.dt) in names

    def gate(self, names, p: Column) -> Column:
        return p  # the static type already is one of ``names``

    def type_is(self, t: str, draft) -> Column:
        """Reference ``keywords/type_.rs:295-329`` (+ integer-valued
        floats at ``:290-292``)."""
        dt = self.dt
        if t == "null":
            return self.c.isNull()
        if t != "integer":
            return F.lit(_json_kind(dt) == t)
        if isinstance(dt, _INTEGRALS) or (isinstance(dt, DecimalType)
                                          and dt.scale == 0):
            # scale-0 decimal holds exact integers (the standard Spark
            # ingestion type for JSON ints beyond int64) — is_i64/is_u64
            # in the reference's sense, under EVERY draft
            return F.lit(True)
        if isinstance(dt, _FRACTIONALS) and draft != 4:
            # draft 4 is stricter: ``is_integer`` is ``is_u64 || is_i64``
            # (``keywords/legacy/type_draft_4.rs:113-114``), and a
            # fractional column holds JSON fractional representations
            return self.c == F.floor(self.c)
        return F.lit(False)

    def compare(self, bound, op: str) -> Column:
        return _bound_pred(bound, op, self.dt)(self.c)

    def equals(self, v: Any) -> Column:
        return _json_eq(self.dt, v)(self.c)

    def one_of(self, values: list) -> Column:
        return _lower_enum(values, self.dt)(self.c)

    def multiple_of(self, k: Any) -> Column:
        return _lower_multiple_of(k, self.dt)(self.c)

    # -- applicator protocol (maps and arrays) ---------------------------

    @property
    def m(self) -> Column:
        return self.c

    arr = m

    def present(self, key: str) -> Column:
        if isinstance(self.dt, MapType):
            return F.map_contains_key(self.c, F.lit(key))
        if key not in self.dt.names:
            return F.lit(False)  # a lenient struct's member never exists
        return self.c.getField(key).isNotNull()

    def member_count(self) -> Column:
        if isinstance(self.dt, MapType):
            return F.size(self.c)
        # a struct's members are its non-NULL fields
        return reduce(operator.add, [self.c.getField(f).isNotNull()
                                     .cast("int") for f in self.dt.names],
                      F.lit(0))

    def child(self, col: Optional[Column]) -> "_TypedNode":
        dt = self.dt
        return _TypedNode(dt.valueType if isinstance(dt, MapType)
                          else dt.elementType, col)

    def name(self, col: Optional[Column]) -> "_TypedNode":
        return _TypedNode(StringType(), col)

    def unique(self) -> Column:
        # typed columns make 1 == 1.0 collisions impossible by construction
        return F.size(self.c) == F.size(F.array_distinct(self.c))

    def key_regex(self, pat: str, where: str) -> str:
        java = ecma_to_java(pat)
        if java is None:
            raise SpecError(
                f"patternProperties key pattern {pat!r} at {where} is not "
                "expressible in the Java regex dialect (map keys are matched "
                "with rlike — no Python fallback)")
        return java

    # -- walk protocol of Lowerer ----------------------------------------

    @property
    def obs(self) -> Column:
        return _obs_str(self.dt)(self.c)

    def member(self, key: str) -> "_TypedNode":
        return _TypedNode(self.dt[key].dataType, self.c.getField(key),
                          self.i)

    def item(self, p: int) -> "_TypedNode":
        return _TypedNode(self.dt.elementType,
                          F.try_element_at(self.c, F.lit(p + 1)), self.i)

    def checked(self, p: Column) -> Column:
        return p  # a NULL check passes: the plans read coalesce(pred, true)

    def passes(self, valid: Column) -> Column:
        return F.coalesce(valid, F.lit(True))

    def absent_passes(self, p: Column) -> Column:
        return self.c.isNull() | p

    def render(self, observed: Callable) -> Column:
        return observed(self)

    def all_items(self, schema: Any, start: int, valid: Callable) -> Column:
        """``valid`` holds for every item from ``start`` on: the items
        are the lambda variables of one ``transform``."""
        def body(e, j):
            ok = valid(self.child(e))
            return ~(j >= start) | ok if start else ok
        return F.coalesce(F.forall(F.transform(self.c, body), lambda b: b),
                          F.lit(True))


def _as_columns(dt: DataType, fn: Callable) -> Callable[..., Column]:
    """The typed adapter: a function of a node as the plans' ``(x[, i])``
    function of a typed Column of ``dt`` (and, at element scope, the
    element index)."""
    return lambda x, *i, _fn=fn: _fn(_TypedNode(dt, x, i))


def _leave_walk(c: CompiledConstraint, dt: DataType) -> None:
    """Turns ``c``'s functions of a typed node into ``(x[, i])`` Column
    functions; typed constraints leave the walk here, at their scope
    root."""
    for name in ("pred", "observed", "viol_positions", "unit_positions"):
        fn = getattr(c, name)
        if fn is not None:
            setattr(c, name, _as_columns(dt, fn))


class JsonIngestUnsupported(ValueError):
    """Schema uses a construct the variant lowering cannot express; the
    caller should fall back to the typed-table engine."""


@dataclass(frozen=True)
class ScalarCheck:
    """One lowered scalar keyword: ``pred`` maps an instance node to a
    boolean Column; ``py_fn`` is the plain Python check of a
    Python-backed leaf (introspection only)."""
    keyword: str
    pred: Callable[[Any], Column]
    py_fn: Optional[Callable[[str], bool]] = None


def _base64_ok(s: Column) -> Column:
    return F.try_to_binary(s, F.lit("base64")).isNotNull()


def _json_ok(s: Column) -> Column:
    return F.try_parse_json(s).isNotNull()


def _on_decoded(media: Callable[[Column], Column]):
    """A media-type check over the base64-decoded text (draft-07
    ``contentMediaType`` describes the decoded content).  Undecodable
    text passes here: ``contentEncoding`` reports it."""
    def check(s: Column) -> Column:
        text = F.try_to_binary(s, F.lit("base64")).cast("string")
        return text.isNull() | media(text)
    return check


def _content_on(support: Any, name: Any) -> bool:
    """``support`` is True/False for every name, or the removed names."""
    if isinstance(support, bool):
        return support
    return name not in support


def scalar_checks(schema: dict, node, options: EngineOptions, where: str,
                  py_leaf: Callable) -> list[ScalarCheck]:
    """The scalar keywords of one schema object — ``type``, ``enum``,
    ``const``, the four bounds, ``multipleOf``, ``min``/``maxLength``,
    ``pattern``, ``format``, ``contentEncoding`` and ``contentMediaType``
    — in emission order.

    ``node`` answers ``can_be`` at compile time; a keyword that cannot
    apply to it is not emitted.  A check's pred tests the value only when
    the instance is of a type the keyword applies to (``node.gate``);
    absence is the caller's concern.  ``py_leaf(py_fn, udf_builder,
    what)`` returns the pred of a Python-backed leaf (an untranslatable
    pattern, a pandas-UDF format) or raises where the caller has no site
    for one.  Keywords registered in ``custom_keywords`` are left to the
    caller, and keywords the draft does not define are already gone
    (:func:`prepare_spec`)."""
    draft = options.draft
    out: list[ScalarCheck] = []

    def has(kw: str) -> bool:
        return kw in schema and kw not in options.custom_keywords

    def add(kw, types, test, py_fn=None):
        """``test`` maps the node to the keyword's value test."""
        out.append(ScalarCheck(
            kw, lambda n: test(n) if types is None
            else n.gate(types, test(n)), py_fn))

    if has("type"):
        names = schema["type"]
        names = names if isinstance(names, list) else [names]
        for t in names:
            if t not in _TYPE_NAMES:
                raise SpecError(f"unknown type {t!r} at {where}")
        add("type", None,
            lambda n: _or_all([n.type_is(t, draft) for t in names]))
    if has("enum"):
        add("enum", None, lambda n, _v=schema["enum"]: n.one_of(_v))
    if has("const"):
        add("const", None, lambda n, _v=schema["const"]: n.equals(_v))
    for kw, op, flag in _BOUNDS:
        if not has(kw):
            continue
        v = schema[kw]
        if isinstance(v, bool):
            # the draft-4 boolean flag, folded into minimum/maximum
            if draft not in (None, 4):
                raise SpecError(
                    f"boolean {kw} at {where} is the draft-4 form; draft "
                    f"{draft} expects a number")
            continue
        if flag is None and draft == 4:
            raise SpecError(
                f"numeric {kw} at {where} is a draft-6+ form; draft 4 uses "
                "boolean exclusiveMinimum/Maximum alongside "
                "minimum/maximum")
        if flag is not None and schema.get(flag) is True:
            op = _STRICT[op]
        if node.can_be(*_NUMBER):
            add(kw, _NUMBER, lambda n, _v=v, _op=op: n.compare(_v, _op))
    if has("multipleOf") and node.can_be(*_NUMBER):
        add("multipleOf", _NUMBER,
            lambda n, _k=schema["multipleOf"]: n.multiple_of(_k))

    if not node.can_be("string"):
        return out
    string = ("string",)

    def on_text(kw, check):
        add(kw, string, lambda n, _c=check: _c(n.s))

    if has("minLength"):
        on_text("minLength", lambda s, _n=schema["minLength"]:
                F.length(s) >= _n)
    if has("maxLength"):
        on_text("maxLength", lambda s, _n=schema["maxLength"]:
                F.length(s) <= _n)
    if has("pattern"):
        pat = schema["pattern"]
        java = ecma_to_java(pat)
        if java is not None:
            on_text("pattern", lambda s: s.rlike(java))
        else:
            # Java rejected it: Python-re fallback, else compile-time
            # rejection (reference ``ecma.rs`` — never at runtime)
            rx = python_fallback(pat)
            if rx is None:
                raise SpecError(
                    f"pattern {pat!r} at {where} compiles in neither "
                    "java.util.regex nor Python re")
            py_fn = lambda v, _r=rx: _r.search(v) is not None
            add("pattern", string,
                py_leaf(py_fn, _pattern_udf(pat), "pattern"), py_fn)
    if has("format") and options.validate_formats:
        fmt = schema["format"]
        builder = options.custom_formats.get(fmt) or FORMATS.get(fmt)
        if builder is None:
            if not options.ignore_unknown_formats:
                raise SpecError(f"unknown format {fmt!r}")
        elif fmt in FORMATS_PY and fmt not in options.custom_formats:
            add("format", string,
                py_leaf(FORMATS_PY[fmt], builder, f"format {fmt!r}"),
                FORMATS_PY[fmt])
        else:
            on_text("format", builder)
    # content keywords: built-in base64 / application/json (the reference
    # defaults, ``content_encoding.rs:10-30``) plus the registration hooks
    # of ``options.rs:137-258``; unknown names are annotations
    encode = None
    enc = schema.get("contentEncoding")
    if has("contentEncoding") and _content_on(
            options.content_encoding_support, enc):
        encode = options.custom_encodings.get(enc) or (
            _base64_ok if enc == "base64" else None)
        if encode is not None:
            on_text("contentEncoding", encode)
    mt = schema.get("contentMediaType")
    if has("contentMediaType") and _content_on(
            options.content_media_type_support, mt):
        media = options.custom_media_types.get(mt) or (
            _json_ok if mt == "application/json" else None)
        if media is not None:
            on_text("contentMediaType",
                    _on_decoded(media) if encode is _base64_ok else media)
    return out


# --------------------------------------------------------------------------
# applicator keywords: one lowering over two value backends
# --------------------------------------------------------------------------
#
# ``presence_checks``, ``name_checks``, ``array_checks`` and
# ``logic_checks`` decide the object, array and combinator keywords once,
# and ``claim_gates`` / ``item_claims`` fold the ``unevaluated*`` claim
# sources, over the nodes of ``scalar_checks``.  A node also answers
# ``m``/``arr`` (its members as a map, its items as an array),
# ``present(key)``, ``member_count()`` (its present members),
# ``child(col)`` (a map value or array element bound to a lambda
# variable), ``name(col)`` (a member name), ``unique()`` and
# ``key_regex(pattern, where)`` (a member-name pattern in java.util.regex,
# or the backend's refusal).
#
# Subschemas go through the walk's ``sub(schema, segs, at, in_lambda)``
# hook (:meth:`Lowerer._sub`), which lowers the subschema once, when it
# is called, and returns a validity function over a node that is never
# NULL: ``at`` names the node the subschema applies to (None: this node,
# "child": a map value or array element, "name": a member name), and
# ``in_lambda`` says whether it is evaluated inside an array or map
# lambda, where a Python-backed leaf has no evaluation site.

_OBJECT = ("object",)
_ARRAY = ("array",)


@dataclass(frozen=True)
class NodeCheck:
    """One lowered applicator keyword: ``segs`` extend the node's
    constraint id and ``pred`` maps the node to a boolean Column.
    ``observed`` is a str for a fixed observed text on both paths, a
    function of the node for the typed path's rendering (the variant path
    renders the node itself), or None for the node's own rendering.
    ``loc`` is the keyword location below the node when it is not
    ``segs``, and ``key`` the member a ``required`` check reads."""
    segs: tuple
    pred: Callable[[Any], Column]
    observed: Any = None
    loc: Optional[tuple] = None
    key: Optional[str] = None


def _gated_adder(out: list, kinds: tuple) -> Callable:
    """``add(segs, test, observed=None, **at)`` appends to ``out`` a check
    whose ``test`` applies to a node of one of the JSON types ``kinds``
    (any other node passes); ``at`` sets ``loc``/``key``."""
    def add(segs, test, observed=None, **at):
        out.append(NodeCheck(segs, lambda n: n.gate(kinds, test(n)),
                             observed, **at))
    return add


def claim_gates(schema: Any, kind: str, sub: Callable) -> list:
    """[(gate, ClaimSource)] for the ``unevaluated*`` at ``schema``: the
    gate maps the node to the never-NULL condition under which the
    source's claims count, None when they are unconditional.  Each branch
    schema lowers once, however many sources share it as a term."""
    valids: dict = {}

    def term(k, arg, suffix):
        if k == "present":
            return lambda n: F.coalesce(n.present(arg), F.lit(False))
        if suffix not in valids:
            valids[suffix] = sub(arg, suffix, None, False)
        v = valids[suffix]
        return (lambda n: ~v(n)) if k == "invalid" else v

    out = []
    for src in claim_sources(schema, kind):
        if src.terms:
            parts = [term(*t) for t in src.terms]
        elif src.subset is not None:
            parts = [sub(src.subset, src.suffix, None, False)]
        else:
            out.append((None, src))
            continue
        out.append((lambda n, _ps=tuple(parts): _and_all([p(n) for p in _ps]),
                    src))
    return out


def item_claims(gated: list, sub: Callable):
    """The per-item claim fold of an ``unevaluatedItems`` over its
    ``claim_gates`` records: ``bind(node)`` lists the Columns to bind once
    per row (``n``: the claimed prefix, ``a``: every item claimed, ``c0``,
    ``c1``...: the gates of ``contains`` sources), and ``claimed(b, el,
    i)`` reads them for the item node ``el`` at index ``i``."""
    conts = [(g, sub(src.contains, src.suffix + ("contains",), "child",
                     True))
             for g, src in gated if src.contains is not None]
    cont_gates = [g for g, _ in conts if g is not None]

    def bind(node) -> list[Column]:
        n_col, a_col = F.lit(0), F.lit(False)
        for g, src in gated:
            if src.contains is not None:
                continue
            gg = F.lit(True) if g is None else g(node)
            if src.claims_all:
                a_col = a_col | gg
            elif src.n_prefix:
                n_col = F.greatest(n_col, F.when(
                    gg, F.lit(src.n_prefix)).otherwise(F.lit(0)))
        return [n_col.alias("n"), a_col.alias("a")] + [
            g(node).alias(f"c{j}") for j, g in enumerate(cont_gates)]

    def claimed(b, el, i) -> Column:
        c = b.getField("a") | (i < b.getField("n"))
        j = 0
        for g, cont in conts:
            # 2020-12: a contains claims the items it matches
            if g is None:
                c = c | cont(el)
            else:
                c = c | (b.getField(f"c{j}") & cont(el))
                j += 1
        return c

    return bind, claimed


def _bind_gates(n, gates: list, body: Callable) -> Column:
    """``body(b)`` with the gate Columns bound once per row as the fields
    ``g0``, ``g1``... of ``b`` (a single-element transform), so per-member
    and per-item lambdas read booleans instead of re-validating every
    branch; ``b`` is None when there are no gates."""
    if not gates:
        return body(None)
    bound = F.struct(*[g(n).alias(f"g{j}") for j, g in enumerate(gates)])
    return F.element_at(F.transform(F.array(bound), body), 1)


def presence_checks(schema: dict, sub: Callable) -> list[NodeCheck]:
    """The object keywords that read member presence and count, shared by
    every object node (typed structs, typed maps, JSON objects):
    ``required``, ``min``/``maxProperties`` and the dependency keywords,
    in emission order."""
    out: list[NodeCheck] = []
    add = _gated_adder(out, _OBJECT)
    for k in schema.get("required") or []:
        add(("required", k), lambda n, _k=k: n.present(_k), "missing",
            loc=("required",), key=k)
    for kw, op in (("minProperties", "__ge__"), ("maxProperties", "__le__")):
        if kw in schema:
            add((kw,), lambda n, _v=schema[kw], _op=op:
                getattr(n.member_count(), _op)(_v),
                lambda n: n.member_count().cast("string"))
    dep_req, dep_sch = dependency_keywords(schema)
    for k, (kw, reqs) in dep_req.items():
        add(("dependentRequired", k),
            lambda n, _k=k, _rs=tuple(reqs): ~n.present(_k)
            | _and_all([n.present(r) for r in _rs]),
            lambda n: F.lit("missing"), loc=(kw,))
    for k, (kw, s) in dep_sch.items():
        v = sub(s, ("dependentSchemas", k), None, False)
        add(("dependentSchemas", k),
            lambda n, _k=k, _v=v: ~n.present(_k) | _v(n), loc=(kw, k))
    return out


def name_checks(schema: dict, node, sub: Callable,
                where: str) -> list[NodeCheck]:
    """The object keywords over the set of member names, for the nodes
    whose names are known only at run time (typed maps, JSON objects):
    ``propertyNames``, ``patternProperties``, ``additionalProperties`` and
    ``unevaluatedProperties``, in emission order."""
    out: list[NodeCheck] = []
    add = _gated_adder(out, _OBJECT)

    if "propertyNames" in schema:
        nv = sub(schema["propertyNames"], ("propertyNames",), "name", True)
        add(("propertyNames",),
            lambda n: F.forall(F.map_keys(n.m), lambda k: nv(n.name(k))),
            lambda n: F.to_json(F.map_keys(n.m)))
    pats = {p: node.key_regex(p, f"{where}/patternProperties")
            for p in schema.get("patternProperties") or {}}
    for pat, s in (schema.get("patternProperties") or {}).items():
        v = sub(s, ("patternProperties", pat), "child", True)
        add(("patternProperties", pat),
            lambda n, _j=pats[pat], _v=v: F.forall(
                F.map_entries(n.m),
                lambda e: ~e.getField("key").rlike(_j)
                | _v(n.child(e.getField("value")))))

    def rest(kw, s, gates, claimed):
        """``s`` applies to every member ``claimed(b, key)`` leaves, with
        ``b`` the bound ``gates``; false reports the unclaimed names."""
        if s is False:
            add((kw,), lambda n: _bind_gates(n, gates, lambda b: F.forall(
                    F.map_keys(n.m), lambda k: claimed(b, k))),
                lambda n: _bind_gates(n, gates, lambda b: F.to_json(
                    F.filter(F.map_keys(n.m), lambda k: ~claimed(b, k)))))
            return
        v = sub(s, (kw,), "child", True)
        add((kw,), lambda n: _bind_gates(n, gates, lambda b: F.forall(
            F.map_entries(n.m),
            lambda e: claimed(b, e.getField("key"))
            | v(n.child(e.getField("value"))))))

    def matches(k, names, patterns):
        return _or_all(([k.isin(*names)] if names else [])
                       + [k.rlike(j) for j in patterns])

    ap = schema.get("additionalProperties")
    if isinstance(ap, (dict, bool)) and not _always_valid_schema(ap):
        named = tuple(schema.get("properties") or {})
        rest("additionalProperties", ap, [],
             lambda b, k: matches(k, named, tuple(pats.values())))
    ue = schema.get("unevaluatedProperties")
    if isinstance(ue, (dict, bool)):
        gated = claim_gates(schema, "props", sub)
        if not any(g is None and src.claims_all for g, src in gated):
            # (gate index | None, names, patterns, claims all)
            srcs, gates = [], []
            for g, src in gated:
                srcs.append((None if g is None else len(gates), src.names,
                             tuple(node.key_regex(
                                 p, "/".join((where, *src.suffix)).strip("/"))
                                 for p in src.patterns), src.claims_all))
                if g is not None:
                    gates.append(g)

            def claimed(b, k):
                terms = []
                for j, names, patterns, claims_all in srcs:
                    hit = None if claims_all else matches(k, names, patterns)
                    if j is not None:
                        g = b.getField(f"g{j}")
                        hit = g if hit is None else g & hit
                    terms.append(hit)
                return _or_all(terms)

            rest("unevaluatedProperties", ue, gates, claimed)
    return out


def array_checks(schema: dict, sub: Callable) -> list[NodeCheck]:
    """The node-level array keywords: ``minItems``, ``maxItems``,
    ``uniqueItems`` and ``contains`` with ``min``/``maxContains`` (ids
    ``contains``, or ``minContains`` when declared, and ``maxContains``),
    in emission order."""
    out: list[NodeCheck] = []
    add = _gated_adder(out, _ARRAY)

    def size(n):
        return F.size(n.arr).cast("string")

    if "minItems" in schema:
        add(("minItems",), lambda n, _k=schema["minItems"]:
            F.size(n.arr) >= _k, size)
    if "maxItems" in schema:
        add(("maxItems",), lambda n, _k=schema["maxItems"]:
            F.size(n.arr) <= _k, size)
    if schema.get("uniqueItems") is True:
        # reference ``unique_items.rs:66-97``; the observed value counts
        # the duplicates
        add(("uniqueItems",), lambda n: n.unique(),
            lambda n: (F.size(n.arr)
                       - F.size(F.array_distinct(n.arr))).cast("string"))
    if "contains" in schema:
        # reference ``keywords/contains.rs:339-375``
        v = sub(schema["contains"], ("contains",), "child", True)

        def count(n):
            return F.size(F.filter(n.arr, lambda e: v(n.child(e))))

        def count_obs(n):
            return count(n).cast("string")

        min_c = schema.get("minContains", 1)
        max_c = schema.get("maxContains")
        if min_c > 0:
            kw = ("contains" if min_c == 1 and "minContains" not in schema
                  else "minContains")
            add((kw,), lambda n: count(n) >= min_c, count_obs)
        if max_c is not None:
            add(("maxContains",), lambda n: count(n) <= max_c, count_obs)
    return out


def logic_checks(schema: dict, sub: Callable) -> list[NodeCheck]:
    """``anyOf``, ``oneOf`` and ``not`` (reference ``any_of.rs:46``,
    ``one_of.rs:43-69``, ``not.rs:28-45``): each collapses its branches
    into one check."""
    out: list[NodeCheck] = []

    def branches(kw):
        return [sub(s, (kw, str(i)), None, False)
                for i, s in enumerate(schema[kw])]

    if "anyOf" in schema:
        vs = branches("anyOf")
        out.append(NodeCheck(("anyOf",),
                             lambda n: _or_all([v(n) for v in vs])))
    if "oneOf" in schema:
        ws = branches("oneOf")
        out.append(NodeCheck(("oneOf",), lambda n: reduce(
            operator.add, [v(n).cast("int") for v in ws]) == 1))
    if "not" in schema:
        nv = sub(schema["not"], ("not",), None, False)
        out.append(NodeCheck(("not",), lambda n: ~nv(n)))
    return out


# --------------------------------------------------------------------------
# the recursive lowerer
# --------------------------------------------------------------------------

class Lowerer:
    """The one schema walk, for both node domains.

    Every check is a function of a node.  Over a typed table
    (``table_schema`` a StructType) the node is a :class:`_TypedNode`, and
    typed constraints leave the walk through one adapter
    (:func:`_leave_walk`: at :meth:`lower_root` for doc scope, at
    :meth:`_emit_items` for element scope), so the plans read ``(x[,
    i])`` Column functions.  Over raw JSON (``table_schema`` the
    VariantType) the node is a ``json_ingest.JV``, which the variant path
    binds and passes in.

    Dispatch follows the node's static type.  A struct, a map and a JSON
    node are object nodes: each takes ``properties`` (a struct and a JSON
    node descend into the member, a map collapses it into one check) and
    the presence keywords (:func:`presence_checks`).  A struct resolves
    its member names at compile time (:meth:`_resolve_members`) and its
    name-set keywords statically (:meth:`_lower_struct`); a map and a
    JSON node take those at run time (:func:`name_checks`).  An array
    and a JSON node take the items family.  Each subschema is lowered
    once.  What differs per domain is a node method next to ``gate``:
    ``present``/``member_count`` (member presence and count),
    ``member``/``item`` (a member or tuple position),
    ``checked`` (the NULL rule of a check), ``passes`` (of a subschema's
    validity), ``absent_passes`` (of a member), ``render`` (a check's
    observed text) and ``all_items`` (the element node of a ``forall``);
    Python-backed leaves and custom keywords are refused on the variant
    path."""

    def __init__(self, table_schema: DataType, options: EngineOptions):
        self.table_schema = table_schema
        self.options = options
        self.stages: list[PyStage] = []
        self.variant = isinstance(table_schema, VariantType)

    @staticmethod
    def _node(dt: DataType):
        """A node of static type ``dt`` without a Column, for the
        compile-time questions."""
        if isinstance(dt, VariantType):
            # json_ingest imports this module
            from jsonschema_rs_spark.json_ingest import JV
            return JV(None)
        return _TypedNode(dt)

    # -- python-backed leaves ---------------------------------------------
    def _py_pred(self, ctx: _Ctx, py_fn: Callable[[str], bool],
                 udf_builder: Callable[[Column], Column],
                 what: str) -> Callable:
        """Predicate for a python-backed leaf check.

        - variant path: an untranslatable pattern has no Python fallback
          (:class:`JsonIngestUnsupported`).
        - not ``ctx.stageable``: no legal evaluation site exists (the pred
          would sit inside an HOF lambda) → SpecError at compile time
          (JsonIngestUnsupported on the variant path), mirroring the
          reference's compile-time rejection (``ecma.rs``) instead of a
          runtime AnalysisException.
        - doc scope: the Arrow UDF runs in the plain projection.
        - element scope: register a PyStage; when a staging context is
          active at plan-build time (HOF plans) the leaf resolves to
          ``element_at(staged_col, i+1)``; otherwise (exploded plans,
          which evaluate preds in plain post-explode projections) it calls
          the UDF directly.
        """
        if self.variant and what == "pattern":
            raise JsonIngestUnsupported(
                f"pattern at {ctx.cid()} does not compile in "
                "java.util.regex (no Python fallback on the variant path)")
        if not ctx.stageable:
            raise (JsonIngestUnsupported if self.variant else SpecError)(
                f"python-backed check ({what}) at {ctx.cid()} sits in a "
                "position with no evaluation site (nested array, contains, "
                "map values, or property names); use a Column-expressible "
                "pattern/format here, or restructure the schema so the "
                "check applies within one span-array element"
            )
        if ctx.scope != "element":
            return lambda n: udf_builder(n.s)
        sid = len(self.stages)
        self.stages.append(PyStage(
            stage_id=sid,
            array=ctx.array,
            array_key=ctx.array_key,
            extract=self._array_accessor(ctx.dpath),
            py_fn=py_fn,
            touched=frozenset({ctx.dpath[0]}) if ctx.dpath else None,
        ))

        def pred(n) -> Column:
            name = _stage_lookup(sid)
            if name is not None and len(n.i) == 1:
                return F.element_at(F.col(name), (n.i[0] + 1).cast("int"))
            return udf_builder(n.c)

        return pred

    # -- entry ----------------------------------------------------------
    def lower_root(self, schema: Any) -> _Lowered:
        """The lowering at the document root; a typed one as ``(x[, i])``
        Column functions, a variant one as functions of a JSON node."""
        dt = self.table_schema
        lowered = self.lower(schema, _Ctx(
            dtype=dt, path=(), scope="doc", elementable=not self.variant,
            stageable=True, options=self.options))
        if self.variant:
            return lowered
        for c in lowered.constraints:
            if c.scope == "doc":
                _leave_walk(c, dt)
        return _Lowered(lowered.constraints, _as_columns(dt, lowered.valid))

    # -- node ------------------------------------------------------------
    def lower(self, schema: Any, ctx: _Ctx) -> _Lowered:
        if schema is True or (isinstance(schema, dict) and not schema):
            return _Lowered([], _true)
        if not isinstance(schema, (dict, bool)):
            raise SpecError(f"schema at {ctx.cid()} must be dict/bool")

        out: list[CompiledConstraint] = []
        valids: list[Callable[..., Column]] = []

        def emit(segs: tuple, pred, observed, loc=None, key=None):
            c = self._mk(ctx, segs, lambda n, _p=pred: n.checked(_p(n)),
                         observed, loc, key)
            out.append(c)
            valids.append(c.pred)

        if schema is False:
            # a false schema's location is the schema itself
            emit(("false",), lambda n: F.lit(False),
                 lambda n: n.render(lambda _: F.lit("schema is false")), ())
            return self._lowered(out, valids)

        dt = ctx.dtype
        is_json = isinstance(dt, VariantType)
        # ---- custom keywords override builtins (reference custom.rs) ----
        custom = [k for k in schema if k in ctx.options.custom_keywords]
        if custom and self.variant:
            raise JsonIngestUnsupported(
                f"custom keyword(s) {sorted(custom)} at {ctx.cid() or '#'}: "
                "custom keyword factories build typed-column predicates "
                "and have no variant lowering")
        for name in custom:
            pred_b, obs_b = ctx.options.custom_keywords[name](schema[name],
                                                              dt)
            emit((name,), lambda n, _p=pred_b: _p(n.c),
                 lambda n, _o=obs_b: _o(n.c))

        # ---- scalar keywords ----------------------------------------------
        node = self._node(dt)
        for chk in scalar_checks(schema, node, ctx.options, ctx.cid(),
                                 partial(self._py_pred, ctx)):
            emit((chk.keyword,), chk.pred, _node_obs)
            out[-1].py_fn = chk.py_fn

        # ---- applicator keywords ------------------------------------------
        sub = self._sub(ctx)

        def emit_checks(checks: list[NodeCheck]) -> None:
            for chk in checks:
                o = chk.observed
                if o is None:
                    observed = _node_obs
                elif isinstance(o, str):
                    observed = lambda n, _o=o: F.lit(_o)
                else:
                    observed = lambda n, _o=o: n.render(_o)
                emit(chk.segs, chk.pred, observed, chk.loc, chk.key)

        # ---- object keywords: member names static on a struct, known at
        # run time on a map or a JSON object -------------------------------
        is_struct = isinstance(dt, StructType)
        if isinstance(dt, MapType):
            self._lower_map_properties(schema, ctx, emit)
        elif is_struct or is_json:
            if is_struct:
                self._resolve_members(schema, ctx)
            for k, s in (schema.get("properties") or {}).items():
                # a lenient struct's unknown member never exists; no
                # object re-gate on a JSON node: a non-object has no
                # members, so each member is absent and its checks pass
                if not is_struct or k in dt.names:
                    self._member(ctx, out, valids, s, k, (k,),
                                 ("properties", k))
        if isinstance(dt, (StructType, MapType)) or is_json:
            emit_checks(presence_checks(schema, sub))
            if is_struct:
                self._lower_struct(schema, ctx, out, valids, emit)
            else:
                emit_checks(name_checks(schema, node, sub, ctx.cid()))

        # ---- array keywords (a JSON node keeps the variant path's cell
        # order: the items family first) -----------------------------------
        if isinstance(dt, ArrayType) or is_json:
            if not is_json:
                emit_checks(array_checks(schema, sub))
            self._lower_items(schema, ctx, out, valids, emit)
            if is_json:
                emit_checks(array_checks(schema, sub))
            self._lower_unevaluated_items(schema, ctx, out, valids, emit)

        # ---- combinators --------------------------------------------------
        self._lower_all_of(schema, ctx, out, valids)
        emit_checks(logic_checks(schema, sub))
        self._lower_if(schema, ctx, out, valids)
        return self._lowered(out, valids)

    def _lowered(self, out, valids) -> _Lowered:
        # a variant check is never NULL and passes on an absent node, so a
        # variant node's validity is the flat conjunction of its checks
        return _Lowered(out, _and([c.pred for c in out] if self.variant
                                  else valids))

    def _sub(self, ctx: _Ctx) -> Callable:
        """The applicator keywords' subschema hook at ``ctx``: lowers the
        subschema now, at the node ``at`` names, and returns its validity
        over a node, NULL read by the node's ``passes``."""
        def sub(schema, segs, at, in_lambda):
            node = self._node(ctx.dtype)
            dt = (node if at is None else getattr(node, at)(None)).dt
            valid = self.lower(schema, ctx.child(
                dtype=dt, path=ctx.path + segs,
                dpath=ctx.dpath if at is None else (), elementable=False,
                spointer=_sp(ctx) + segs,
                stageable=ctx.stageable and not in_lambda)).valid
            return lambda n: n.passes(valid(n))
        return sub

    def _member(self, ctx: _Ctx, out, valids, schema, name: str,
                segs: tuple, sp_segs: tuple) -> None:
        """Lowers ``schema`` at the member ``name`` of a struct or JSON
        node (id segments ``segs``, pointer segments ``sp_segs``) and
        re-anchors it here."""
        dt = ctx.dtype
        self._descend(self.lower(schema, ctx.child(
            dtype=dt[name].dataType if isinstance(dt, StructType) else dt,
            path=ctx.path + segs, dpath=ctx.dpath + (name,),
            spointer=_sp(ctx) + sp_segs)),
            ctx, out, valids, lambda n: n.member(name))

    def _descend(self, lowered: _Lowered, ctx: _Ctx, out, valids,
                 step: Callable) -> None:
        """Re-anchors a child node's lowering at this node: ``step(n)`` is
        the child (a member or a tuple position) of the node ``n``, and
        an absent child passes.  Constraints of another scope carry their
        own array accessor (built from the doc root at the ``items``
        site) and stay as they are."""
        def at(fn):
            return lambda n, _fn=fn: _fn(step(n))

        def at_pass(fn):
            def pred(n, _fn=fn):
                m = step(n)
                return m.absent_passes(_fn(m))
            return pred

        for c in lowered.constraints:
            if c.scope == ctx.scope:
                c.pred, c.observed = at_pass(c.pred), at(c.observed)
                if c.viol_positions is not None:
                    # absent field → null array → plans coalesce to empty
                    c.viol_positions = at(c.viol_positions)
                if c.unit_positions is not None:
                    c.unit_positions = at(c.unit_positions)
            out.append(c)
        valids.append(at_pass(lowered.valid))

    # ------------------------------------------------------------------
    def _mk(self, ctx: _Ctx, segs: tuple, pred, observed,
            loc: Optional[tuple] = None,
            key: Optional[str] = None) -> CompiledConstraint:
        """The constraint ``segs`` below the node; its keywordLocation is
        the node's full pointer + ``loc`` (default ``segs``; '' is the
        root), and ``key`` is the one field an element-root ``required``
        reads."""
        touched = None
        if ctx.scope == "element" and ctx.dpath:
            touched = frozenset(ctx.dpath[:1])
        elif ctx.scope == "element" and key in getattr(ctx.dtype, "names",
                                                       ()):
            touched = frozenset({key})
        return CompiledConstraint(
            constraint_id=ctx.cid(*segs), scope=ctx.scope, pred=pred,
            observed=observed, array=ctx.array, array_key=ctx.array_key,
            touched=touched, instance_fields=ctx.dpath,
            schema_path="".join("/" + _esc_pointer(s) for s in (
                *_sp(ctx), *(segs if loc is None else loc))),
        )

    # ------------------------------------------------------------------
    @staticmethod
    def _resolve_members(schema, ctx: _Ctx) -> None:
        """Every member name a struct's schema gives (``properties``,
        ``required``, the dependency keywords' keys and required names) is
        a field, except in a ``$__lenient__`` subtree (a dynamic reference
        unrolled past the table's nesting depth), where it never exists."""
        if schema.get("$__lenient__"):
            return
        req, sch = dependency_keywords(schema)
        names = [("properties", k) for k, s in
                 (schema.get("properties") or {}).items()
                 if not (isinstance(s, dict) and s.get("$__lenient__"))]
        names += [("required", k) for k in schema.get("required") or []]
        names += [(kw, r) for k, (kw, rs) in req.items() for r in (k, *rs)]
        names += [(kw, k) for k, (kw, _) in sch.items()]
        for kw, k in names:
            if k not in ctx.dtype.names:
                raise SpecError(
                    f"{kw} at {ctx.cid() or '#'} names member {k!r}, which "
                    f"is not in the typed table schema (fields: "
                    f"{sorted(ctx.dtype.names)})")

    def _lower_struct(self, schema, ctx: _Ctx, out, valids, emit) -> None:
        """The name-set keywords on a typed struct, whose member names
        are its fields: ``patternProperties``, ``propertyNames``,
        ``additionalProperties`` and ``unevaluatedProperties`` resolve
        their names at compile time."""
        fields = ctx.dtype.names
        member = partial(self._member, ctx, out, valids)

        # patternProperties on a typed struct: field names are static, so
        # the regex match resolves at compile time (reference
        # ``pattern_properties.rs`` does it per doc).  The driver-side
        # matcher prefers Python re and falls back to the JVM dialect for
        # Java-valid/Python-invalid patterns (named groups, \\p{L}).
        # additionalProperties below reuses the compiled patterns.
        pats = schema.get("patternProperties") or {}
        try:
            matchers = {pat: driver_regex_matcher(pat) for pat in pats}
        except ValueError as e:
            raise SpecError(str(e))
        for pat, sub in pats.items():
            for name in fields:
                if matchers[pat](name):
                    member(sub, name, ("patternProperties", pat, name),
                           ("patternProperties", pat))

        # propertyNames on a typed struct: static field-name check, gated on
        # member PRESENCE — JSON Schema applies the name schema only to
        # present members, and absent ≡ NULL under the typed convention
        # (reference ``keywords/property_names.rs`` iterates actual keys).
        if "propertyNames" in schema:
            # the names are literals in the plain projection: no staged
            # lookup exists for them at element scope
            ok = self._sub(ctx)(schema["propertyNames"], ("propertyNames",),
                                "name", ctx.scope == "element")

            def bad(n, nm):  # a present member whose name fails
                return n.present(nm) & ~ok(n.name(F.lit(nm)))
            pred = lambda n: ~_or_all([bad(n, nm) for nm in fields])
            emit(("propertyNames",), pred, lambda n: F.concat_ws(",", *[
                F.when(bad(n, nm), F.lit(nm)) for nm in fields]))

        # additionalProperties on a typed struct: applies to PRESENT fields
        # not matched by properties/patternProperties (reference
        # ``additional_properties.rs:79-864``).  A declared span table is
        # usually closed-world (every field named in properties → nothing
        # emitted), but when the typed struct carries extra fields the
        # keyword must gate them, presence-checked via non-NULL.
        ap = schema.get("additionalProperties")
        if isinstance(ap, (dict, bool)) and ap is not True:
            named = set(schema.get("properties", {}) or {})
            extra_fields = [nm for nm in fields
                            if nm not in named
                            and not any(m(nm) for m in matchers.values())]
            # structural comparison must ignore the $__abs__ provenance
            # marker resolve_refs stamps on $ref-inlined subtrees
            # (round-5 ADVICE low #5)
            ap_cmp = ({k: v for k, v in ap.items()
                       if k not in ("$__abs__", "$__lenient__")}
                      if isinstance(ap, dict) else ap)
            if ap is False or ap_cmp == {"not": {}}:
                for nm in extra_fields:  # located at the keyword
                    emit(("additionalProperties", nm),
                         lambda n, _k=nm: n.c.getField(_k).isNull(),
                         lambda n, _k=nm: n.member(_k).obs,
                         ("additionalProperties",))
            else:
                for nm in extra_fields:
                    member(ap, nm, ("additionalProperties", nm),
                           ("additionalProperties",))

        # unevaluatedProperties — CONDITIONAL claim resolution on a typed
        # struct: field names are known at compile time, and each
        # ``claim_sources`` record's claims gate on its runtime terms (or
        # its claim-keyword subset), so annotations count only from schemas
        # that were successfully applied.  Subset-only gates are SOFT.
        if isinstance(schema.get("unevaluatedProperties"), (dict, bool)):
            sub = schema["unevaluatedProperties"]
            claims = [(gate, src, [driver_regex_matcher(p)
                                   for p in src.patterns])
                      for gate, src in claim_gates(schema, "props",
                                                   self._sub(ctx))]
            for fname in fields:
                conds = []
                any_hard = False
                unconditional = False
                for cond, src, matchers in claims:
                    hit = src.claims_all or fname in src.names or any(
                        m(fname) for m in matchers)
                    if not hit:
                        continue
                    if cond is None:
                        unconditional = True
                        break
                    conds.append(cond)
                    any_hard = any_hard or bool(src.terms)
                if unconditional:
                    continue
                mark_out, mark_val = len(out), len(valids)
                member(sub, fname, ("unevaluatedProperties", fname),
                       ("unevaluatedProperties",))
                if not conds:
                    continue
                if any(c.scope != ctx.scope for c in out[mark_out:]):
                    # cross-scope (element) constraints can't see the node
                    # instance the claim conditions evaluate on
                    if not any_hard:
                        # only SOFT validity gates (round 5): fall back to
                        # the unconditional claim — drop the unevaluated
                        # check for this field (documented approximation)
                        del out[mark_out:]
                        del valids[mark_val:]
                        continue
                    raise SpecError(
                        f"unevaluatedProperties at {ctx.cid()}: field "
                        f"{fname!r} is claimed only conditionally but its "
                        "unevaluated schema produces nested-array element "
                        "constraints, which cannot be gated on the claim "
                        "condition; claim it unconditionally or simplify "
                        "the unevaluated schema"
                    )
                # field claimed only conditionally: the unevaluated check
                # applies exactly when NO claimant branch applied
                def claimed(n, _cs=tuple(conds)):
                    return _or_all([cf(n) for cf in _cs])
                for c in out[mark_out:]:
                    if c.scope == ctx.scope:
                        c.pred = (lambda n, _p=c.pred, _cl=claimed: _cl(n)
                                  | F.coalesce(_p(n), F.lit(True)))
                for vi in range(mark_val, len(valids)):
                    valids[vi] = (lambda n, _p=valids[vi], _cl=claimed:
                                  _cl(n) | F.coalesce(_p(n), F.lit(True)))

    # ------------------------------------------------------------------
    def _lower_map_properties(self, schema, ctx: _Ctx, emit) -> None:
        """``properties`` on a map: the subschema applies when the key is
        present, one collapsed constraint per member, located at its
        schema.  A plain ``element_at`` (no lambda), so a doc-scope python
        leaf is legal here; at element scope a map value has no staged
        lookup."""
        dt: MapType = ctx.dtype
        for name, sub in schema.get("properties", {}).items():
            lowered = self.lower(sub, ctx.child(
                dtype=dt.valueType, path=ctx.path + (name,), dpath=(),
                elementable=False, spointer=_sp(ctx) + ("properties", name),
                stageable=ctx.scope == "doc" and ctx.stageable))
            emit((name,),
                 lambda n, _k=name, _v=lowered.valid:
                 ~F.map_contains_key(n.c, F.lit(_k))
                 | _v(_TypedNode(dt.valueType, F.element_at(n.c, F.lit(_k)))),
                 lambda n, _k=name:
                 F.element_at(n.c, F.lit(_k)).cast("string"),
                 ("properties", name))

    # ------------------------------------------------------------------
    def _lower_items(self, schema, ctx: _Ctx, out, valids, emit) -> None:
        """The items family: the tuple form — ``prefixItems`` (2020-12) or
        the array form of ``items`` (drafts 4-2019), each position named
        by the keyword declared — and the rest: ``items`` after
        ``prefixItems`` or alone, ``additionalItems`` after tuple
        ``items``."""
        draft = ctx.options.draft
        tuple_kw, rest_kw = None, "items"
        if isinstance(schema.get("prefixItems"), list):
            if draft in (4, 6, 7, 2019):
                raise SpecError(
                    f"prefixItems at {ctx.cid()} is a 2020-12 keyword; "
                    f"draft {draft} uses the array form of items"
                )
            tuple_kw = "prefixItems"
        elif isinstance(schema.get("items"), list):
            if draft == 2020:
                raise SpecError(
                    f"array-form items at {ctx.cid()} was removed in "
                    "2020-12; use prefixItems"
                )
            tuple_kw, rest_kw = "items", "additionalItems"
        prefix = schema[tuple_kw] if tuple_kw else []
        for p, sub in enumerate(prefix):
            self._emit_items(sub, ctx, out, valids, emit,
                             (tuple_kw, str(p)), ("eq", p))
        rest = schema.get(rest_kw)
        if isinstance(rest, (dict, bool)):
            # object-form items — reference ``keywords/items.rs:186-206``
            self._emit_items(rest, ctx, out, valids, emit, (rest_kw,),
                             ("ge", len(prefix)) if tuple_kw else None)

    def _lower_unevaluated_items(self, schema, ctx: _Ctx, out, valids,
                                 emit) -> None:
        """``unevaluatedItems`` (reference tracks evaluated positions via
        runtime annotations, ``unevaluated_items.rs``).  ``claim_sources``
        records with no terms and no claim-keyword subset resolve
        statically; the rest gate on runtime validity — an element
        position counts as evaluated only when the source that claims it
        applied.  The gated path is one node-level HOF check (rare corner;
        per-position attribution is kept on the common static path)."""
        ue = schema.get("unevaluatedItems")
        if not isinstance(ue, (dict, bool)):
            return
        sub = self._sub(ctx)
        gated = claim_gates(schema, "items", sub)
        # 2020-12: a `contains` claims the items it MATCHES — an
        # element-level runtime claim, handled on the gated path
        has_contains = any(s.contains is not None for _, s in gated)
        static = [s for g, s in gated if g is None]
        soft = [s for g, s in gated if g is not None and not s.terms]

        def extent(ss):
            return (max([s.n_prefix for s in ss], default=0),
                    any(s.claims_all for s in ss))

        # every branch source gates at runtime: it may claim a position
        # whose node or allOf source failed its subset gate
        has_branch_conds = any(s.terms for _, s in gated)
        n_static, static_all = extent(static)
        n_soft, soft_all = extent(soft)
        if static_all:
            return  # unconditionally all claimed: nothing unevaluated
        if not soft and not has_branch_conds and not has_contains:
            # no conditional sources: static per-position attribution
            self._emit_items(ue, ctx, out, valids, emit,
                             ("unevaluatedItems",),
                             ("ge", n_static) if n_static else None)
            return
        # round-5 split: when the only runtime sources are gated PREFIX
        # claims (no branch conds, no contains, no gated claims-all),
        # positions past every potentially-claimed prefix keep the rich
        # static per-position attribution; only the prefix window goes
        # through the gated check
        upper = None
        if soft and not soft_all and not has_branch_conds \
                and not has_contains:
            upper = max(n_static, n_soft)
            self._emit_items(ue, ctx, out, valids, emit,
                             ("unevaluatedItems",), ("ge", upper))
        bind, claimed_at = item_claims(gated, sub)
        ue_ok = sub(ue, ("unevaluatedItems",), "child", True)

        def _gated_cells(n, mk):
            """One per-position value via ``mk(ok, e, i)`` under the
            SHARED gated claim math — the node-level pred and the
            per-position rows must never drift apart.

            The branch-validity bounds bind ONCE as a lambda variable
            (single-element transform — the word_shingles trick):
            referencing the bounds inside the per-element lambda would
            re-validate every branch per element in Spark's interpreted
            HOF path (O(n²)/row)."""
            bound = F.struct(*bind(n))

            def cell_ok(b, e, i):
                el = n.child(e)
                claimed = claimed_at(b, el, i)
                if upper is not None:
                    # positions >= upper are handled by the static
                    # per-position check above (round-5 split)
                    claimed = claimed | (i >= F.lit(upper))
                return claimed | ue_ok(el)

            return F.element_at(
                F.transform(F.array(bound), lambda b: F.transform(
                    n.arr, lambda e, i: mk(cell_ok(b, e, i), e, i))),
                1)

        def _cells(n):
            return _gated_cells(n, lambda ok, e, i: ok)

        emit(("unevaluatedItems",),
             lambda n: n.gate(_ARRAY, n.passes(
                 F.forall(_cells(n), lambda b: b))),
             lambda n: n.render(lambda m: F.size(
                 F.filter(_cells(m), lambda b: ~b)).cast("string")))

        # per-position violation rows (round 4): same gated cell math,
        # emitting (pos, observed) structs for FAILING positions instead
        # of one node-level count row; typed plans only
        def _pos_structs(n):
            structs = _gated_cells(n, lambda ok, e, i: F.when(~ok, F.struct(
                i.cast("int").alias("pos"),
                n.child(e).obs.cast("string").alias("obs"))))
            return F.filter(structs, lambda v: v.isNotNull())

        def _unit_structs(n):
            # BOTH-polarity per-position units (annotation stream)
            return _gated_cells(n, lambda ok, e, i: F.struct(
                i.cast("int").alias("pos"), ok.alias("ok"),
                n.child(e).obs.cast("string").alias("obs")))

        out[-1].viol_positions = _pos_structs
        out[-1].unit_positions = _unit_structs

    def _emit_items(self, sub, ctx: _Ctx, out, valids, emit, path_suffix,
                    index_gate) -> None:
        """Lower an element subschema: at the tuple position ``("eq",
        p)``, or at every position from ``("ge", n)`` on (None: all).

        At doc scope over a doc-rooted typed array this produces
        *element-scope* constraints (per-element violation rows with
        span_index, evaluated inside one fused ``transform`` — the explode
        happens once, at violation-emission time only).  Elsewhere, and
        on every JSON node, a tuple position descends like a member, and
        the rest collapses into a ``forall`` on the node's validity (no
        per-element attribution).
        """
        if sub is True or sub == {}:
            return
        if ctx.scope == "doc" and ctx.elementable:
            # element scope: array accessor follows the pure field path
            # from the doc root (dpath), independent of combinator nesting
            elem_dt = ctx.dtype.elementType
            lowered = self.lower(sub, ctx.child(
                dtype=elem_dt, path=ctx.path + path_suffix, scope="element",
                dpath=(), elementable=True,
                array=self._array_accessor(ctx.dpath), array_key=ctx.dpath,
                spointer=_sp(ctx) + path_suffix, stageable=True))
            for c in lowered.constraints:
                _leave_walk(c, elem_dt)
                if index_gate is not None:
                    prev = c.pred
                    kind, n = index_gate
                    if kind == "eq":
                        c.pred = lambda x, i, _p=prev, _n=n: (i != _n) | _p(x, i)
                    else:
                        c.pred = lambda x, i, _p=prev, _n=n: (i < _n) | _p(x, i)
                    c.index_gate = index_gate
                out.append(c)

            # node-level validity for combinators / verdict fast path
            def arr_valid(n, _v=lowered.valid, _gate=index_gate) -> Column:
                def body(e, i):
                    ok = F.coalesce(_v(_TypedNode(elem_dt, e, (i,))),
                                    F.lit(True))
                    if _gate is not None:
                        kind, k = _gate
                        gate_c = (i == k) if kind == "eq" else (i >= k)
                        ok = ~gate_c | ok
                    return ok
                return F.coalesce(
                    F.forall(F.transform(n.c, lambda e, i: body(e, i)),
                             lambda b: b),
                    F.lit(True))
            valids.append(arr_valid)
        elif index_gate is not None and index_gate[0] == "eq":
            # a tuple position: element_at, no lambda, so a doc-scope
            # python leaf is legal here; at element scope it has no
            # staged lookup
            p = index_gate[1]
            self._descend(self.lower(sub, ctx.child(
                dtype=self._node(ctx.dtype).child(None).dt,
                path=ctx.path + path_suffix, elementable=False,
                spointer=_sp(ctx) + path_suffix,
                stageable=ctx.scope == "doc" and ctx.stageable)),
                ctx, out, valids, lambda n: n.item(p))
        else:
            # the rest of a nested array collapses into one forall
            valid = self._sub(ctx)(sub, path_suffix, "child", True)
            start = index_gate[1] if index_gate else 0
            emit(path_suffix,
                 lambda n: n.gate(_ARRAY, n.all_items(sub, start, valid)),
                 lambda n: n.render(lambda m: F.size(m.arr).cast("string")))

    @staticmethod
    def _array_accessor(path: tuple[str, ...]) -> Callable[[Column], Column]:
        def acc(root: Column) -> Column:
            cur = root
            for seg in path:
                cur = cur.getField(seg)
            return cur
        return acc

    # ------------------------------------------------------------------
    def _lower_all_of(self, schema, ctx: _Ctx, out, valids) -> None:
        # allOf — pass children through (reference ``all_of.rs:37``)
        for idx, sub in enumerate(schema.get("allOf", [])):
            segs = ("allOf", str(idx))
            lowered = self.lower(sub, ctx.child(
                path=ctx.path + segs, spointer=_sp(ctx) + segs))
            out.extend(lowered.constraints)
            valids.append(lowered.valid)

    def _lower_if(self, schema, ctx: _Ctx, out, valids) -> None:
        # if/then/else — reference pre-fused variants ``if_.rs:183-202``.
        # Same-scope children keep per-constraint identity with a gated pred;
        # cross-scope children collapse into a node-level constraint.
        if "if" not in schema or ("then" not in schema
                                  and "else" not in schema):
            return
        cond_lowered = self.lower(schema["if"], ctx.child(
            path=ctx.path + ("if",), elementable=False,
            spointer=_sp(ctx) + ("if",)))
        cond = cond_lowered.valid
        cond_touched = frozenset()
        for cc in cond_lowered.constraints:
            if cc.touched is None:
                cond_touched = None
                break
            cond_touched = cond_touched | cc.touched

        def gate(branch_name, polarity):
            lowered = self.lower(schema[branch_name], ctx.child(
                path=ctx.path + (branch_name,),
                spointer=_sp(ctx) + (branch_name,)))

            def applies(n):
                g = F.coalesce(cond(n), F.lit(False))
                return g if polarity else ~g
            if all(c.scope == ctx.scope for c in lowered.constraints):
                for c in lowered.constraints:
                    # the gated pred can't gate a per-position row
                    # builder — fall back to the node-level row
                    c.viol_positions = None
                    c.unit_positions = None
                    c.pred = (lambda n, _p=c.pred: ~applies(n)
                              | F.coalesce(_p(n), F.lit(True)))
                    # the gated pred now also reads the if-condition's
                    # fields
                    if c.touched is not None:
                        c.touched = (None if cond_touched is None
                                     else c.touched | cond_touched)
                    out.append(c)
                    valids.append(c.pred)
            else:
                pred = (lambda n, _v=lowered.valid: ~applies(n)
                        | F.coalesce(_v(n), F.lit(True)))
                out.append(self._mk(ctx, (branch_name,), pred,
                                    _node_obs))
                valids.append(pred)

        if "then" in schema:
            gate("then", True)
        if "else" in schema:
            gate("else", False)


# --------------------------------------------------------------------------
# public entry
# --------------------------------------------------------------------------

_DRAFT_URIS = (
    ("draft-04", 4), ("draft-06", 6), ("draft-07", 7),
    ("2019-09", 2019), ("2020-12", 2020),
)


def _sniff_draft(schema: Any) -> int | None:
    """Map the root ``$schema`` URI to a draft (reference dispatch,
    ``options.rs:58-82`` / ``keywords/mod.rs:177-391``)."""
    if isinstance(schema, dict):
        uri = schema.get("$schema") or ""
        if not isinstance(uri, str):
            # fuzz-found (round 5): {"$schema": true} crashed the sniffer
            raise SpecError(f"$schema expects a URI string, got {uri!r}")
        for frag, d in _DRAFT_URIS:
            if frag in uri:
                return d
        if uri:
            raise SpecError(f"unrecognized $schema dialect {uri!r}")
    return None


# keyword -> the dialects that define it (None = the merged dialect); a
# keyword not listed here exists in every dialect.  Elsewhere a keyword is
# an annotation (reference ``compiler.rs:413-416``).
_DRAFTS = frozenset((None, 4, 6, 7, 2019, 2020))
_SINCE_6 = frozenset((None, 6, 7, 2019, 2020))
_SINCE_2019 = frozenset((None, 2019, 2020))
_VOCABULARY = {
    "const": _SINCE_6, "contains": _SINCE_6, "propertyNames": _SINCE_6,
    "if": frozenset((None, 7, 2019, 2020)),
    "contentEncoding": frozenset((None, 7)),
    "contentMediaType": frozenset((None, 7)),
    **dict.fromkeys(("dependentRequired", "dependentSchemas",
                     "unevaluatedProperties", "unevaluatedItems",
                     "minContains", "maxContains"), _SINCE_2019),
}
# keywords whose value maps member names, patterns or anchors to schemas
_SCHEMA_MAPS = frozenset((
    "properties", "patternProperties", "$defs", "definitions",
    "dependentSchemas", "dependencies"))
# keywords whose value is a schema, or a list of schemas
_SCHEMA_SLOTS = frozenset((
    "items", "prefixItems", "additionalItems", "unevaluatedItems",
    "contains", "additionalProperties", "unevaluatedProperties",
    "propertyNames", "allOf", "anyOf", "oneOf", "not", "if", "then",
    "else"))


def _in_vocabulary(schema: Any, draft: int | None, custom) -> Any:
    """``schema`` without the keywords ``draft`` does not define, removed
    at schema positions only (never from ``enum``/``const`` values or
    member names).  Registered custom keywords stay, values untouched."""
    if not isinstance(schema, dict):
        return schema

    def sub(kw, v):
        if kw in custom:
            return v
        if kw in _SCHEMA_MAPS and isinstance(v, dict):
            return {k: _in_vocabulary(x, draft, custom)
                    for k, x in v.items()}
        if kw in _SCHEMA_SLOTS:
            if isinstance(v, list):
                return [_in_vocabulary(x, draft, custom) for x in v]
            return _in_vocabulary(v, draft, custom)
        return v

    return {kw: sub(kw, v) for kw, v in schema.items()
            if kw in custom or draft in _VOCABULARY.get(kw, _DRAFTS)}


def prepare_spec(schema: Any, options: EngineOptions | None = None
                 ) -> tuple[Any, EngineOptions]:
    """The spec front end of both lowerers: returns the resolved spec and
    the options with ``draft`` and ``validate_formats`` decided.

    Mirrors the reference's ``build_validator`` pipeline
    (``compiler.rs:284-340``): detect the draft, self-validate the RAW
    spec against the draft's meta-schema (``compiler.rs:246-282``), inline
    the refs, keep the draft's keyword vocabulary, then check the
    resolved spec's keyword values."""
    options = options or EngineOptions()
    draft = options.draft if options.draft is not None else _sniff_draft(schema)
    if draft not in _DRAFTS:
        raise SpecError(f"unsupported draft {draft!r}")
    validate_formats = options.validate_formats
    if validate_formats is None:
        # formats assert in drafts 4/6/7 (and the merged dialect); they are
        # annotation-only in 2019-09/2020-12 unless explicitly enabled
        validate_formats = draft in (None, 4, 6, 7)
    options = dataclasses.replace(
        options, draft=draft, validate_formats=validate_formats)
    validate_against_metaschema(schema, draft)
    resolved = resolve_refs(schema, resources=options.resources or None,
                            recursion_limit=options.recursion_limit,
                            draft=draft)
    custom = set(options.custom_keywords)
    resolved = _in_vocabulary(resolved, draft, custom)
    validate_spec(resolved, custom)
    return resolved, options


def compile_spec(
    schema: Any,
    table_schema: StructType,
    options: EngineOptions | None = None,
) -> CompiledSpec:
    """Compile a constraint spec against a typed table schema:
    :func:`prepare_spec`, then lower every keyword."""
    resolved, options = prepare_spec(schema, options)
    lowerer = Lowerer(table_schema, options)
    lowered = lowerer.lower_root(resolved)
    return CompiledSpec(
        constraints=lowered.constraints,
        valid=lowered.valid,
        schema=resolved,
        table_schema=table_schema,
        py_stages=lowerer.stages,
    )
