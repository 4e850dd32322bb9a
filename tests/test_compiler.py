"""Compiler unit tests: spec validation, $ref handling, custom extension
surface, map applicators, verdict/violations agreement."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from jsonschema_rs_spark.compiler import EngineOptions, compile_spec
from jsonschema_rs_spark.plans.validate import validation_frame, verdicts
from jsonschema_rs_spark.spec import SpecError, resolve_refs
from jsonschema_rs_spark.sources.spans import SPAN_TABLE_SCHEMA


def test_recursive_ref_rejected():
    schema = {"$defs": {"a": {"properties": {"spans": {"$ref": "#/$defs/a"}}}},
              "$ref": "#/$defs/a"}
    with pytest.raises(SpecError, match="nesting deeper"):
        resolve_refs(schema)


def test_unresolvable_ref():
    with pytest.raises(SpecError, match="unresolvable"):
        resolve_refs({"$ref": "#/$defs/missing"})


def test_remote_ref_rejected():
    with pytest.raises(SpecError, match="local"):
        resolve_refs({"$ref": "https://example.com/x.json"})


def test_registered_resource_ref():
    # the registry analogue: resources supplied ahead-of-time on the driver
    resources = {"https://example.com/pos.json": {
        "properties": {"offset": {"minimum": 0}}}}
    out = resolve_refs(
        {"properties": {"spans": {"items": {
            "$ref": "https://example.com/pos.json#/properties/offset"}}}},
        resources=resources)
    got = dict(out["properties"]["spans"]["items"])
    # $__abs__ records the pre-inline resource pointer for
    # absoluteKeywordLocation units (round 4)
    assert got.pop("$__abs__") == (
        "https://example.com/pos.json#/properties/offset")
    assert got == {"minimum": 0}


def test_dollar_id_defs_as_resources():
    out = resolve_refs({
        "$defs": {"pos": {"$id": "urn:pos", "minimum": 0}},
        "properties": {"spans": {"items": {"$ref": "urn:pos"}}},
    })
    assert out["properties"]["spans"]["items"]["minimum"] == 0


@pytest.mark.parametrize("bad", [
    {"minLength": -1},
    {"minimum": "zero"},
    {"required": "kind"},
    {"allOf": []},
    {"pattern": 5},
])
def test_spec_validation_rejects(bad):
    with pytest.raises(SpecError):
        compile_spec({"properties": {"doc_id": bad}}, SPAN_TABLE_SCHEMA)


def test_unknown_field_rejected():
    with pytest.raises(SpecError, match="not in the"):
        compile_spec({"properties": {"nope": {"type": "string"}}},
                     SPAN_TABLE_SCHEMA)


@pytest.mark.parametrize("spec,name", [
    ({"dependentRequired": {"a": ["zz"]}}, "zz"),
    ({"dependentRequired": {"zz": ["a"]}}, "zz"),
    ({"dependentSchemas": {"zz": {"required": ["a"]}}}, "zz"),
])
def test_dependency_names_resolve_at_compile_time(spec, name):
    """A dependency keyword that names a member the typed struct lacks is
    refused when the spec compiles, naming the member, as ``required``
    and ``properties`` are."""
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    table = StructType([StructField("doc_id", StringType()),
                        StructField("a", IntegerType())])
    with pytest.raises(SpecError, match=f"'{name}'"):
        compile_spec(spec, table, EngineOptions(draft=2020))


def test_unknown_keyword_is_annotation():
    # reference treats unknown keywords as annotations (compiler.rs:413-416)
    c = compile_spec({"properties": {"doc_id": {"x-meta": 1}}},
                     SPAN_TABLE_SCHEMA)
    assert c.constraints == []


def test_custom_keyword_and_format(spark):
    def even_factory(value, dtype):
        pred = lambda x: (F.length(x) % 2 == 0) == F.lit(value)
        obs = lambda x: x.cast("string")
        return pred, obs

    opts = EngineOptions(
        custom_keywords={"evenLength": even_factory},
        custom_formats={"shouty": lambda c: c == F.upper(c)},
    )
    spec = {"properties": {"doc_id": {"evenLength": True, "format": "shouty"}}}
    df = spark.createDataFrame(
        [("ABCD",), ("abc",)], "doc_id string")
    c = compile_spec(spec, df.schema, opts)
    assert {x.constraint_id for x in c.constraints} == {
        "doc_id/evenLength", "doc_id/format"}
    got = {r["doc_id"]: r["valid"] for r in verdicts(df, c).collect()}
    assert got == {"ABCD": True, "abc": False}


TREE_SCHEMA = {
    "$defs": {"tree": {
        "$dynamicAnchor": "tree",
        "required": ["value"],
        "properties": {
            "value": {"minimum": 0},
            "child": {"$dynamicRef": "#tree"},
        },
    }},
    "properties": {"node": {"$ref": "#/$defs/tree"}},
}

_TREE_DDL = ("doc_id string, "
             "node struct<value:int, child:struct<value:int>>")


def test_dynamic_ref_unrolls_to_typed_depth(spark):
    """$dynamicRef/$recursiveRef: bounded unrolling (reference ref_.rs
    dynamic-scope thunks).  On a typed table the unrolling is exact — the
    recursion terminates quietly where the type ends."""
    df = spark.createDataFrame(
        [("ok", (1, (2,))), ("bad-root", (-1, (2,))),
         ("bad-child", (1, (-5,))), ("no-child", (3, None))],
        _TREE_DDL)
    c = compile_spec(TREE_SCHEMA, df.schema)
    got = {r["doc_id"]: r["valid"]
           for r in validation_frame(df, c, mode="verdicts").collect()}
    assert got == {"ok": True, "bad-root": False,
                   "bad-child": False, "no-child": True}


def test_dynamic_ref_recursion_limit_is_permissive_terminal(spark):
    df = spark.createDataFrame([("d", (1, (-5,)))], _TREE_DDL)
    c = compile_spec(TREE_SCHEMA, df.schema,
                     EngineOptions(recursion_limit=0))
    got = validation_frame(df, c, mode="verdicts").collect()[0]["valid"]
    assert got is True  # child subtree past the budget is unchecked


def test_recursive_anchor_hash_ref(spark):
    schema = {
        "$recursiveAnchor": True,
        "required": ["doc_id"],
        "properties": {"obj": {"$recursiveRef": "#"}},
    }
    df = spark.createDataFrame(
        [("a", ("x",)), ("b", (None,))],
        "doc_id string, obj struct<doc_id:string>")
    c = compile_spec(schema, df.schema)
    got = {r["doc_id"]: r["valid"]
           for r in validation_frame(df, c, mode="verdicts").collect()}
    # nested 'required doc_id' applies to the present obj member
    assert got == {"a": True, "b": False}


def test_custom_content_encoding_and_media_type(spark):
    """Registration hooks mirroring reference options.rs:137-258."""
    opts = EngineOptions(
        custom_encodings={"hex": lambda c: c.rlike("^([0-9a-fA-F]{2})*$")},
        custom_media_types={"text/csv": lambda c: c.contains(",")},
    )
    spec = {"properties": {"doc_id": {"contentEncoding": "hex",
                                      "contentMediaType": "text/csv"}}}
    df = spark.createDataFrame([("6162,63",), ("zz",)], "doc_id string")
    c = compile_spec(spec, df.schema, opts)
    assert {x.constraint_id for x in c.constraints} == {
        "doc_id/contentEncoding", "doc_id/contentMediaType"}
    got = {r["doc_id"]: r["valid"]
           for r in validation_frame(df, c, id_cols=("doc_id",),
                                     mode="verdicts").collect()}
    assert got["zz"] is False        # not hex pairs, no comma
    assert got["6162,63"] is False   # csv ok but ',' breaks hex
    # unknown names stay annotations (reference behavior)
    c2 = compile_spec({"properties": {"doc_id": {
        "contentEncoding": "zstd"}}}, df.schema)
    assert c2.constraints == []


def test_retriever_feeds_resources(spark):
    """Driver-side ahead-of-time fetch -> EngineOptions.resources -> $ref."""
    import json as _json

    from jsonschema_rs_spark.retriever import fetch_resources

    docs = {"https://example.com/pos.json": _json.dumps(
        {"properties": {"offset": {"minimum": 0}}})}
    res = fetch_resources(docs, fetcher=lambda u: docs[u])
    opts = EngineOptions(resources=res)
    spec = {"properties": {"spans": {"items": {
        "$ref": "https://example.com/pos.json"}}}}
    c = compile_spec(spec, SPAN_TABLE_SCHEMA, opts)
    assert any("minimum" in x.constraint_id for x in c.constraints)
    with pytest.raises(SpecError, match="retrieve"):
        fetch_resources(["https://example.com/missing.json"],
                        fetcher=lambda u: (_ for _ in ()).throw(OSError("404")))
    with pytest.raises(SpecError, match="JSON"):
        fetch_resources(["https://example.com/bad.json"],
                        fetcher=lambda u: "not json")


def test_map_applicators(spark):
    df = spark.createDataFrame(
        [("a", {"k1": 1, "k2": 50}), ("b", {"bad key": 2}),
         ("c", {"k1": 1, "k2": 2, "k3": 3, "k4": 4})],
        "doc_id string, props map<string,int>")
    spec = {"properties": {"props": {
        "maxProperties": 3,
        "propertyNames": {"pattern": "^k[0-9]$"},
        "patternProperties": {"^k2$": {"maximum": 10}},
        "additionalProperties": {"minimum": 0},
    }}}
    c = compile_spec(spec, df.schema)
    vf = validation_frame(df, c, mode="both")
    rows = {r["doc_id"]: r for r in vf.collect()}
    assert rows["a"]["valid"] is False  # k2=50 > 10
    ids_a = {v["constraint_id"] for v in rows["a"]["violations"]}
    assert "props/patternProperties/^k2$" in ids_a
    assert rows["b"]["valid"] is False  # bad key name
    ids_b = {v["constraint_id"] for v in rows["b"]["violations"]}
    assert "props/propertyNames" in ids_b
    assert rows["c"]["valid"] is False  # 4 props > 3
    ids_c = {v["constraint_id"] for v in rows["c"]["violations"]}
    assert "props/maxProperties" in ids_c


def test_map_dependent_required_and_schemas(spark):
    df = spark.createDataFrame(
        [("a", {"a": 1}), ("b", {"a": 1, "b": 2}), ("c", {"b": 9})],
        "doc_id string, props map<string,int>")
    spec = {"properties": {"props": {
        "dependentRequired": {"a": ["b"]},
        "dependentSchemas": {"b": {"properties": {"b": {"maximum": 5}}}},
    }}}
    c = compile_spec(spec, df.schema)
    got = {r["doc_id"]: r for r in
           validation_frame(df, c, mode="both").collect()}
    assert got["a"]["valid"] is False  # a present without b
    assert got["b"]["valid"] is True
    assert got["c"]["valid"] is False  # b present, b=9 > 5
    ids_c = {v["constraint_id"] for v in got["c"]["violations"]}
    assert "props/dependentSchemas/b" in ids_c


def test_verdict_fastpath_agrees_with_violations(spark):
    from jsonschema_rs_spark.flagship import FLAGSHIP_SPEC
    from jsonschema_rs_spark.plans.validate import verdicts
    from jsonschema_rs_spark.sources.spans import synth_spans

    df = synth_spans(spark, 300).cache()
    c = compile_spec(FLAGSHIP_SPEC, df.schema)
    both = validation_frame(df, c, mode="both")
    fast = validation_frame(df, c, mode="verdicts")
    exploded = verdicts(df, c, strategy="exploded")
    a = {(r["doc_id"], r["valid"]) for r in both.collect()}
    b = {(r["doc_id"], r["valid"]) for r in fast.collect()}
    # synth data plants duplicate doc_ids; the exploded strategy groups by
    # id, so compare against the AND of per-row verdicts per id
    from collections import defaultdict
    expect = defaultdict(lambda: True)
    for doc_id, valid in a:
        expect[doc_id] &= valid
    e = {(r["doc_id"], r["valid"]) for r in exploded.collect()}
    assert b == a
    assert e == {(k, v) for k, v in expect.items()}
    df.unpersist()


def test_member_named_like_a_keyword_is_not_a_python_leaf(spark):
    """A member literally named ``format`` or ``pattern`` is not read as a
    keyword (ADVICE r2: `fmt in FORMATS_PY` raised TypeError on the
    unhashable subschema dict), while a real Python-backed leaf inside a
    map lambda is still refused at compile time."""
    from pyspark.sql.types import (MapType, StringType, StructField,
                                   StructType)

    opts = EngineOptions(validate_formats=True)
    table = StructType([StructField("m", MapType(
        StringType(), StructType([StructField("format", StringType())])))])
    c = compile_spec({"properties": {"m": {"additionalProperties": {
        "properties": {"format": {"type": "string"}}}}}}, table, opts)
    assert c.constraints
    table = StructType([StructField("m", MapType(StringType(), StringType()))])
    with pytest.raises(SpecError, match="python-backed"):
        compile_spec({"properties": {"m": {"additionalProperties": {
            "format": "ipv6"}}}}, table, opts)


def test_schema_with_keyword_named_property_compiles(spark):
    # end-to-end: the schema from the ADVICE repro must compile cleanly
    c = compile_spec(
        {"properties": {"spans": {"items": {
            "contains": {"properties": {"format": {"type": "string"}}}}}}},
        SPAN_TABLE_SCHEMA)
    assert c.constraints is not None


def test_error_kind_keyed_keyword_precedence(spark):
    """required/<key> where <key> collides with a keyword name must still
    classify as Required; a property NAME that collides with 'required'
    must not hijack its keyword's kind (ADVICE r2)."""
    from jsonschema_rs_spark.plans.validate import error_kind_column

    cids = [
        ("doc/required/items", "Required"),
        ("doc/required/media_ref", "Required"),
        ("doc/properties/required/type", "Type"),
        ("doc/items/pattern", "Pattern"),
        ("doc/dependentRequired/pattern", "Required"),
        ("doc/spans/items/minLength", "MinLength"),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cids], ["cid"])
    got = {r["cid"]: r["k"] for r in df.select(
        "cid", error_kind_column(F.col("cid")).alias("k")).collect()}
    for cid, want in cids:
        assert got[cid] == want, (cid, got[cid], want)


def test_java_compile_check_distinguishes_syntax_rejection(spark):
    from jsonschema_rs_spark.functions.ecma import _java_compiles, ecma_to_java

    assert _java_compiles(r"(?<year>\d{4})") is True   # Java-only: named group
    assert _java_compiles(r"[unclosed") is False        # genuine syntax error
    assert ecma_to_java(r"[unclosed") is None
    assert ecma_to_java(r"\p{L}+") is not None          # Java-only, kept


def test_dynamic_ref_resolves_across_resource_scopes():
    """$dynamicRef uses the DYNAMIC scope: the outermost entered resource
    defining the anchor wins (reference ref_.rs:82-155 — the tree /
    strictTree override), and anchors living only inside a referenced
    resource resolve once that resource is entered (round-2 first-lexical
    map over the root doc alone raised 'unresolvable')."""
    tree = {
        "$id": "urn:tree",
        "$dynamicAnchor": "node",
        "properties": {"spans": {"$dynamicRef": "#node"}},
    }
    # 1) anchor defined ONLY in the referenced resource: resolvable
    out = resolve_refs({"$ref": "urn:tree"}, resources={"urn:tree": tree},
                       recursion_limit=1)
    assert "properties" in out

    # 2) the ROOT (outermost scope) overrides the resource's anchor:
    #    evaluation starting at 'strict' must inline strict's node schema
    #    inside tree's subtree, not tree's own
    strict = {
        "$dynamicAnchor": "node",
        "minLength": 7,
        "$ref": "urn:tree",
    }
    out = resolve_refs(strict, resources={"urn:tree": tree},
                       recursion_limit=1)

    def find_minlens(s, acc):
        if isinstance(s, dict):
            if "minLength" in s:
                acc.append(s["minLength"])
            for v in s.values():
                find_minlens(v, acc)
        elif isinstance(s, list):
            for v in s:
                find_minlens(v, acc)

    lens = []
    find_minlens(out, lens)
    # strict's node (minLength 7) appears under tree's spans position
    assert 7 in lens, out


def test_dynamic_scope_outermost_of_two_resources_wins():
    b = {"$id": "urn:b", "$dynamicRef": "#n"}
    a = {"$id": "urn:a",
         "$dynamicAnchor": "n", "maxLength": 3,
         "properties": {"text": {"$ref": "urn:b"}}}
    out = resolve_refs({"$ref": "urn:a"},
                       resources={"urn:a": a, "urn:b": b},
                       recursion_limit=1)
    # inside b, '#n' resolves through the scope chain [root, a, b] -> a's
    assert out["properties"]["text"].get("maxLength") == 3, out


def test_local_pointer_ref_into_embedded_id_resource_pushes_scope():
    """A LOCAL ``$ref: '#/$defs/inner'`` whose target carries ``$id`` +
    ``$dynamicAnchor`` enters that resource — its own ``$dynamicRef``
    anchors must resolve exactly as entry via the ``$id`` URI would
    (round-4 ADVICE: scope push happened only for non-'#' refs)."""
    root = {
        "$defs": {"inner": {
            "$id": "urn:inner",
            "$dynamicAnchor": "leaf",
            "minLength": 5,
            "properties": {"text": {"$dynamicRef": "#leaf"}},
        }},
        "$ref": "#/$defs/inner",
    }
    out = resolve_refs(root, recursion_limit=1)
    assert out["properties"]["text"].get("minLength") == 5, out

    # equivalence: entering the same resource via its $id URI
    via_uri = resolve_refs(
        {"$defs": {"inner": root["$defs"]["inner"]}, "$ref": "urn:inner"},
        recursion_limit=1)
    assert via_uri["properties"]["text"].get("minLength") == 5, via_uri


def test_exact_integer_bounds_past_2_pow_53(spark):
    """Reference compares bounds exactly past 2^53 (maximum.rs:48-60,
    torture values 2^54±1 at :141-145); a double-coerced bound silently
    rounds.  2.0^54 must FAIL maximum=2^54-1 AND minimum=2^54+1."""
    from jsonschema_rs_spark.plans.validate import validation_frame

    df = spark.createDataFrame(
        [("d1", float(2 ** 54)), ("d2", 10.5), ("d3", 1e300)],
        "doc_id string, x double")

    def verdicts_for(spec):
        c = compile_spec({"properties": {"x": spec}}, df.schema)
        return {r["doc_id"]: r["valid"] for r in validation_frame(
            df, c, mode="verdicts").collect()}

    got = verdicts_for({"maximum": 2 ** 54 - 1})
    assert got == {"d1": False, "d2": True, "d3": False}, got
    got = verdicts_for({"minimum": 2 ** 54 + 1})
    assert got == {"d1": False, "d2": False, "d3": True}, got

    # integer bound beyond int64: decimal literal, no crash, exact
    dl = spark.createDataFrame([("a", 2 ** 62)], "doc_id string, x long")
    c = compile_spec({"properties": {"x": {"minimum": 2 ** 64}}}, dl.schema)
    got = {r["doc_id"]: r["valid"] for r in validation_frame(
        dl, c, mode="verdicts").collect()}
    assert got == {"a": False}, got

    # bound in [1e30, 1e32): the decimal path must stay engaged — a 1e30
    # far-guard would route to the lossy double compare (round-4 review):
    # double 1e30 ≈ 1.0000000000000000199e30 > 10^30-3, but
    # float(10^30-3) == 1e30 so the double compare would pass it
    dd = spark.createDataFrame([("e1", 1e30)], "doc_id string, x double")
    c = compile_spec({"properties": {"x": {"maximum": 10 ** 30 - 3}}},
                     dd.schema)
    assert validation_frame(dd, c, mode="verdicts").collect()[0]["valid"] \
        is False


def test_decimal_scale0_is_integer_under_draft4(spark):
    """decimal(38,0) holds exact integers — draft-4 'integer' must accept
    it (it is is_i64/is_u64 in the reference's sense), unlike float/double
    columns whose values are JSON fractional representations."""
    from decimal import Decimal

    from jsonschema_rs_spark.plans.validate import validation_frame

    df = spark.createDataFrame([("a", Decimal(2) ** 60)],
                               "doc_id string, x decimal(38,0)")
    c = compile_spec(
        {"$schema": "http://json-schema.org/draft-04/schema#",
         "properties": {"x": {"type": "integer"}}}, df.schema)
    assert validation_frame(df, c, mode="verdicts").collect()[0]["valid"] \
        is True


def test_plain_anchor_and_fragment_id_refs():
    """$ref '#name' resolves $anchor (2019-09+) and fragment-only $id
    (drafts 6/7 location-independent identifiers); nested $id resources
    bound the search (round 4 — official suite anchor.json family)."""
    out = resolve_refs({
        "$defs": {"A": {"$anchor": "foo", "minimum": 10}},
        "properties": {"doc_id": {"$ref": "#foo"}},
    })
    assert out["properties"]["doc_id"].get("minimum") == 10, out

    out = resolve_refs({
        "definitions": {"A": {"$id": "#bar", "maxLength": 3}},
        "properties": {"doc_id": {"$ref": "#bar"}},
    })
    assert out["properties"]["doc_id"].get("maxLength") == 3, out

    # anchor inside a nested $id resource is NOT in the parent scope
    with pytest.raises(SpecError, match="unresolvable"):
        resolve_refs({
            "$defs": {"other": {"$id": "urn:o",
                                "$defs": {"x": {"$anchor": "hidden"}}}},
            "$ref": "#hidden",
        })

    # $dynamicRef to a plain $anchor (no $dynamicAnchor bookend) resolves
    # statically like $ref
    out = resolve_refs({
        "$defs": {"A": {"$anchor": "st", "minLength": 2}},
        "properties": {"doc_id": {"$dynamicRef": "#st"}},
    })
    assert out["properties"]["doc_id"].get("minLength") == 2, out


def test_anchor_scoping_rules():
    """Round-4 review: anchors are schema-structure identifiers scoped to
    the CURRENT resource — not data, not the outer document."""
    # $anchor inside enum DATA is not an identifier
    with pytest.raises(SpecError, match="unresolvable"):
        resolve_refs({
            "$defs": {"x": {"enum": [{"$anchor": "foo", "minimum": 99}]}},
            "properties": {"p": {"$ref": "#foo"}},
        })

    # '#anchor' inside an entered $id resource resolves in THAT resource,
    # even when the outer root defines a decoy with the same name
    out = resolve_refs({
        "$defs": {
            "decoy": {"$anchor": "foo", "maximum": 0},
            "r": {"$id": "urn:r",
                  "$defs": {"A": {"$anchor": "foo", "minimum": 1}},
                  "$ref": "#foo"},
        },
        "properties": {"p": {"$ref": "urn:r"}},
    }, resources={"urn:r": {
        "$id": "urn:r",
        "$defs": {"A": {"$anchor": "foo", "minimum": 1}},
        "$ref": "#foo"}})
    assert out["properties"]["p"].get("minimum") == 1, out

    # 'id' is an annotation, not a resource boundary, in modern drafts
    out = resolve_refs({
        "$defs": {"A": {"id": "my-name", "$anchor": "bar", "minimum": 7}},
        "properties": {"p": {"$ref": "#bar"}},
    }, draft=2020)
    assert out["properties"]["p"].get("minimum") == 7, out

    # $dynamicRef whose CURRENT-resource target is a plain $anchor
    # resolves statically even when an outer $dynamicAnchor shares the
    # name (2020-12: dynamic behavior needs a $dynamicAnchor bookend)
    res = {"$id": "urn:s",
           "$defs": {"A": {"$anchor": "x", "minimum": 1}},
           "properties": {"q": {"$dynamicRef": "#x"}}}
    out = resolve_refs({
        "$dynamicAnchor": "x", "maximum": 0,
        "properties": {"p": {"$ref": "urn:s"}},
    }, resources={"urn:s": res})
    q = out["properties"]["p"]["properties"]["q"]
    assert q.get("minimum") == 1 and "maximum" not in q, out


def test_absolute_keyword_location_records_innermost_ref_target():
    """Units for $ref-crossing keywords carry the pre-inline resource
    pointer (reference output.rs:193-200); nested refs resolve to the
    INNERMOST target; ref-free keywords stay None."""
    from jsonschema_rs_spark.plans.validate import absolute_locations

    spec = {
        "$defs": {"s": {"$ref": "#/$defs/t"}, "t": {"minLength": 4}},
        "properties": {"doc_id": {"$ref": "#/$defs/s"}},
        "required": ["doc_id"],
    }
    c = compile_spec(spec, SPAN_TABLE_SCHEMA)
    abs_map = absolute_locations(c)
    assert abs_map["doc_id/minLength"] == "#/$defs/t/minLength", abs_map
    assert abs_map.get("required/doc_id") is None, abs_map


def test_nested_id_resource_anchor_not_leaked_into_parent_scope():
    # an anchor inside a NESTED $id resource belongs to that resource's
    # scope; from the parent it is not in scope until the resource is
    # entered via $ref
    root = {
        "$defs": {"other": {"$id": "urn:other", "$dynamicAnchor": "m",
                            "minimum": 1}},
        "properties": {"spans": {"$dynamicRef": "#m"}},
    }
    with pytest.raises(SpecError, match="unresolvable"):
        resolve_refs(root)


def test_map_unevaluated_properties_conditional_claims(spark):
    """Map-typed unevaluatedProperties: claims from anyOf branches count
    only when the branch VALIDATES (round 3 — was a static union across
    branches, so a failing branch wrongly claimed its members)."""
    from pyspark.sql import functions as F
    from jsonschema_rs_spark.plans.validate import validation_frame

    rows = [
        ("m1", {"a": 1}),            # branch1 valid, claims a -> valid
        ("m2", {"a": 1, "b": 2}),    # both branches valid -> valid
        ("m3", {"a": 1, "c": 3}),    # c never claimed -> invalid
        ("m4", {"a": -5, "b": 2}),   # branch1 FAILS (a<0): only b claimed,
                                     # 'a' is unevaluated -> invalid
                                     # (static union would claim a: valid)
    ]
    df = spark.createDataFrame(rows, "doc_id string, props map<string,int>")
    spec = {"properties": {"props": {
        "anyOf": [
            {"required": ["a"], "properties": {"a": {"minimum": 0}}},
            {"required": ["b"], "properties": {"b": {"minimum": 0}}},
        ],
        "unevaluatedProperties": False,
    }}}
    c = compile_spec(spec, df.schema)
    got = {r["doc_id"]: r["valid"]
           for r in validation_frame(df, c, mode="verdicts").collect()}
    assert got == {"m1": True, "m2": True, "m3": False, "m4": False}, got

    # py-oracle agreement on the same cases
    from .py_oracle import validate_doc
    for doc_id, props in rows:
        ok, _ = validate_doc(spec, {"doc_id": doc_id, "props": props})
        assert ok == got[doc_id], (doc_id, ok, got[doc_id])


def test_map_unevaluated_props_static_when_no_branches(spark):
    """No conditional sources: the claim-set stays a static Column check
    (no behavior change for the common shape)."""
    from jsonschema_rs_spark.plans.validate import validation_frame

    df = spark.createDataFrame(
        [("s1", {"a": 1}), ("s2", {"a": 1, "z": 9})],
        "doc_id string, props map<string,int>")
    spec = {"properties": {"props": {
        "properties": {"a": {"minimum": 0}},
        "unevaluatedProperties": False,
    }}}
    c = compile_spec(spec, df.schema)
    got = {r["doc_id"]: r["valid"]
           for r in validation_frame(df, c, mode="verdicts").collect()}
    assert got == {"s1": True, "s2": False}


def test_recursive_ref_without_anchor_targets_current_resource():
    """2019-09: $recursiveRef '#' with NO $recursiveAnchor at the target
    root is a plain $ref to the CURRENT resource root, not the outermost
    document (code-review r3 finding #2)."""
    b = {"$id": "urn:b", "maxLength": 9,
         "properties": {"child": {"$recursiveRef": "#"}}}
    root = {"minLength": 5, "properties": {"x": {"$ref": "urn:b"}}}
    out = resolve_refs(root, resources={"urn:b": b}, recursion_limit=1)
    child = out["properties"]["x"]["properties"]["child"]
    assert child.get("maxLength") == 9, child     # b's root, not the doc's
    assert "minLength" not in child, child

    # WITH the anchor at both roots, the outermost anchored root wins
    b2 = {"$id": "urn:b", "$recursiveAnchor": True, "maxLength": 9,
          "properties": {"child": {"$recursiveRef": "#"}}}
    root2 = {"$recursiveAnchor": True, "minLength": 5,
             "properties": {"x": {"$ref": "urn:b"}}}
    out2 = resolve_refs(root2, resources={"urn:b": b2}, recursion_limit=1)
    child2 = out2["properties"]["x"]["properties"]["child"]
    assert child2.get("minLength") == 5, child2   # document root


def test_connected_components_raises_on_non_convergence(spark):
    import pytest as _pytest
    from jsonschema_rs_spark.operators import dedup as _DD

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a bigint, id_b bigint")
    with _pytest.raises(RuntimeError, match="did not converge"):
        _DD.connected_components_min(chain, max_iter=2)


def test_multiple_of_decimal_exact_path(spark):
    """Round 5: floats check multipleOf via an EXACT decimal remainder
    when value+divisor round-trip decimal(38,6) (reference fraction
    fallback, multiple_of.rs:33-41).  The old epsilon path went
    false-negative once value/divisor outgrew 1e9*eps."""
    from jsonschema_rs_spark.plans.validate import validation_frame
    from tests.py_oracle import _multiple_of_ok

    cases = [
        (123456.7891, 0.0001, True),    # epsilon path said False (wrong)
        (123456.78915, 0.0001, False),  # 7th decimal digit -> not multiple
        (0.0075, 0.0001, True),
        (0.00751, 0.0001, False),
        (1.0002, 0.0003, True),
        (1.0001, 0.0003, False),
        (4.5, 1.5, True),
        (1e305, 0.5, True),             # beyond decimal range: epsilon path
        (0.1230000001, 0.0001, False),  # does NOT round-trip via (38,6)
    ]
    df = spark.createDataFrame(
        [(str(i), float(v)) for i, (v, _, _) in enumerate(cases)],
        "doc_id string, x double")
    for i, (v, k, want) in enumerate(cases):
        assert _multiple_of_ok(v, k) is want or \
            bool(_multiple_of_ok(v, k)) == want, (v, k)
    # group by divisor to limit actions
    for k in {k for _, k, _ in cases}:
        c = compile_spec({"properties": {"x": {"multipleOf": k}}}, df.schema)
        got = {r["doc_id"]: r["valid"] for r in validation_frame(
            df, c, mode="verdicts").collect()}
        for i, (v, kk, want) in enumerate(cases):
            if kk == k:
                assert got[str(i)] is want, (v, k, got[str(i)])


def test_uneval_claims_gated_on_subschema_validity(spark):
    """Round 5 (annotations only from successful subschemas, output.rs:
    139-164): an allOf branch / node-own claim keyword that FAILS drops
    its claims, so the member/position surfaces as unevaluated too."""
    from jsonschema_rs_spark.plans.validate import violations

    # struct path: allOf's properties claim on 'a' drops when a < 10
    df = spark.createDataFrame(
        [("d1", (15,)), ("d2", (5,))],
        "doc_id string, cfg struct<a: bigint>")
    spec = {"properties": {"cfg": {
        "allOf": [{"properties": {"a": {"minimum": 10}}}],
        "unevaluatedProperties": False,
    }}}
    c = compile_spec(spec, df.schema)
    rows = violations(df, c).collect()
    got = {(r["doc_id"], r["constraint_id"]) for r in rows}
    assert ("d2", "cfg/allOf/0/a/minimum") in got, got
    assert any(c.startswith("cfg/unevaluatedProperties/a")
               for d, c in got if d == "d2"), got
    assert not any(d == "d1" for d, _ in got), got

    # map path: failing anyOf-adjacent allOf claim -> key unevaluated
    dfm = spark.createDataFrame(
        [("m1", {"a": 15}), ("m2", {"a": 5})],
        "doc_id string, props map<string, bigint>")
    specm = {"properties": {"props": {
        "allOf": [{"properties": {"a": {"minimum": 10}}}],
        "unevaluatedProperties": False,
    }}}
    cm = compile_spec(specm, dfm.schema)
    gotm = {(r["doc_id"], r["constraint_id"])
            for r in violations(dfm, cm).collect()}
    assert any(c.startswith("props/unevaluatedProperties")
               for d, c in gotm if d == "m2"), gotm
    assert not any(d == "m1" for d, _ in gotm), gotm

    # items path: failing prefixItems claim -> position 0 unevaluated too
    dfa = spark.createDataFrame(
        [("a1", [10, 7]), ("a2", [0, 7]), ("a3", [10, 3])],
        "doc_id string, arr array<bigint>")
    speca = {"properties": {"arr": {
        "prefixItems": [{"minimum": 5}],
        "unevaluatedItems": {"minimum": 6},
    }}}
    ca = compile_spec(speca, dfa.schema, EngineOptions(draft=2020))
    gota = {}
    for r in violations(dfa, ca).collect():
        gota.setdefault(r["doc_id"], set()).add(
            (r["constraint_id"], r["span_index"]))
    # a1: prefix ok (10>=5), rest ok (7>=6) -> no rows
    assert "a1" not in gota, gota
    # a2: prefix fails (0<5) -> claim drops -> pos 0 ALSO unevaluated
    # (0<6); pos 1 ok
    assert ("arr/prefixItems/0/minimum", None) in gota["a2"] \
        or any("prefixItems" in c or "items/0" in c
               for c, _ in gota["a2"]), gota["a2"]
    assert any(c == "arr/unevaluatedItems" and i == 0
               for c, i in gota["a2"]), gota["a2"]
    # a3: prefix ok -> claim holds -> pos 0 NOT unevaluated; pos 1 fails
    # the static fine-grained uneval check
    assert ("arr/unevaluatedItems/minimum", 1) in gota["a3"], gota["a3"]
    assert not any(c == "arr/unevaluatedItems" and i == 0
                   for c, i in gota["a3"]), gota["a3"]


def test_nested_unevaluated_items_claims_every_item_on_both_paths(spark):
    """A nested ``unevaluatedItems`` evaluates every item, so the outer
    ``unevaluatedItems: false`` sees nothing left: both the typed and the
    variant path must accept ``[1, 2]``."""
    from pyspark.sql import functions as F

    from jsonschema_rs_spark.json_ingest import json_valid_column
    from jsonschema_rs_spark.plans.validate import valid_column

    schema = {"allOf": [{"unevaluatedItems": True}],
              "unevaluatedItems": False}
    opts = EngineOptions(draft=2020)
    df = spark.createDataFrame([("a", [1, 2], "[1, 2]")],
                               "doc_id string, arr array<bigint>, js string")
    c = compile_spec({"properties": {"arr": schema}},
                     df.select("doc_id", "arr").schema, opts)
    row = df.select(
        valid_column(c, F.struct("doc_id", "arr")).alias("typed"),
        json_valid_column(F.col("js"), schema, opts).alias("json"),
    ).collect()[0]
    assert (row["typed"], row["json"]) == (True, True), row
    from .py_oracle import validate_doc

    assert validate_doc({"properties": {"arr": schema}},
                        {"doc_id": "a", "arr": [1, 2]}, draft=2020) \
        == (True, [])


def test_items_branch_claim_counts_where_own_prefix_fails(spark):
    """``anyOf[0]`` passes and claims position 0, so the outer
    ``unevaluatedItems: false`` has nothing left even though the node's
    own ``prefixItems`` fails there.  The document is invalid (the
    ``prefixItems`` type check), but neither path nor the oracle may emit
    an ``unevaluatedItems`` row."""
    from .py_oracle import validate_doc
    from jsonschema_rs_spark.json_ingest import validate_json_strings

    schema = {"prefixItems": [{"type": "integer"}],
              "anyOf": [{"prefixItems": [True]}],
              "unevaluatedItems": False}
    spec = {"properties": {"arr": schema}}
    opts = EngineOptions(draft=2020)
    df = spark.createDataFrame([("a", ["x"], '{"arr": ["x"]}')],
                               "doc_id string, arr array<string>, js string")
    typed = validation_frame(
        df.select("doc_id", "arr"),
        compile_spec(spec, df.select("doc_id", "arr").schema, opts),
        mode="both").collect()[0]
    typed_ids = {v["constraint_id"] for v in typed["violations"]}
    json_ids = {r["constraint_id"] for r in validate_json_strings(
        df, "js", spec, opts).collect()}
    ok, viols = validate_doc(spec, {"doc_id": "a", "arr": ["x"]},
                             draft=2020)
    oracle_ids = {v[1] for v in viols}
    assert not typed["valid"] and not ok and json_ids
    for ids in (typed_ids, json_ids, oracle_ids):
        assert ids and not any("unevaluatedItems" in c for c in ids), \
            (typed_ids, json_ids, oracle_ids)


def test_huge_integer_literals_never_crash(spark):
    """Fuzz-found (round 5): integers beyond int64 have no long literal
    and beyond float range no double — multipleOf/enum/const/bounds with
    10**40 / 10**400 must compile and evaluate gracefully on both
    engines, never raise NumberFormatException/OverflowError."""
    from pyspark.sql import functions as F

    from jsonschema_rs_spark.json_ingest import json_valid_column
    from jsonschema_rs_spark.plans.validate import validation_frame

    specs = [{"multipleOf": 10 ** 40}, {"maximum": 10 ** 400},
             {"minimum": -(10 ** 400)}, {"enum": [10 ** 40, 5]},
             {"const": 10 ** 40}]
    for dt in ("long", "double"):
        val = 5 if dt == "long" else 5.0
        df = spark.createDataFrame([("a", val)], f"doc_id string, n {dt}")
        for s in specs:
            c = compile_spec({"properties": {"n": s}}, df.schema)
            row = validation_frame(df, c, mode="verdicts").collect()[0]
            assert row["valid"] in (True, False)
    out = spark.range(1).select(*[
        json_valid_column(F.lit("5"), s).alias(f"v{i}")
        for i, s in enumerate(specs)]).collect()[0]
    assert all(out[f"v{i}"] in (True, False) for i in range(len(specs)))


_HEX = {"hex": lambda c: c.rlike("^([0-9a-fA-F]{2})*$")}
_CSV = {"text/csv": lambda c: c.contains(",")}
_JSON_B64 = {"contentMediaType": "application/json",
             "contentEncoding": "base64"}


@pytest.mark.parametrize("schema,value,opts,expected", [
    # a keyword the draft does not define is an annotation
    pytest.param({"const": "a"}, "b", EngineOptions(draft=4), True,
                 id="draft4-const"),
    pytest.param({"if": {"minLength": 2}, "then": {"maxLength": 3}},
                 "abcdef", EngineOptions(draft=6), True, id="draft6-if"),
    pytest.param({"contentEncoding": "base64"}, "@@@",
                 EngineOptions(draft=2020), True, id="draft2020-base64"),
    pytest.param({"contentEncoding": "base64"}, "@@@",
                 EngineOptions(draft=6), True, id="draft6-base64"),
    # the merged dialect keeps the draft-4 boolean exclusive bound
    pytest.param({"minimum": 5, "exclusiveMinimum": True}, 5,
                 EngineOptions(), False, id="merged-boolean-exclusive"),
    # registered content checks assert on both paths
    pytest.param({"contentEncoding": "hex"}, "zz",
                 EngineOptions(custom_encodings=_HEX), False,
                 id="custom-encoding"),
    pytest.param({"contentMediaType": "text/csv"}, "abc",
                 EngineOptions(custom_media_types=_CSV), False,
                 id="custom-media-type"),
    # with base64 enforced, contentMediaType reads the decoded text
    pytest.param(_JSON_B64, "e30=", EngineOptions(draft=7), True,
                 id="base64-json-valid"),       # {}
    pytest.param(_JSON_B64, "ezp9Cg==", EngineOptions(draft=7), False,
                 id="base64-json-invalid"),     # {:}
    # an empty enum admits nothing (it crashed the typed plan build on
    # complex columns)
    pytest.param({"enum": []}, [1], EngineOptions(), False,
                 id="empty-enum"),
])
def test_scalar_keywords_agree_on_both_paths(spark, schema, value, opts,
                                             expected):
    """Each scalar keyword is decided once, so the typed and the variant
    path give the same verdict on the same value, and it is the spec's."""
    import json

    from jsonschema_rs_spark.json_ingest import json_valid_column
    from jsonschema_rs_spark.plans.validate import valid_column

    ddl = {str: "string", int: "bigint", list: "array<bigint>"}[type(value)]
    df = spark.createDataFrame([("a", value, json.dumps(value))],
                               f"doc_id string, v {ddl}, js string")
    typed = df.select("doc_id", "v")
    c = compile_spec({"properties": {"v": schema}}, typed.schema, opts)
    row = df.select(
        valid_column(c, F.struct("doc_id", "v")).alias("typed"),
        json_valid_column(F.col("js"), schema, opts).alias("json"),
    ).collect()[0]
    assert (row["typed"], row["json"]) == (expected, expected), row
    if not (opts.custom_encodings or opts.custom_media_types):
        # the oracle knows every draft's vocabulary, but no registered
        # checks
        from .py_oracle import validate_doc

        ok, _ = validate_doc({"properties": {"v": schema}},
                             {"doc_id": "a", "v": value}, draft=opts.draft)
        assert ok == expected


def test_python_only_pattern_falls_back_on_typed_path(spark):
    """A pattern java.util.regex rejects but Python ``re`` compiles runs
    as a pandas UDF on the typed path (its ``pd.Series`` hints must
    resolve at UDF creation)."""
    df = spark.createDataFrame([("aa",), ("ab",)], "doc_id string")
    c = compile_spec({"properties": {"doc_id": {
        "pattern": r"(?P<x>a)(?P=x)"}}}, df.schema)
    assert c.constraints[0].py_fn is not None
    got = {r["doc_id"]: r["valid"] for r in
           validation_frame(df, c, id_cols=("doc_id",),
                            mode="verdicts").collect()}
    assert got == {"aa": True, "ab": False}


@pytest.mark.parametrize("schema,value,opts,ddl", [
    pytest.param({"contains": {"minimum": 5}, "minContains": 2}, [5, 1],
                 EngineOptions(draft=2020), "array<bigint>",
                 id="minContains"),
    pytest.param({"contains": {"minimum": 5}, "maxContains": 1}, [5, 6],
                 EngineOptions(draft=2020), "array<bigint>",
                 id="maxContains"),
    pytest.param({"dependentSchemas": {"a": {"properties": {
        "b": {"format": "ipv6"}}}}}, {"a": "x", "b": "zz"},
        EngineOptions(draft=2019, validate_formats=True),
        "map<string,string>", id="dependentSchemas-python-format"),
    pytest.param({"properties": {"a": True},
                  "anyOf": [{"properties": {"b": {"format": "ipv6"}}}],
                  "unevaluatedProperties": False}, {"a": "x", "b": "zz"},
                 EngineOptions(draft=2020, validate_formats=True),
                 "map<string,string>", id="claim-gate-python-format"),
])
def test_applicator_keywords_agree_on_both_paths(spark, schema, value, opts,
                                                 ddl):
    """Each applicator keyword is lowered once, so the typed and the
    variant path report the same constraint ids and the same verdict."""
    import json

    from jsonschema_rs_spark.json_ingest import (json_valid_column,
                                                 validate_json_strings)
    from jsonschema_rs_spark.plans.validate import validation_frame

    df = spark.createDataFrame([("a", value, json.dumps({"v": value}))],
                               f"doc_id string, v {ddl}, js string")
    spec = {"properties": {"v": schema}}
    typed = df.select("doc_id", "v")
    row = validation_frame(typed, compile_spec(spec, typed.schema, opts),
                           mode="both").collect()[0]
    typed_ids = {v["constraint_id"] for v in row["violations"]}
    json_ids = {r["constraint_id"] for r in
                validate_json_strings(df, "js", spec, opts).collect()}
    json_ok = df.select(json_valid_column(F.col("js"), spec, opts)
                        .alias("ok")).collect()[0]["ok"]
    assert typed_ids == json_ids and typed_ids, (typed_ids, json_ids)
    assert row["valid"] is False and json_ok is False


def test_python_leaf_under_property_names_is_refused_on_both_paths(spark):
    """A pandas-UDF format on member names sits in a map lambda on either
    path, so both refuse it at compile time."""
    from jsonschema_rs_spark.json_ingest import (JsonIngestUnsupported,
                                                 json_valid_column)

    spec = {"properties": {"v": {"propertyNames": {"format": "ipv6"}}}}
    opts = EngineOptions(draft=2020, validate_formats=True)
    table = spark.createDataFrame([("a", {"k": "x"})],
                                  "doc_id string, v map<string,string>")
    with pytest.raises(SpecError, match="python-backed"):
        compile_spec(spec, table.schema, opts)
    with pytest.raises(JsonIngestUnsupported):
        json_valid_column(F.lit('{"v": {"k": "x"}}'), spec, opts)


@pytest.mark.parametrize("schema,value,expected", [
    pytest.param({"if": {"contains": {"minimum": 2}},
                  "unevaluatedItems": {"maximum": 1}}, [3], True,
                 id="if-contains"),
    pytest.param({"anyOf": [{"contains": {"minimum": 2}}, True],
                  "unevaluatedItems": False}, [3], True,
                 id="anyOf-contains-claims"),
    pytest.param({"anyOf": [{"contains": {"minimum": 2}}, True],
                  "unevaluatedItems": False}, [3, 1], False,
                 id="anyOf-contains-leaves-unmatched"),
])
def test_nested_contains_claims_items(spark, schema, value, expected):
    """Under 2020-12 a ``contains`` applied in place (in an ``if`` or an
    ``anyOf`` branch) claims the items it matches for
    ``unevaluatedItems``; python-jsonschema's Draft202012Validator gives
    the same answers."""
    import json

    from jsonschema_rs_spark.json_ingest import json_valid_column
    from jsonschema_rs_spark.plans.validate import valid_column

    from .py_oracle import validate_doc

    opts = EngineOptions(draft=2020)
    spec = {"properties": {"v": schema}}
    df = spark.createDataFrame([("a", value, json.dumps({"v": value}))],
                               "doc_id string, v array<bigint>, js string")
    c = compile_spec(spec, df.select("doc_id", "v").schema, opts)
    row = df.select(
        valid_column(c, F.struct("doc_id", "v")).alias("typed"),
        json_valid_column(F.col("js"), spec, opts).alias("json"),
    ).collect()[0]
    assert (row["typed"], row["json"]) == (expected, expected), row
    ok, _ = validate_doc(spec, {"doc_id": "a", "v": value}, draft=2020)
    assert ok == expected


@pytest.mark.parametrize("schema,doc,draft,ddl", [
    pytest.param({"dependentSchemas": {"a": {"required": ["b"]}}},
                 {"doc_id": "x", "a": 1}, 2020, "a bigint, b bigint",
                 id="dependentSchemas"),
    pytest.param({"dependencies": {"a": ["b"]}}, {"doc_id": "x", "a": 1}, 7,
                 "a bigint, b bigint", id="dependencies-array"),
    pytest.param({"dependencies": {"a": {"required": ["b"]}}},
                 {"doc_id": "x", "a": 1}, 7, "a bigint, b bigint",
                 id="dependencies-schema"),
    pytest.param({"properties": {"v": {"items": [{}],
                                       "additionalItems": False}}},
                 {"doc_id": "x", "v": [1, 2]}, 7, "v array<bigint>",
                 id="additionalItems"),
])
def test_oracle_reports_dependency_and_tail_keywords(spark, schema, doc,
                                                     draft, ddl):
    """The test oracle reports these keywords row for row as the typed
    path does, and the variant path rejects the same instance."""
    import json

    from jsonschema_rs_spark.json_ingest import json_valid_column
    from jsonschema_rs_spark.plans.validate import violations

    from .py_oracle import validate_doc

    opts = EngineOptions(draft=draft)
    df = spark.createDataFrame([doc], f"doc_id string, {ddl}")
    typed = [tuple(r) for r in
             violations(df, compile_spec(schema, df.schema, opts)).collect()]
    json_ok = df.select(json_valid_column(F.lit(json.dumps(doc)), schema,
                                          opts).alias("ok")).collect()[0]
    ok, want = validate_doc(schema, doc, draft=draft)
    assert not ok and typed == want, (typed, want)
    assert json_ok["ok"] is False
