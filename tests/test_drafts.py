"""Draft dialect selection (reference ``options.rs:58-82`` dispatch,
``keywords/mod.rs:177-391`` per-draft keyword tables).

The engine hardwired one merged dialect in round 1; VERDICT #4 asked for an
``EngineOptions.draft`` with ``$schema`` sniffing controlling (a) draft-4
boolean vs numeric exclusive bounds, (b) tuple ``items`` vs ``prefixItems``,
and (c) the format-assertion default (annotation-only in 2019-09/2020-12).
"""

import pytest

from jsonschema_rs_spark.compiler import EngineOptions, compile_spec
from jsonschema_rs_spark.plans.validate import validation_frame
from jsonschema_rs_spark.sources.spans import SPAN_TABLE_SCHEMA
from jsonschema_rs_spark.spec import SpecError

DRAFT7 = "http://json-schema.org/draft-07/schema#"
DRAFT2020 = "https://json-schema.org/draft/2020-12/schema"


def _verdict(spark, schema, text):
    df = spark.createDataFrame([("d1", text)], "doc_id string, text string")
    c = compile_spec(schema, df.schema)
    return validation_frame(df, c, mode="verdicts").collect()[0]["valid"]


def test_format_asserts_under_draft7_annotates_under_2020(spark):
    """Same schema, same data, draft-correct DIFFERING verdicts."""
    body = {"properties": {"text": {"format": "ipv4"}}}
    assert _verdict(spark, {"$schema": DRAFT7, **body}, "999.1.1.1") is False
    assert _verdict(spark, {"$schema": DRAFT2020, **body}, "999.1.1.1") is True
    # explicit opt-in re-enables assertion under 2020-12
    df_schema = SPAN_TABLE_SCHEMA
    c = compile_spec({"$schema": DRAFT2020, "properties": {"doc_id": {
        "format": "uuid"}}}, df_schema,
        EngineOptions(validate_formats=True))
    assert any("format" in x.constraint_id for x in c.constraints)


def test_draft4_boolean_exclusive_bounds():
    # draft 4: boolean flag flips minimum strict — compiles
    c = compile_spec(
        {"properties": {"spans": {"items": {"properties": {"offset": {
            "minimum": 0, "exclusiveMinimum": True}}}}}},
        SPAN_TABLE_SCHEMA, EngineOptions(draft=4))
    assert any("minimum" in x.constraint_id for x in c.constraints)
    # draft 2020 rejects the boolean form
    with pytest.raises(SpecError, match="draft-4"):
        compile_spec(
            {"properties": {"spans": {"items": {"properties": {"offset": {
                "minimum": 0, "exclusiveMinimum": True}}}}}},
            SPAN_TABLE_SCHEMA, EngineOptions(draft=2020))
    # draft 4 rejects the numeric form
    with pytest.raises(SpecError, match="draft-6"):
        compile_spec(
            {"properties": {"spans": {"items": {"properties": {"offset": {
                "exclusiveMinimum": 0}}}}}},
            SPAN_TABLE_SCHEMA, EngineOptions(draft=4))


def test_tuple_items_vs_prefix_items_per_draft():
    tuple_items = {"properties": {"spans": {"items": [
        {"properties": {"kind": {"const": "text"}}}]}}}
    prefix = {"properties": {"spans": {"prefixItems": [
        {"properties": {"kind": {"const": "text"}}}]}}}
    # draft 7 takes array items, rejects prefixItems
    assert compile_spec(tuple_items, SPAN_TABLE_SCHEMA,
                        EngineOptions(draft=7)).constraints
    with pytest.raises(SpecError, match="2020-12"):
        compile_spec(prefix, SPAN_TABLE_SCHEMA, EngineOptions(draft=7))
    # draft 2020 takes prefixItems, rejects array items
    assert compile_spec(prefix, SPAN_TABLE_SCHEMA,
                        EngineOptions(draft=2020)).constraints
    with pytest.raises(SpecError, match="prefixItems"):
        compile_spec(tuple_items, SPAN_TABLE_SCHEMA, EngineOptions(draft=2020))


def test_unknown_dialect_uri_rejected():
    with pytest.raises(SpecError, match="dialect"):
        compile_spec({"$schema": "https://example.com/my-schema"},
                     SPAN_TABLE_SCHEMA)


def test_content_support_removal_toggles():
    """without_content_*_support analogues (reference options.rs:152-258):
    False removes the builtin check entirely — the keyword annotates."""
    spec = {"properties": {"doc_id": {
        "contentEncoding": "base64",
        "contentMediaType": "application/json"}}}
    on = compile_spec(spec, SPAN_TABLE_SCHEMA)
    assert any("contentEncoding" in c.constraint_id for c in on.constraints)
    assert any("contentMediaType" in c.constraint_id for c in on.constraints)
    off = compile_spec(spec, SPAN_TABLE_SCHEMA, EngineOptions(
        content_encoding_support=False, content_media_type_support=False))
    assert not any("content" in c.constraint_id for c in off.constraints)
    # per-name removal (the reference's actual signature:
    # without_content_encoding_support("base64"))
    part = compile_spec(spec, SPAN_TABLE_SCHEMA, EngineOptions(
        content_encoding_support={"base64"}))
    assert not any("contentEncoding" in c.constraint_id
                   for c in part.constraints)
    assert any("contentMediaType" in c.constraint_id
               for c in part.constraints)


def test_no_schema_key_keeps_merged_dialect():
    """Backwards compatible: no $schema -> merged dialect, formats assert."""
    c = compile_spec({"properties": {"doc_id": {"format": "uuid"}}},
                     SPAN_TABLE_SCHEMA)
    assert any("format" in x.constraint_id for x in c.constraints)


def test_tuple_items_locations_name_the_declared_keyword(spark):
    """Draft-7 array-form ``items``: constraint ids and keyword locations
    say ``items/<n>`` (the keyword the schema declares), every location
    resolves as a JSON Pointer into the schema, and a boolean position
    gets kind ``Items``."""
    from jsonschema_rs_spark.plans.validate import basic_output
    from jsonschema_rs_spark.spec import _pointer_get

    spec = {"properties": {"arr": {"items": [{"minimum": 5}, False]}}}
    df = spark.createDataFrame([("a", [1, 2]), ("b", [6])],
                               "doc_id string, arr array<int>")
    rows = basic_output(df, compile_spec(spec, df.schema,
                                         EngineOptions(draft=7))).collect()
    got = {(r["constraint_id"], r["keyword_location"], r["kind"],
            r["instance_path"]) for r in rows}
    assert got == {
        ("arr/items/0/minimum", "/properties/arr/items/0/minimum",
         "Minimum", "/arr/0"),
        ("arr/items/1/false", "/properties/arr/items/1", "Items", "/arr/1"),
    }, got
    for _, loc, _, _ in got:
        _pointer_get(spec, "#" + loc)


def test_object_keyword_locations_resolve_and_keep_their_kinds(spark):
    """A typed struct's ``additionalProperties: false``, a map member and
    draft-7 ``dependencies`` (both forms) report a keyword location that
    resolves into the schema and names the keyword it declares, with ids,
    observed values and kinds as before."""
    from jsonschema_rs_spark.plans.validate import basic_output
    from jsonschema_rs_spark.spec import _pointer_get

    cases = [
        ({"properties": {"cfg": {"properties": {"k": {}},
                                 "additionalProperties": False}}},
         "doc_id string, cfg struct<k:int,extra:int>", ("d", (1, 5)),
         {("cfg/additionalProperties/extra", "5",
           "/properties/cfg/additionalProperties", "AdditionalProperties")}),
        ({"properties": {"props": {"properties": {"a": {"maximum": 1}}}}},
         "doc_id string, props map<string,int>", ("d", {"a": 5}),
         {("props/a", "5", "/properties/props/properties/a", "Schema")}),
        ({"dependencies": {"a": ["b"], "c": {"required": ["b"]}}},
         "doc_id string, a int, b int, c int", ("d", 1, None, 1),
         {("dependentRequired/a", "missing", "/dependencies", "Required"),
          ("dependentSchemas/c", '{"doc_id":"d","a":1,"c":1}',
           "/dependencies/c", "Schema")}),
    ]
    for spec, ddl, row, want in cases:
        df = spark.createDataFrame([row], ddl)
        rows = basic_output(df, compile_spec(
            spec, df.schema, EngineOptions(draft=7))).collect()
        got = {(r["constraint_id"], r["observed"], r["keyword_location"],
                r["kind"]) for r in rows}
        assert got == want, (spec, got)
        for _, _, loc, _ in got:
            _pointer_get(spec, "#" + loc)
