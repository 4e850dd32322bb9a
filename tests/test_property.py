"""Property-based engine ↔ py-oracle agreement.

The reference replays the JSON-Schema-Test-Suite (``tests/suite.rs``); the
fixture files cover its curated cases, and this adds RANDOMIZED coverage: a
schema grammar over the span-table fields × random documents (nulls, empty
arrays, boundary offsets), asserting the Spark engine's verdicts AND
violation (constraint_id, span_index) sets match the pure-Python oracle on
every generated example.

Both tests also run the variant path (``validate_json_strings``) on
``to_json`` of the same rows, where a NULL member is an absent one, and
assert the oracle's verdict there too.

One Spark job per example is slow, so examples batch into a single
DataFrame per generated schema.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from jsonschema_rs_spark.compiler import compile_spec
from jsonschema_rs_spark.json_ingest import validate_json_strings
from jsonschema_rs_spark.plans.validate import validation_frame
from jsonschema_rs_spark.sources.spans import SPAN_TABLE_SCHEMA

from .py_oracle import validate_doc

# ---------------------------------------------------------------- documents

_kinds = st.sampled_from(["text", "image", "audio", "zzz", None])
_texts = st.one_of(st.none(), st.sampled_from(
    ["", "ab", "abcd", "hello world", "x" * 20]))
_refs = st.one_of(st.none(), st.sampled_from(
    ["media://1", "media://9999", "bogus", ""]))
_offsets = st.one_of(st.none(), st.sampled_from([-16, -8, 0, 3, 8, 24, 255, 256]))

_span = st.fixed_dictionaries({
    "kind": _kinds, "text": _texts, "media_ref": _refs, "offset": _offsets,
})
_spans = st.lists(_span, min_size=0, max_size=4)

# ------------------------------------------------------------------ schemas

_leaf_text = st.sampled_from([
    {"minLength": 3}, {"maxLength": 5}, {"pattern": "^h"},
    {"type": "string"}, {"enum": ["ab", "hello world"]},
])
_leaf_offset = st.sampled_from([
    {"minimum": 0}, {"maximum": 100}, {"multipleOf": 8},
    {"enum": [0, 8, 24]}, {"const": 8},
])
_leaf_kind = st.sampled_from([
    {"enum": ["text", "image", "audio"]}, {"const": "text"},
])


def _item_schema():
    return st.builds(
        lambda k, t, o, use_if: (
            {"if": {"properties": {"kind": k}},
             "then": {"properties": {"text": t}},
             "properties": {"offset": o}}
            if use_if else
            {"properties": {"kind": k, "text": t, "offset": o}}
        ),
        _leaf_kind, _leaf_text, _leaf_offset, st.booleans(),
    )


_array_kws = st.sampled_from([
    {}, {"minItems": 1}, {"maxItems": 2}, {"uniqueItems": True},
    {"contains": {"properties": {"kind": {"const": "image"}}}},
])

# array-level schemas exercising CONDITIONAL unevaluatedItems claims
# (no object-form `items` — that would claim everything statically)
_uneval_arrays = st.sampled_from([
    {"if": {"minItems": 2}, "then": {"prefixItems": [True, True]},
     "unevaluatedItems": {"properties": {"kind": {"const": "text"}}}},
    {"if": {"minItems": 3}, "then": {"prefixItems": [True, True, True]},
     "else": {"prefixItems": [True]},
     "unevaluatedItems": {"properties": {"offset": {"minimum": 0}}}},
    {"anyOf": [
        {"prefixItems": [{"properties": {"kind": {"const": "image"}}}, True]},
        {"prefixItems": [{"properties": {"kind": {"const": "text"}}}]}],
     "unevaluatedItems": False},
    {"prefixItems": [True],
     "unevaluatedItems": {"properties": {"text": {"minLength": 3}}}},
])

_schema = st.one_of(
    st.builds(
        lambda item, arr, combin: {"properties": {"spans": {
            **arr,
            "items": ({"anyOf": [item, {"properties": {
                "kind": {"const": "audio"}}}]} if combin else item),
        }}},
        _item_schema(), _array_kws, st.booleans(),
    ),
    st.builds(lambda arr: {"properties": {"spans": dict(arr)}},
              _uneval_arrays),
)

_docs = st.lists(_spans, min_size=1, max_size=6)


def _variant_verdicts(df, schema) -> dict:
    """doc_id -> the variant path's verdict on ``to_json`` of each row."""
    js = df.select("doc_id", F.to_json(F.struct(*df.columns)).alias("js"))
    return {r["doc_id"]: r["valid"] for r in validate_json_strings(
        js, "js", schema, mode="verdicts").collect()}


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(schema=_schema, docs=_docs)
def test_engine_matches_py_oracle(spark, schema, docs):
    rows = [{"doc_id": f"d{i}", "spans": s, "part_key": 0}
            for i, s in enumerate(docs)]
    df = spark.createDataFrame(rows, SPAN_TABLE_SCHEMA)
    compiled = compile_spec(schema, df.schema)
    got = {r["doc_id"]: r
           for r in validation_frame(df, compiled, mode="both").collect()}
    variant = _variant_verdicts(df, schema)
    for row in rows:
        py_valid, py_viols = validate_doc(schema, row)
        eng = got[row["doc_id"]]
        assert eng["valid"] == py_valid, (
            f"verdict mismatch for {row} under {schema}: "
            f"engine={eng['valid']} viols={eng['violations']} "
            f"oracle={py_viols}")
        assert variant[row["doc_id"]] == py_valid, (
            f"variant verdict mismatch for {row} under {schema}: "
            f"variant={variant[row['doc_id']]} oracle={py_viols}")
        eng_set = {(v["constraint_id"], v["span_index"])
                   for v in eng["violations"]}
        py_set = {(cid, idx) for (_d, cid, idx, _o) in py_viols}
        assert eng_set == py_set, (
            f"violation mismatch for {row} under {schema}: "
            f"engine={sorted(eng_set)} oracle={sorted(py_set)}")


# ---------------------------------------------------------- map documents

_map_vals = st.dictionaries(
    st.sampled_from(["a", "b", "c", "mode", "BAD KEY"]),
    st.integers(min_value=-10, max_value=60),
    max_size=4,
)

_map_schema = st.builds(
    lambda use_any, uneval, extra: {"properties": {"props": {
        **({"anyOf": [
            {"required": ["a"], "properties": {"a": {"minimum": 0}}},
            {"required": ["b"], "properties": {"b": {"maximum": 50}}},
        ]} if use_any else {"properties": {"a": {"minimum": 0}}}),
        **({"unevaluatedProperties": False} if uneval else {}),
        **extra,
    }}},
    st.booleans(),
    st.booleans(),
    st.sampled_from([{}, {"minProperties": 1},
                     {"propertyNames": {"pattern": "^[a-z]+$"}},
                     {"dependentRequired": {"a": ["b"]}}]),
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(schema=_map_schema, docs=st.lists(_map_vals, min_size=1, max_size=5))
def test_map_engine_matches_py_oracle(spark, schema, docs):
    """Map-typed keywords incl. the round-3 conditional unevaluated claims:
    VERDICT agreement engine vs py-oracle (map violation rows aggregate
    into single node-level constraints, so row-level compare is struct-path
    only)."""
    rows = [{"doc_id": f"m{i}", "props": d} for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id string, props map<string,int>")
    compiled = compile_spec(schema, df.schema)
    got = {r["doc_id"]: r["valid"]
           for r in validation_frame(df, compiled, mode="both").collect()}
    variant = _variant_verdicts(df, schema)
    for row in rows:
        py_valid, _ = validate_doc(schema, row)
        assert got[row["doc_id"]] == py_valid, (
            f"verdict mismatch for {row} under {schema}: "
            f"engine={got[row['doc_id']]} oracle={py_valid}")
        assert variant[row["doc_id"]] == py_valid, (
            f"variant verdict mismatch for {row} under {schema}: "
            f"variant={variant[row['doc_id']]} oracle={py_valid}")
