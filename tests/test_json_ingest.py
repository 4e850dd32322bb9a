"""Arbitrary-JSON ingestion (round 5): the variant lowering in
``json_ingest`` — the analogue of the reference accepting ANY parsed JSON
value (``validator.rs:29-33``) instead of a pre-typed table."""

import json
import random

import pytest
from py4j.protocol import CALL_COMMAND_NAME
from pyspark.sql import functions as F

from jsonschema_rs_spark.compiler import EngineOptions
from jsonschema_rs_spark.json_ingest import (JsonIngestUnsupported,
                                             json_valid_column,
                                             validate_json_strings)


def _valids(spark, schema, instances, draft=None):
    df = spark.createDataFrame(
        [(i, json.dumps(v)) for i, v in enumerate(instances)],
        "i int, js string")
    col = json_valid_column(F.col("js"), schema, EngineOptions(draft=draft))
    rows = df.select("i", col.alias("ok")).collect()
    return [bool(r["ok"]) for r in sorted(rows, key=lambda r: r["i"])]


def test_json_null_vs_absent_vs_wrong_type(spark):
    """The three-way distinction a typed table cannot make: JSON null is
    PRESENT (satisfies required, fails type:number), absent is neither."""
    schema = {"properties": {"a": {"type": "number"}}, "required": ["a"]}
    got = _valids(spark, schema, [{"a": 1.5}, {"a": None}, {}, {"a": "x"}])
    assert got == [True, False, False, False]


def test_json_heterogeneous_array(spark):
    schema = {"items": {"type": ["integer", "string"]}}
    got = _valids(spark, schema, [[1, "a", 2], [1, True], [1.5], []])
    assert got == [True, False, False, True]


def test_json_bigint_exact(spark):
    """Integers beyond 2^53 compare exactly (variant keeps the decimal)."""
    schema = {"maximum": 2 ** 54 - 1}
    got = _valids(spark, schema, [2 ** 54, 2 ** 54 - 1, 10])
    assert got == [False, True, True]


def test_json_draft4_integer_literal_form(spark):
    """Draft 4: 1.0 is NOT an integer (is_i64/is_u64,
    legacy/type_draft_4.rs:113-114); modern drafts accept it."""
    schema = {"type": "integer"}
    insts = [1, 1.0, 1.5, 2 ** 63 + 10]  # last: u64-range literal
    assert _valids(spark, schema, insts, draft=4) == \
        [True, False, False, True]
    assert _valids(spark, schema, insts, draft=7) == \
        [True, True, False, True]


def test_json_uniqueitems_json_equality(spark):
    """1 == 1.0, true != 1, object key order irrelevant — JSON equality,
    not Spark-type equality."""
    schema = {"uniqueItems": True}
    got = _valids(spark, schema, [
        [1, 1.0], [True, 1], [{"a": 1, "b": 2}, {"b": 2, "a": 1}],
        [[1], [1.0]], ["a|b", "a,b"],
    ])
    assert got == [False, True, False, False, True]


def test_json_structural_ref(spark):
    """$ref into schema structure (not just $defs) — the typed suite
    harness's R5 exclusion, native here."""
    schema = {
        "properties": {"a": {"minimum": 3},
                       "b": {"$ref": "#/properties/a"}},
    }
    got = _valids(spark, schema, [{"b": 5}, {"b": 1}])
    assert got == [True, False]


def test_json_violations_rows(spark):
    df = spark.createDataFrame(
        [("d1", '{"name": "ab", "n": 1.5}'),
         ("d2", '{"name": "x"}'),
         ("d3", 'not json at all'),
         ("d4", '{"name": "ok!", "n": 7}')],
        "doc_id string, js string")
    schema = {
        "properties": {"name": {"type": "string", "minLength": 2},
                       "n": {"type": "integer"}},
        "required": ["n"],
    }
    out = validate_json_strings(df, "js", schema)
    got = {(r["doc_id"], r["constraint_id"]): r["observed"]
           for r in out.collect()}
    assert got == {
        ("d1", "n/type"): "1.5",
        ("d2", "name/minLength"): "x",
        ("d2", "required/n"): "missing",
        ("d3", "json/parse"): "not json at all",
    }, got


def test_json_verdicts_mode(spark):
    df = spark.createDataFrame(
        [("a", '{"v": 1}'), ("b", '{"v": "s"}'), ("c", "{broken")],
        "doc_id string, js string")
    out = validate_json_strings(
        df, "js", {"properties": {"v": {"type": "integer"}}},
        mode="verdicts")
    got = {r["doc_id"]: r["valid"] for r in out.collect()}
    assert got == {"a": True, "b": False, "c": False}


def test_json_unsupported_raises_at_compile(spark):
    # pattern that compiles in Python re but not java.util.regex: the
    # typed engine would stage a Python fallback; the variant path cannot
    with pytest.raises(JsonIngestUnsupported, match="pattern"):
        json_valid_column(F.lit("{}"), {"pattern": r"(?P<x>a)(?P=x)"})
    # a registered custom keyword builds typed-column predicates; the
    # variant path must refuse it rather than silently skip the check
    opts = EngineOptions(custom_keywords={
        "x-even": lambda v, dt: (lambda x: x % 2 == 0,
                                 lambda x: x.cast("string"))})
    with pytest.raises(JsonIngestUnsupported, match="x-even"):
        json_valid_column(F.lit("3"), {"x-even": True}, opts)


def test_json_unevaluated_runtime_annotations(spark):
    """unevaluated* on the variant path: full RUNTIME annotation algebra
    (claims from applied-and-valid sources only), per 2020-12."""
    got = _valids(spark, {
        "anyOf": [{"required": ["a"], "properties": {"a": {"minimum": 0}}},
                  {"required": ["b"]}],
        "unevaluatedProperties": False,
    }, [{"a": 1}, {"a": -1}, {"b": 2}, {"c": 3}], draft=2020)
    # {"b": 2}: required produces NO annotation — only properties/
    # patternProperties/additionalProperties claim — so b stays
    # unevaluated and the doc is invalid
    assert got == [True, False, False, False]
    got = _valids(spark, {
        "if": {"minItems": 2}, "then": {"prefixItems": [True, True]},
        "unevaluatedItems": False,
    }, [[1, 2], [1, 2, 3], [], [1]], draft=2020)
    assert got == [True, False, True, False]
    # contains claims matched items; failing prefix claim drops (round 5)
    got = _valids(spark, {
        "contains": {"type": "string"},
        "unevaluatedItems": {"type": "integer"},
    }, [["s", 1], ["s", 1.5]], draft=2020)
    assert got == [True, False]
    got = _valids(spark, {"prefixItems": [{"type": "integer"}],
                          "unevaluatedItems": False},
                  [[1], ["x"]], draft=2020)
    assert got == [True, False]


def test_json_content_draft7(spark):
    got = _valids(spark, {"contentEncoding": "base64"},
                  ["aGVsbG8=", "not*b64!"], draft=7)
    assert got == [True, False]
    # 2019+: annotation only
    got = _valids(spark, {"contentEncoding": "base64"},
                  ["not*b64!"], draft=2019)
    assert got == [True]


def test_json_nested_combinators(spark):
    schema = {
        "properties": {"spans": {
            "type": "array",
            "items": {"anyOf": [
                {"properties": {"kind": {"const": "text"},
                                "text": {"type": "string", "minLength": 1}},
                 "required": ["text"]},
                {"properties": {"kind": {"const": "image"},
                                "media_ref": {"type": "string"}},
                 "required": ["media_ref"]},
            ]},
        }},
    }
    got = _valids(spark, schema, [
        {"spans": [{"kind": "text", "text": "hi"},
                   {"kind": "image", "media_ref": "m1"}]},
        {"spans": [{"kind": "text"}]},           # neither branch
        {"spans": []},
        {},
    ])
    assert got == [True, False, True, True]


def test_json_multiple_of_decimal_exact(spark):
    """Variant path multipleOf: exact decimal remainder straight from the
    literal (no double round-trip for <=6-scale literals)."""
    got = _valids(spark, {"multipleOf": 0.0001},
                  [0.0075, 0.00751, 123456.7891, 123456.78915])
    assert got == [True, False, True, False]
    got = _valids(spark, {"multipleOf": 2}, [4, 4.0, 5, 2 ** 60 + 2,
                                             2 ** 60 + 1])
    assert got == [True, True, False, True, False]


def test_json_null_document_violation_row(spark):
    """SQL-NULL documents must agree across modes (round 6, ADVICE low):
    verdicts says invalid, so violations must emit a json/parse row (with
    NULL observed — there is no text) instead of zero rows."""
    df = spark.createDataFrame(
        [("d1", '{"v": 1}'), ("d2", None)], "doc_id string, js string")
    schema = {"properties": {"v": {"type": "integer"}}}
    out = validate_json_strings(df, "js", schema)
    got = {(r["doc_id"], r["constraint_id"]): r["observed"]
           for r in out.collect()}
    assert got == {("d2", "json/parse"): None}, got
    verd = validate_json_strings(df, "js", schema, mode="verdicts")
    vgot = {r["doc_id"]: r["valid"] for r in verd.collect()}
    assert vgot == {"d1": True, "d2": False}


def test_json_uniqueitems_bigint_exact(spark):
    """uniqueItems canon (round 6, ADVICE low): integer-tagged values
    beyond 2^53 must stay distinct (exact decimal rendering), while
    1 == 1.0 equality is preserved through the shared integral form."""
    schema = {"uniqueItems": True}
    got = _valids(spark, schema, [
        [9007199254740992, 9007199254740993],   # distinct big ints: valid
        [9007199254740992, 9007199254740992],   # duplicate: invalid
        [1, 1.0],                               # JSON-equal: invalid
        [1, 2.0],                               # distinct: valid
        [1.5, 1.5],                             # duplicate fraction
    ])
    assert got == [True, False, False, True, False]


def test_variant_build_jvm_call_budget(spark):
    """Plan-build cost on the variant path is the number of Column nodes
    built over py4j.  Each node's tag, type tests and extractions are
    built once and shared, and the engine session sends no per-call
    origin capture, so the flagship build stays inside a budget (11,356
    JVM calls when every accessor rebuilt its Column, 2,410 with the
    origin capture on)."""
    from jsonschema_rs_spark.flagship import FLAGSHIP_SPEC

    df = spark.createDataFrame([("d1", "{}")], "doc_id string, doc string")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting(command, *a, **k):
        nonlocal calls
        calls += command.startswith(CALL_COMMAND_NAME)
        return send(command, *a, **k)

    client.send_command = counting
    try:
        validate_json_strings(df, "doc", FLAGSHIP_SPEC)
    finally:
        del client.send_command
    assert calls <= 1200, calls


def test_variant_violations_agree_with_verdicts_on_suite_sample(spark):
    """On a fixed-seed sample of the suite corpus (at most 20 cases per
    draft), every parsed document has a ``violations`` row exactly when
    ``mode="verdicts"`` calls it invalid.  Cells carry their only NULL
    guard in ``emit``, so a guard that went missing would show here."""
    from .test_suite_replay import DRAFT_DIRS, _enumerate_cases, _opts

    rng = random.Random(20261017)
    flagged: set = set()
    verdict: dict = {}
    n_cases = 0
    for draft_dir, draft in DRAFT_DIRS:
        cases = _enumerate_cases(draft_dir)
        for k, (_, c) in enumerate(rng.sample(cases, min(20, len(cases)))):
            # a literal-array input stays in the JVM: createDataFrame on a
            # Python list would start a Python worker per scan task
            docs = spark.range(1).select(F.inline(F.array(*[
                F.struct(F.lit(f"{draft}:{k}:{i}").alias("doc_id"),
                         F.lit(json.dumps(t["data"])).alias("js"))
                for i, t in enumerate(c["tests"])])))
            try:
                viols = validate_json_strings(docs, "js", c["schema"],
                                              _opts(draft))
            except JsonIngestUnsupported:
                continue
            flagged.update(r["doc_id"] for r in viols.collect())
            verdict.update((r["doc_id"], r["valid"]) for r in
                           validate_json_strings(docs, "js", c["schema"],
                                                 _opts(draft),
                                                 mode="verdicts").collect())
            n_cases += 1
    assert n_cases >= 60 and len(verdict) >= 200, (n_cases, len(verdict))
    assert flagged <= set(verdict)
    # a NULL verdict counts as a disagreement either way
    disagree = sorted(d for d, ok in verdict.items()
                      if ok != (d not in flagged))
    assert not disagree, disagree


def test_flagship_binding_edges(spark):
    """The flagship spec binds each node's tag, casts and members once
    per row and once per span element; these documents hit every
    absent, JSON-null and wrong-type edge of those bound values.  The
    expected rows are the ones the engine gave before the binding."""
    from jsonschema_rs_spark.flagship import FLAGSHIP_SPEC

    doc = "doc-000000000001"
    ok = {"kind": "text", "offset": 0, "text": "abcd"}
    media = {"media_ref": "media://1"}
    docs = {
        "spans-object": {"doc_id": doc, "spans": {"kind": "text"}},
        "spans-string": {"doc_id": doc, "spans": "x"},
        "spans-null": {"doc_id": doc, "spans": None},
        "spans-absent": {"doc_id": doc},
        "el-null": {"doc_id": doc, "spans": [ok, None]},
        "el-5": {"doc_id": doc, "spans": [ok, 5]},
        "el-array": {"doc_id": doc, "spans": [ok, []]},
        "el-object": {"doc_id": doc, "spans": [ok, {}]},
        "kind-missing": {"doc_id": doc, "spans": [ok, {"offset": 8,
                                                       **media}]},
        "kind-null": {"doc_id": doc, "spans": [
            ok, {"kind": None, "offset": 8, **media}]},
        "kind-3": {"doc_id": doc, "spans": [
            ok, {"kind": 3, "offset": 8, **media}]},
        "offset-1.0": {"doc_id": doc, "spans": [
            ok, {"kind": "image", "offset": 1.0, **media}]},
        "offset-8.0": {"doc_id": doc, "spans": [
            ok, {"kind": "image", "offset": 8.0, **media}]},
        "offset-2**63": {"doc_id": doc, "spans": [
            ok, {"kind": "audio", "offset": 2 ** 63, **media}]},
        "valid": {"doc_id": doc, "spans": [ok]},
    }
    df = spark.createDataFrame([(k, json.dumps(v)) for k, v in docs.items()],
                               "doc_id string, doc string")
    first = '[{"kind":"text","offset":0,"text":"abcd"},'
    second = {
        "el-5": "5", "el-array": "[]", "el-null": "null", "el-object": "{}",
        "kind-3": '{"kind":3,"media_ref":"media://1","offset":8}',
        "kind-missing": '{"media_ref":"media://1","offset":8}',
        "kind-null": '{"kind":null,"media_ref":"media://1","offset":8}',
        "offset-1.0": '{"kind":"image","media_ref":"media://1","offset":1}',
    }
    expected = {(d, "spans/items", first + o + "]") for d, o in second.items()}
    expected |= {("spans-absent", "required/spans", "missing"),
                 ("spans-null", "spans/type", None),
                 ("spans-object", "spans/type", '{"kind":"text"}'),
                 ("spans-string", "spans/type", "x")}
    rows = [tuple(r) for r in
            validate_json_strings(df, "doc", FLAGSHIP_SPEC).collect()]
    assert sorted(rows, key=str) == sorted(expected, key=str)
    valid = {d: d not in {r[0] for r in expected} for d in docs}
    assert valid["offset-2**63"] and valid["offset-8.0"] and valid["valid"]
    verdicts = validate_json_strings(df, "doc", FLAGSHIP_SPEC,
                                     mode="verdicts").collect()
    assert {r["doc_id"]: r["valid"] for r in verdicts} == valid
    col = json_valid_column(F.col("doc"), FLAGSHIP_SPEC)
    assert {r[0]: r[1] for r in df.select("doc_id", col).collect()} == valid
