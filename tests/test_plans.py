"""Physical plan shape regression tests — the scale guarantees.

These assert the properties the 100-TB design depends on, so a refactor
can't silently reintroduce a shuffle or break scan pruning.
"""

import os
import re

import pytest
from py4j.protocol import CALL_COMMAND_NAME
from pyspark.sql import functions as F

from jsonschema_rs_spark.compiler import compile_spec
from jsonschema_rs_spark.flagship import FLAGSHIP_SPEC, compile_flagship
from jsonschema_rs_spark.json_ingest import validate_json_strings
from jsonschema_rs_spark.plans.validate import (
    partition_rollup,
    validation_frame,
    verdicts,
    violations,
)
from jsonschema_rs_spark.sources.spans import derive_spans

SF = "/root/testdata/sf0.001"
GOLDEN_FLAGSHIP = os.path.join(os.path.dirname(__file__), "golden",
                               "flagship_typed_plans.txt")
GOLDEN_VARIANT = os.path.join(os.path.dirname(__file__), "golden",
                              "flagship_variant_plans.txt")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spans_parquet(spark, tmp_path):
    path = str(tmp_path / "spans.parquet")
    derive_spans(spark, SF).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def flagship_logical_plans(spark) -> str:
    """The optimised logical plans of ``violations`` and ``verdicts`` for
    the flagship spec over the derived span table.  Expression ids
    (``#123``) and the session-global lambda-variable counter
    (``lambda x_7``) are normalised so the text is stable across builds."""
    df = derive_spans(spark, SF)
    compiled = compile_flagship(df.schema)
    parts = []
    for name, frame in (("violations", violations(df, compiled)),
                        ("verdicts", verdicts(df, compiled))):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        parts.append(f"== {name} ==\n{_normalised(plan)}")
    return "\n".join(parts)


def _normalised(plan: str) -> str:
    plan = re.sub(r"#[0-9]+", "#N", plan)
    return re.sub(r"(lambda [A-Za-z]+)_[0-9]+", r"\1_N", plan)


def flagship_variant_plans(spark) -> str:
    """The optimised logical plans of ``validate_json_strings`` in both
    modes for the flagship spec over a one-row raw JSON frame, normalised
    like :func:`flagship_logical_plans`."""
    df = spark.createDataFrame([("d1", "{}")], "doc_id string, doc string")
    parts = []
    for mode in ("violations", "verdicts"):
        frame = validate_json_strings(df, "doc", FLAGSHIP_SPEC, mode=mode)
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        parts.append(f"== {mode} ==\n{_normalised(plan)}")
    return "\n".join(parts)


def test_flagship_typed_plans_match_golden(spark):
    """Keyword-lowering refactors must leave the typed flagship plans
    byte-identical.  Regenerate the golden file from
    ``flagship_logical_plans`` only for a change meant to alter them."""
    with open(GOLDEN_FLAGSHIP) as fh:
        golden = fh.read()
    assert flagship_logical_plans(spark) == golden


def test_flagship_variant_plans_match_golden(spark):
    """The same guarantee for the variant path: ``validate_json_strings``
    plans of the flagship spec stay byte-identical.  Regenerate from
    ``flagship_variant_plans`` only for a change meant to alter them."""
    with open(GOLDEN_VARIANT) as fh:
        golden = fh.read()
    assert flagship_variant_plans(spark) == golden


def test_engine_session_turns_off_dataframe_debugging(spark):
    """With DataFrame debugging on, PySpark sends several extra py4j round
    trips per ``F.*``/``Column`` call to record its Python call site."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_typed_build_jvm_call_budget(spark):
    """Plan-build cost on the typed path is the number of Column nodes
    built over py4j: one round trip per node, and each constraint's
    predicate built once per plan site.  About 3,600 JVM calls with the
    per-call origin capture on."""
    df = derive_spans(spark, SF)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting(command, *a, **k):
        nonlocal calls
        calls += command.startswith(CALL_COMMAND_NAME)
        return send(command, *a, **k)

    client.send_command = counting
    try:
        violations(df, compile_spec(FLAGSHIP_SPEC, df.schema))
    finally:
        del client.send_command
    assert calls <= 1200, calls


def test_violations_plan_has_no_shuffle(spark, tmp_path):
    df = _spans_parquet(spark, tmp_path)
    compiled = compile_spec(FLAGSHIP_SPEC, df.schema)
    plan = _physical(violations(df, compiled))
    assert "Exchange" not in plan, plan


def test_verdict_hof_plan_has_no_shuffle(spark, tmp_path):
    """The opt-in zero-shuffle HOF variant must stay shuffle-free."""
    df = _spans_parquet(spark, tmp_path)
    compiled = compile_spec(FLAGSHIP_SPEC, df.schema)
    plan = _physical(verdicts(df, compiled, strategy="hof"))
    assert "Exchange" not in plan, plan


def test_verdict_default_is_single_scan_exploded(spark, tmp_path):
    """The DEFAULT verdict strategy must be the single-scan exploded agg
    (BENCH_r02 driver record: 1.06s vs 6.03s prefilter): no interpreted
    HOF lambdas on the hot predicates, no join, and exactly one scan of
    the input."""
    df = _spans_parquet(spark, tmp_path)
    compiled = compile_spec(FLAGSHIP_SPEC, df.schema)
    plan = _physical(verdicts(df, compiled))
    assert "lambdafunction" not in plan.lower(), plan
    assert "Join" not in plan, plan
    # map-side combined agg: a partial aggregate below the exchange
    assert "partial" in plan.lower(), plan
    # agreement between all three strategies on real data
    a = {(r["doc_id"], r["valid"])
         for r in verdicts(df, compiled).collect()}
    b = {(r["doc_id"], r["valid"])
         for r in verdicts(df, compiled, strategy="prefilter").collect()}
    assert a == b


def test_rollup_single_shuffle(spark, tmp_path):
    df = _spans_parquet(spark, tmp_path)
    compiled = compile_spec(FLAGSHIP_SPEC, df.schema)
    plan = _physical(partition_rollup(df, compiled, "part_key"))
    # exactly the partition-key aggregation exchange (plus AQE reads)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_rollup_fails_on_violating_null_id(spark):
    """``count_distinct`` skips NULL ids, so a violating doc with a NULL id
    would read as valid: the rollup raises instead.  A valid doc with a
    NULL id still counts."""
    from pyspark.errors import SparkRuntimeException

    ddl = "doc_id string, name string, part_key int"
    spec = {"properties": {"name": {"minLength": 1}}}
    bad = spark.createDataFrame([(None, "", 0), ("b", "ok", 0)], ddl)
    with pytest.raises(SparkRuntimeException, match="NULL 'doc_id'"):
        partition_rollup(bad, compile_spec(spec, bad.schema),
                         "part_key").collect()
    ok = spark.createDataFrame([(None, "ok", 0), ("b", "", 0)], ddl)
    row = partition_rollup(ok, compile_spec(spec, ok.schema),
                           "part_key").collect()[0]
    assert (row["docs"], row["valid_docs"], row["violation_rows"],
            row["pass"]) == (2, 1, 1, False)


def test_column_pruning_reaches_scan(spark, tmp_path):
    df = _spans_parquet(spark, tmp_path)
    compiled = compile_spec(
        {"properties": {"doc_id": {"pattern": "^doc-"}}}, df.schema)
    plan = _physical(verdicts(df, compiled))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads
    for read in reads:  # every scan in the plan prunes to doc_id
        assert "spans" not in read, read
        assert "part_key" not in read, read


def test_no_python_in_flagship_plan(spark, tmp_path):
    """The full flagship suite must stay JVM-side (no Arrow/Python eval)."""
    df = _spans_parquet(spark, tmp_path)
    compiled = compile_spec(FLAGSHIP_SPEC, df.schema)
    for frame in (violations(df, compiled), verdicts(df, compiled)):
        plan = _physical(frame)
        assert "Python" not in plan, plan
        assert "BatchEvalPython" not in plan


def test_python_format_staged_not_in_lambda(spark, tmp_path):
    """UDF-backed formats must appear as ArrowEvalPython, never inside a
    lambdafunction (Spark would reject the plan)."""
    df = _spans_parquet(spark, tmp_path)
    compiled = compile_spec(
        {"properties": {"spans": {"items": {"properties": {
            "text": {"format": "ipv6"}}}}}},
        df.schema,
    )
    vf = validation_frame(df, compiled, mode="both")
    plan = _physical(vf)
    assert "ArrowEvalPython" in plan, plan
    vf.collect()  # and it actually executes


def test_nested_field_pruning_reaches_scan(spark, tmp_path):
    """Touched-field tracking: a kind-only spec must read only spans.kind."""
    from jsonschema_rs_spark.plans.validate import violations as _violations

    df = _spans_parquet(spark, tmp_path)
    compiled = compile_spec(
        {"properties": {"spans": {"items": {"properties": {
            "kind": {"enum": ["text"]}}}}}},
        df.schema,
    )
    plan = _physical(_violations(df, compiled))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "kind" in read and "media_ref" not in read and "text:" not in read, read


def test_annotation_units_cover_both_polarities(spark, tmp_path):
    """include_annotations=True emits one unit per (span, keyword) with a
    valid flag; its invalid subset must equal the default error-only
    stream (reference output.rs:104-200 both-polarity basic output)."""
    from jsonschema_rs_spark.plans.validate import basic_output

    df = _spans_parquet(spark, tmp_path)
    spec = {"properties": {"spans": {"items": {"properties": {
        "kind": {"enum": ["text", "image", "audio"]},
        "offset": {"minimum": 0},
    }}}}}
    compiled = compile_spec(spec, df.schema)
    both = basic_output(df, compiled, include_annotations=True)
    n_spans = df.select(F.sum(F.size("spans"))).collect()[0][0]
    assert both.count() == 2 * n_spans
    key = ["doc_id", "constraint_id", "span_index", "observed"]
    errs_only = {tuple(r) for r in basic_output(df, compiled)
                 .select(*key).collect()}
    from_both = {tuple(r) for r in both.filter(~F.col("valid"))
                 .select(*key).collect()}
    assert errs_only == from_both and errs_only
    # passing units carry the observed annotation payload and NULL message
    sample = both.filter(F.col("valid")).limit(5).collect()
    assert sample and all(r["message"] is None for r in sample)


def test_annotation_units_per_position_conditional_uneval(spark):
    """Both-polarity units for conditional unevaluatedItems carry one row
    PER POSITION with the gated claim math (round 4 — was one node-level
    unit)."""
    from jsonschema_rs_spark.plans.validate import basic_output

    df = spark.createDataFrame(
        [("d1", [{"kind": "text", "offset": 0},
                 {"kind": "image", "offset": 8}])],
        "doc_id string, spans array<struct<kind:string,offset:int>>")
    spec = {"properties": {"spans": {
        "if": {"minItems": 3},
        "then": {"prefixItems": [True, True, True]},
        "else": {"prefixItems": [True]},
        "unevaluatedItems": {"properties": {"kind": {"const": "text"}}},
    }}}
    u = basic_output(df, compile_spec(spec, df.schema),
                     include_annotations=True)
    rows = {r["span_index"]: r for r in u.collect()
            if r["constraint_id"] == "spans/unevaluatedItems"}
    # else-branch claims position 0; position 1 is unevaluated: image fails
    assert set(rows) == {0, 1}, rows
    assert rows[0]["valid"] is True
    assert rows[1]["valid"] is False
    assert rows[1]["instance_path"] == "/spans/1"


def test_annotation_units_empty_array_keeps_node_unit(spark):
    """Docs whose array is empty/absent still get one node-level unit per
    conditional-uneval keyword — the both-polarity stream stays complete
    per (doc, keyword) (round-4 review)."""
    from jsonschema_rs_spark.plans.validate import basic_output

    df = spark.createDataFrame(
        [("d-empty", []), ("d-null", None)],
        "doc_id string, spans array<struct<kind:string,offset:int>>")
    spec = {"properties": {"spans": {
        "if": {"minItems": 3},
        "then": {"prefixItems": [True, True, True]},
        "else": {"prefixItems": [True]},
        "unevaluatedItems": {"properties": {"kind": {"const": "text"}}},
    }}}
    u = basic_output(df, compile_spec(spec, df.schema),
                     include_annotations=True)
    rows = [(r["doc_id"], r["span_index"], r["valid"]) for r in u.collect()
            if r["constraint_id"] == "spans/unevaluatedItems"]
    assert sorted(rows) == [("d-empty", None, True),
                            ("d-null", None, True)], rows


def test_simhash_buckets_uses_codegen_agg_not_interpreted_hof(spark):
    """The public blocking API rides the exploded whole-stage-codegen
    ``simhash_table`` agg (round-4 VERDICT #5) — no interpreted
    ``aggregate``/``transform`` HOF lambda may appear in its plan."""
    from jsonschema_rs_spark.operators.dedup import simhash_buckets

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _physical(simhash_buckets(docs, "doc_id", "text"))
    assert "lambdafunction" not in plan.lower(), plan
    assert "HashAggregate" in plan, plan


def test_ngram_jaccard_relative_cap_builds_without_spark_job(spark):
    """Relative df_cap resolves inside the job (round-4 VERDICT #6):
    BUILDING the frame must trigger no Spark job."""
    from jsonschema_rs_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    frame = ngram_jaccard_pairs(docs, "doc_id", "text", df_cap=0.01)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "plan build triggered a Spark job"
    assert frame.columns == ["id_a", "id_b", "inter", "jaccard"]


def test_iceberg_read_path_plan_construction(spark):
    """The CLI's --format iceberg branch builds `spark.read.format("iceberg")
    .load(path)`; without the iceberg runtime jars (not in this sandbox)
    the DataSource lookup must fail with the catalog/classpath error —
    i.e. the plan-construction path is exercised up to the missing jar,
    not silently routed to parquet.  With jars present this test instead
    asserts the load succeeds structurally (skipped-by-environment)."""
    import pytest as _pytest
    try:
        spark.read.format("iceberg").load("/tmp/nonexistent_iceberg_table")
    except Exception as exc:
        msg = str(exc)
        assert ("iceberg" in msg.lower() or "DATA_SOURCE_NOT_FOUND" in msg
                or "Failed to find" in msg), msg
    else:  # pragma: no cover - only with iceberg jars on the classpath
        _pytest.skip("iceberg runtime present; load path succeeded")


def test_est_scan_splits_reads_two_letter_size_units(spark):
    """Spark's size grammar accepts ``128mb``; the split estimate that
    ``derive_spans`` runs must parse it rather than fail every build."""
    from jsonschema_rs_spark.session import _parse_bytes, est_scan_splits

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "128mb")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        assert est_scan_splits(docs) >= 1
    finally:
        spark.conf.set(key, old)
    assert _parse_bytes("1gb") == _parse_bytes("1g") == 1 << 30
    with pytest.raises(ValueError):
        _parse_bytes("12 parsecs")


@pytest.mark.parametrize("n_files", [1, 2, 8])
def test_est_scan_splits_mirrors_spark_split_sizing(spark, tmp_path,
                                                    n_files):
    """Small tables (below ``maxPartitionBytes``) split by Spark's
    ``maxSplitBytes`` rule, where each file's open cost counts: the
    estimate stays within one of the real scan partition count."""
    from jsonschema_rs_spark.session import est_scan_splits

    path = str(tmp_path / f"t{n_files}")
    (spark.range(0, 4000, numPartitions=n_files)
     .selectExpr("id", "cast(id * 7 as string) AS s")
     .write.parquet(path))
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == n_files
    assert abs(est_scan_splits(df) - df.rdd.getNumPartitions()) <= 1, (
        est_scan_splits(df), df.rdd.getNumPartitions())
