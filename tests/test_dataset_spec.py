"""Unified x-dataset spec section over the flattened span table."""

import os
import random
import re

import pytest
from py4j.protocol import CALL_COMMAND_NAME
from pyspark.sql import functions as F

from jsonschema_rs_spark.operators.dataset_spec import validate_dataset
from jsonschema_rs_spark.sources.spans import flat_spans
from jsonschema_rs_spark.spec import SpecError

SF = "/root/testdata/sf0.001"
GOLDEN_ROWS = os.path.join(os.path.dirname(__file__), "golden",
                           "dataset_rows.txt")
FLAT_DDL = ("doc_id string, part_key int, span_index int, span_key string, "
            "kind string, text string, media_ref string, offset int")

# every bound kind, over a table with NULLs in each constrained column
GOLDEN_SPEC = {
    "x-dataset": {
        "columns": {
            "text": {"max_null_rate": 0.5},
            "offset": {"min": 0, "max": 1500},
            "kind": {"max_distinct": 3, "min_distinct": 3},
            "span_index": {"max_null_rate": 0.0, "min": 0, "max": 6,
                           "min_distinct": 2, "max_distinct": 100},
        },
        "unique": ["span_key"],
        "referential": {
            "media_ref": {"catalog": "media_catalog", "key": "media_ref"},
        },
        "drift": {
            "chi2": {"column": "kind", "threshold": 8.0},
            "ks": {"column": "offset", "threshold": 0.08, "bins": 16},
        },
    },
}


def golden_tables(spark):
    """(flat, catalog) for the golden rows: 8 partitions plus NULL-part
    rows; NULL kind, offset, text and span_key; duplicate span keys;
    media refs the catalog lacks (and a NULL catalog key); one partition
    with a shifted kind mix, one with shifted offsets, one with a single
    kind and one with negative and oversized offsets."""
    rng = random.Random(20261019)
    kinds = ["text", "image", "audio", "video"]
    rows, refs = [], set()
    for d in range(300):
        part = None if d % 37 == 0 else d % 8
        for j in range(rng.randint(1, 6)):
            if part == 7:
                kind = "text"
            elif part == 5:
                kind = rng.choice(["image", "image", "audio", "text", None])
            else:
                kind = rng.choices(kinds + [None], [60, 20, 10, 5, 5])[0]
            offset = rng.randint(0, 1000)
            if part == 2:
                offset += 600
            if part == 4 and j == 0:
                offset = rng.choice([-5, 2000])
            if rng.random() < 0.04:
                offset = None
            text = None
            if kind == "text" and rng.random() < 0.9:
                text = f"t{rng.randint(0, 50)}"
            ref = None
            if kind in ("image", "audio", "video"):
                ref = f"media://{rng.randint(0, 80):04d}"
                refs.add(ref)
            key = f"d{d}:{j}"
            if rng.random() < 0.03:
                key = None
            elif rng.random() < 0.03:
                key = f"d{d}:0"
            rows.append((f"d{d}", part, j, key, kind, text, ref, offset))
    catalog = [(r,) for r in sorted(refs) if int(r[8:]) % 9 != 0] + [(None,)]
    return (spark.createDataFrame(rows, FLAT_DDL),
            spark.createDataFrame(catalog, "media_ref string"))


def dataset_golden_rows(spark) -> str:
    """Every ``validate_dataset`` row of ``GOLDEN_SPEC`` over
    :func:`golden_tables`, one ``repr`` per line, sorted."""
    flat, catalog = golden_tables(spark)
    out = validate_dataset(flat, GOLDEN_SPEC, "part_key",
                           {"media_catalog": catalog})
    return "\n".join(sorted(repr(tuple(r)) for r in out.collect())) + "\n"


SPEC = {
    "properties": {"doc_id": {"type": "string"}},
    "x-dataset": {
        "columns": {
            "offset": {"min": 0},          # planted negatives violate
            "text": {"max_null_rate": 0.05},  # media spans have null text
            "kind": {"max_distinct": 2},   # 4 kinds observed -> violates
        },
        "unique": ["doc_id"],              # flat grain: every doc repeats!
        "referential": {
            "media_ref": {"catalog": "media_catalog", "key": "media_ref"},
        },
        "drift": {
            "chi2": {"column": "kind", "threshold": 27.0},
        },
    },
}


def test_dataset_spec_end_to_end(spark):
    flat = flat_spans(spark, SF).cache()
    catalog = (
        flat.filter(F.col("media_ref").isNotNull())
        .select("media_ref").distinct()
        .filter(F.substring("media_ref", 9, 12).cast("int") % 16 != 0)
    )
    out = validate_dataset(
        flat, SPEC, "part_key", catalogs={"media_catalog": catalog}
    ).cache()
    by_cid = {
        r["constraint_id"]
        for r in out.select("constraint_id").distinct().collect()
    }
    assert "dataset/offset/min" in by_cid
    assert "dataset/text/null_rate" in by_cid
    assert "dataset/kind/max_cardinality" in by_cid
    assert "dataset/unique/doc_id" in by_cid          # spans repeat per doc
    assert "dataset/referential/media_ref" in by_cid  # planted dangling refs
    # homogeneous partitions: chi2 must NOT flag anything
    assert "dataset/drift_chi2/kind" not in by_cid
    assert set(out.columns) == {"scope", "scope_key", "constraint_id",
                                "observed"}
    out.unpersist()
    flat.unpersist()


def test_dataset_spec_missing_catalog(spark):
    flat = flat_spans(spark, SF)
    with pytest.raises(SpecError, match="catalog"):
        validate_dataset(flat, SPEC, "part_key", catalogs={})


def test_dataset_rows_match_golden(spark):
    """Plan rewrites of the ``x-dataset`` gate must return the same rows,
    observed strings included.  Regenerate the golden file from
    ``dataset_golden_rows`` only for a change meant to alter them."""
    with open(GOLDEN_ROWS) as fh:
        golden = fh.read()
    assert dataset_golden_rows(spark) == golden


# bound-less statistics must not be aggregated; span_index is read only by
# the KS min/max pre-pass
PLAN_SPEC = {
    "x-dataset": {
        "columns": {
            "text": {"max_null_rate": 0.5},
            "offset": {"min": 0},
            "kind": {"max_distinct": 3},
        },
        "unique": ["span_key"],
        "referential": {
            "media_ref": {"catalog": "media_catalog", "key": "media_ref"},
        },
        "drift": {
            "chi2": {"column": "kind"},
            "ks": {"column": "span_index", "bins": 8},
        },
    },
}


def test_dataset_plan_is_one_statement_with_only_bounded_aggregates(
        spark, tmp_path):
    """Over a parquet-backed table the whole section analyses to a plan
    with no materialised RDD leaf, aggregates only the statistics a
    bound (or the KS binning) reads, and builds in a bounded number of
    py4j round trips."""
    flat, catalog = golden_tables(spark)
    flat.write.parquet(str(tmp_path / "flat"))
    catalog.write.parquet(str(tmp_path / "catalog"))
    flat = spark.read.parquet(str(tmp_path / "flat"))
    catalogs = {"media_catalog": spark.read.parquet(str(tmp_path / "catalog"))}

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting(command, *a, **k):
        nonlocal calls
        calls += command.startswith(CALL_COMMAND_NAME)
        return send(command, *a, **k)

    client.send_command = counting
    try:
        out = validate_dataset(flat, PLAN_SPEC, "part_key", catalogs)
    finally:
        del client.send_command
    assert calls <= 100, calls

    qe = out._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    assert "LogicalRDD" not in analyzed and "ExistingRDD" not in analyzed
    plan = re.sub(r"#[0-9]+", "", qe.optimizedPlan().toString())
    aggs = {(f, c) for f, c in re.findall(
        r"\b(min|max|approx_count_distinct)\((\w+)", plan)
        if c in flat.columns}
    aggs |= {("avg", c) for c in
             re.findall(r"avg\(cast\(isnull\((\w+)\) as double\)\)", plan)}
    assert aggs == {("avg", "text"), ("min", "offset"),
                    ("approx_count_distinct", "kind"),
                    ("min", "span_index"), ("max", "span_index")}, aggs
    assert out.count() > 0


def test_ks_bounds_skip_the_min_max_scan(spark, tmp_path):
    """A ``ks`` entry with ``bounds`` equal to the data's min/max gives the
    same rows as one without, from a plan with one fewer file scan (no
    min/max pre-pass)."""
    flat, _ = golden_tables(spark)
    flat.write.parquet(str(tmp_path / "flat"))
    flat = spark.read.parquet(str(tmp_path / "flat"))
    lo, hi = flat.agg(F.min("offset"), F.max("offset")).first()
    ks = {"column": "offset", "threshold": 0.08, "bins": 16}
    derived = validate_dataset(
        flat, {"x-dataset": {"drift": {"ks": ks}}}, "part_key")
    bounded = validate_dataset(
        flat, {"x-dataset": {"drift": {"ks": {**ks, "bounds": [lo, hi]}}}},
        "part_key")

    def file_scans(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "FileScan")

    assert file_scans(bounded) == file_scans(derived) - 1
    rows = {tuple(r) for r in derived.collect()}
    assert rows and {tuple(r) for r in bounded.collect()} == rows


@pytest.mark.parametrize("section, bad_key", [
    ({"columns": {"offset": {"minimum": 0}}}, "minimum"),
    ({"drift": {"psi": {"column": "offset"}}}, "psi"),
    ({"columns": {"offset": {"min": 0}}, "uniq": ["span_key"]}, "uniq"),
    ({"referential": {"media_ref": {"key": "media_ref"}}}, "catalog"),
    ({"drift": {"ks": {"column": "offset", "bounds": [0]}}}, "bounds"),
    ({"drift": {"ks": {"column": "offset", "bounds": [1, 1]}}}, "bounds"),
    ({"drift": {"ks": {"column": "offset", "bounds": [0, "9"]}}}, "bounds"),
    ({"drift": {"ks": {"column": "offset", "bounds": "0,1"}}}, "bounds"),
], ids=["unknown-bound", "unknown-drift-kind", "unknown-section-key",
        "target-without-catalog", "ks-bounds-one-number",
        "ks-bounds-lo-not-below-hi", "ks-bounds-not-a-number",
        "ks-bounds-not-a-list"])
def test_malformed_section_names_the_bad_key(spark, section, bad_key):
    flat, catalog = golden_tables(spark)
    with pytest.raises(SpecError, match=repr(bad_key)):
        validate_dataset(flat, {"x-dataset": section}, "part_key",
                         {"media_catalog": catalog})
