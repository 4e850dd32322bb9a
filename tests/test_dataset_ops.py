"""Dataset-level constraint tests (FIXTURES.md §5)."""

import pytest
from pyspark.sql import functions as F

from jsonschema_rs_spark.operators import dataset as DS
from jsonschema_rs_spark.sources.spans import flat_spans, synth_rows

SF = "/root/testdata/sf0.001"


def test_uniqueness_planted_dupes(spark):
    rows, expected = synth_rows(2000, seed=42)
    df = spark.createDataFrame(
        [(r["doc_id"],) for r in rows], "doc_id string")
    out = DS.uniqueness_violations(df, ["doc_id"])
    got = {r["doc_id"] for r in out.collect()}
    want = {d for d, _ in expected["dup_doc_id"]}
    assert got == want


def test_uniqueness_ignores_null_keys(spark):
    """A NULL in any key column makes the row take no part (SQL
    ``UNIQUE``): NULL keys are never reported as a duplicate group, and
    a duplicated non-NULL key counts only its non-NULL rows."""
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("b", 2), (None, 3), (None, 3),
         (None, None), (None, None), ("c", None), ("c", None)],
        "k1 string, k2 int")
    got = {tuple(r) for r in DS.uniqueness_violations(df, ["k1"]).collect()}
    assert got == {("a", 3), ("c", 2)}
    got = {tuple(r)
           for r in DS.uniqueness_violations(df, ["k1", "k2"]).collect()}
    assert got == {("a", 1, 2)}


def test_referential_integrity_exact_dangling_set(spark):
    fs = flat_spans(spark, SF).filter(F.col("media_ref").isNotNull()).cache()
    catalog = fs.select("media_ref").distinct().filter(
        F.substring("media_ref", 9, 12).cast("int") % 16 != 0)
    out = DS.referential_violations(fs, "media_ref", catalog, "media_ref")
    got = {r["media_ref"] for r in out.collect()}
    want = {
        r["media_ref"]
        for r in fs.select("media_ref").distinct().collect()
        if int(r["media_ref"][8:]) % 16 == 0
    }
    assert got == want
    fs.unpersist()


def test_referential_violations_requires_a_catalog(spark):
    fact = spark.createDataFrame([("media://1",)], "media_ref string")
    with pytest.raises(ValueError, match="catalog_key, or catalog_pred"):
        DS.referential_violations(fact, "media_ref")


def test_hll_cardinality_within_5pct(spark):
    fs = flat_spans(spark, SF)
    exact = fs.select(F.countDistinct("media_ref")).collect()[0][0]
    approx = fs.agg(F.approx_count_distinct("media_ref")).collect()[0][0]
    assert abs(approx - exact) / exact <= 0.05

    # mergeable sketch state: per-partition sketches union to the global
    sk = DS.hll_sketches(fs, ["media_ref"], "part_key")
    merged = sk.agg(F.hll_sketch_estimate(
        F.hll_union_agg("media_ref__hll"))).collect()[0][0]
    assert abs(merged - exact) / exact <= 0.05


def test_chi2_flags_planted_drift(spark):
    fs = flat_spans(spark, SF)
    # plant drift: flip every non-text kind to 'image' inside partition 3
    drifted = fs.withColumn(
        "kind",
        F.when((F.col("part_key") == 3) & (F.col("kind") != "text"),
               F.lit("image")).otherwise(F.col("kind")),
    )
    out = DS.chi_square_drift(drifted, "kind", "part_key", threshold=27.0)
    rows = {r["part_key"]: r for r in out.collect()}
    assert rows[3]["drifted"]
    n_flagged = sum(1 for r in rows.values() if r["drifted"])
    assert n_flagged <= 3  # only the planted partition (and near-noise)


def test_chi2_tests_the_null_partition(spark):
    """A NULL partition is a partition of the statistic, as in KS; a NULL
    category counts in the totals but is never a term nor a row."""
    counts = {(1, "text"): 50, (1, "image"): 50, (2, "text"): 50,
              (2, "image"): 50, (None, "text"): 90, (None, "image"): 10,
              (None, None): 5}
    df = spark.createDataFrame(
        [(p, c) for (p, c), n in counts.items() for _ in range(n)],
        "part_key int, kind string")
    total = sum(counts.values())

    def chi2(part):
        n_part = sum(n for (p, _), n in counts.items() if p == part)
        out = 0.0
        for (p, c), n in counts.items():
            if p == part and c is not None:
                e = sum(m for (_, k), m in counts.items()
                        if k == c) / total * n_part
                out += (n - e) ** 2 / e
        return out

    out = DS.chi_square_drift(df, "kind", "part_key", threshold=27.0)
    rows = {r["part_key"]: r for r in out.collect()}
    assert set(rows) == {1, 2, None}
    for p, r in rows.items():
        assert r["chi2"] == pytest.approx(chi2(p))
    assert rows[None]["n_rows"] == 100 and rows[1]["n_rows"] == 100
    assert [p for p, r in rows.items() if r["drifted"]] == [None]


def test_ks_flags_planted_shift(spark):
    fs = flat_spans(spark, SF)
    shifted = fs.withColumn(
        "offset",
        F.when(F.col("part_key") == 5, F.col("offset") * 3 + 500)
        .otherwise(F.col("offset")),
    )
    out = DS.ks_drift(shifted, "offset", "part_key", threshold=0.15)
    rows = {r["part_key"]: r for r in out.collect()}
    assert rows[5]["drifted"]
    assert sum(1 for r in rows.values() if r["drifted"]) <= 3


def test_ks_with_spec_bounds_single_scan_same_result(spark, tmp_path):
    """With spec-provided bounds the KS plan must scan the input ONCE (no
    min/max pre-pass), and agree with the data-derived-bounds variant when
    the bounds match the data."""
    path = str(tmp_path / "fs.parquet")
    flat_spans(spark, SF).write.mode("overwrite").parquet(path)
    fs = spark.read.parquet(path)
    lo, hi = fs.agg(F.min("offset"), F.max("offset")).collect()[0]
    bounded = DS.ks_drift(fs, "offset", "part_key",
                          bounds=(float(lo), float(hi)))
    derived = DS.ks_drift(fs, "offset", "part_key")
    # bounds remove the min/max pre-pass entirely: fewer scans, no extra agg
    n_bounded = bounded._jdf.queryExecution().executedPlan().toString().count(
        "FileScan")
    n_derived = derived._jdf.queryExecution().executedPlan().toString().count(
        "FileScan")
    assert n_bounded < n_derived, (n_bounded, n_derived)
    bounded_d = DS.ks_drift(fs, "offset", "part_key",
                            bounds=(float(lo), float(hi)))
    derived_d = DS.ks_drift(fs, "offset", "part_key")
    a = {(r["part_key"], round(r["ks_stat"], 9)) for r in bounded_d.collect()}
    b = {(r["part_key"], round(r["ks_stat"], 9)) for r in derived_d.collect()}
    assert a == b


def test_exact_duplicates_bounded_state(spark):
    from jsonschema_rs_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(i, "same text") for i in range(50)] + [(99, "unique")],
        "doc_id bigint, text string")
    out = DD.exact_duplicates(df, "doc_id", "text")
    assert "dup_ids" not in out.columns  # default carries bounded agg state
    row = out.collect()[0]
    assert row["n_dups"] == 50 and row["keep_id"] == 0
    sampled = DD.exact_duplicates(df, "doc_id", "text", sample_ids=5).collect()[0]
    assert sampled["dup_ids"] == [0, 1, 2, 3, 4]


def test_column_stats_verdicts(spark):
    fs = flat_spans(spark, SF)
    cons = [
        DS.ColumnStatsConstraint("offset", min_value=0),   # planted negatives
        DS.ColumnStatsConstraint("text", max_null_rate=0.0),  # media spans
        DS.ColumnStatsConstraint("kind", max_distinct=2),  # 4 kinds observed
    ]
    out = DS.column_stats_verdicts(fs, cons, "part_key")
    ids = {r["constraint_id"] for r in out.collect()}
    assert "dataset/offset/min" in ids
    assert "dataset/text/null_rate" in ids
    assert "dataset/kind/max_cardinality" in ids


def test_salted_repartition_spreads_hot_key(spark):
    rows, _ = synth_rows(4000, seed=1)  # hot part 0 (~25% of docs)
    df = spark.createDataFrame(
        [(r["doc_id"], r["part_key"]) for r in rows],
        "doc_id string, part_key int",
    )
    salted = DS.salted_repartition(df, "part_key", salt_buckets=8,
                                   num_partitions=8)
    sizes = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in sizes]
    # hot key alone is ~1000 rows; with salting no physical partition should
    # hold the whole hot key
    assert max(counts) < 700


def test_psi_flags_planted_shift(spark):
    """PSI near 0 for a matching distribution; large for a shifted one."""
    from pyspark.sql import functions as F
    from jsonschema_rs_spark.operators.dataset import psi_drift

    base = spark.range(0, 10_000).select(
        ((F.col("id") % 100) + 0.5).alias("v"))  # uniform over [0,100)
    row = psi_drift(base, "v", [0.1] * 10, (0.0, 100.0)).collect()[0]
    assert row["psi"] < 0.01 and not row["drifted"], row

    shifted = spark.range(0, 10_000).select(
        ((F.col("id") % 50) + 0.5).alias("v"))   # mass only in [0,50)
    row = psi_drift(shifted, "v", [0.1] * 10, (0.0, 100.0)).collect()[0]
    assert row["psi"] > 0.2 and row["drifted"], row

    # single scan, single 1-row agg: no more than one exchange
    plan = psi_drift(base, "v", [0.1] * 10, (0.0, 100.0)
                     )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan


def test_hash_split_deterministic_and_proportional(spark):
    from jsonschema_rs_spark.operators.dataset import hash_split

    df = spark.range(0, 20_000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = hash_split(df, "doc_id", w)
    counts = {r["split"]: r["count"]
              for r in a.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["val"] / 20_000 - 0.1) < 0.01
    # pure function of the id: a second evaluation agrees row-for-row
    b = hash_split(df, "doc_id", w)
    diff = (a.alias("a").join(b.alias("b"), "doc_id")
            .filter("a.split <> b.split").count())
    assert diff == 0
    # no shuffle: one projection
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_psi_empty_input_is_not_drifted(spark):
    from jsonschema_rs_spark.operators.dataset import psi_drift

    empty = spark.range(0).select(F.col("id").cast("double").alias("v"))
    row = psi_drift(empty, "v", [0.1] * 10, (0.0, 100.0)).collect()[0]
    assert row["n_rows"] == 0 and row["psi"] is None and not row["drifted"]
