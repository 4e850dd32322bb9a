"""Resumability (north rule): kill after K partitions, resume, assert only
unfinished partitions are revalidated and the final outputs are identical."""

import os

import pytest
from pyspark.sql import functions as F

from jsonschema_rs_spark import checkpoint as CP
from jsonschema_rs_spark.compiler import compile_spec
from jsonschema_rs_spark.flagship import FLAGSHIP_SPEC
from jsonschema_rs_spark.sources.spans import derive_spans

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "manifest"), str(tmp_path / "out")


def _read_all_violations(spark, out_dir):
    return spark.read.parquet(f"{out_dir}/part=*")


def test_resume_revalidates_only_unfinished(spark, dirs, tmp_path):
    manifest_dir, out_dir = dirs
    df = derive_spans(spark, SF).filter(F.col("part_key") < 6).cache()
    compiled = compile_spec(FLAGSHIP_SPEC, df.schema)

    # first run "killed" after 3 partitions
    class Killed(Exception):
        pass

    orig_write = CP.write_entry
    count = {"n": 0}

    def killing_write(mdir, entry):
        if count["n"] >= 3:
            raise Killed()
        orig_write(mdir, entry)
        count["n"] += 1

    CP.write_entry = killing_write
    try:
        with pytest.raises(Killed):
            CP.run_resumable_validation(
                df, compiled, "part_key", manifest_dir, out_dir,
                lineage="run1", sketch_cols=("doc_id",))
    finally:
        CP.write_entry = orig_write

    done_after_kill = CP.finished_partitions(manifest_dir)
    assert len(done_after_kill) == 3

    # resume: prune finished partitions at the source
    pruned = CP.resume_filter(df, "part_key", manifest_dir)
    remaining = {r[0] for r in pruned.select("part_key").distinct().collect()}
    assert remaining == {3, 4, 5} - set()  # whatever wasn't committed
    assert not (remaining & set(done_after_kill))

    done = CP.run_resumable_validation(
        df, compiled, "part_key", manifest_dir, out_dir,
        lineage="run2", sketch_cols=("doc_id",))
    assert len(done) == 6
    # partitions finished before the kill kept their original lineage —
    # proof they were not re-run
    lineages = {pk: e.lineage for pk, e in done.items()}
    assert sorted(lineages.values()).count("run1") == 3
    assert sorted(lineages.values()).count("run2") == 3

    # final outputs identical to a clean single run
    resumed = _read_all_violations(spark, out_dir)
    clean_manifest, clean_out = str(tmp_path / "m2"), str(tmp_path / "o2")
    CP.run_resumable_validation(
        df, compiled, "part_key", clean_manifest, clean_out, lineage="clean")
    clean = _read_all_violations(spark, clean_out)
    assert sorted(map(tuple, resumed.collect())) == sorted(
        map(tuple, clean.collect()))

    # mergeable sketch state survives resume: union of saved HLLs ≈ exact
    est = CP.merged_cardinality(spark, manifest_dir, "doc_id")
    exact = df.select(F.countDistinct("doc_id")).collect()[0][0]
    assert abs(est - exact) / exact <= 0.05
    df.unpersist()


def test_resume_filter_keeps_null_partition_keys(spark, dirs):
    """ADVICE round-1: ~isin(done) is NULL for NULL keys and a plain filter
    silently DROPS them on resume — never-validated rows would be skipped
    forever.  NULL-keyed rows must survive the prune."""
    manifest_dir, _ = dirs
    CP.write_entry(manifest_dir, CP.PartitionEntry(
        part_key=0, docs=1, valid_docs=1, violation_rows=0, passed=True,
        lineage="x"))
    df = spark.createDataFrame(
        [("a", 0), ("b", 1), ("c", None)], "doc_id string, part_key int")
    kept = {r["doc_id"] for r in
            CP.resume_filter(df, "part_key", manifest_dir).collect()}
    assert kept == {"b", "c"}


def test_resumable_run_rejects_null_partition_keys(spark, dirs):
    manifest_dir, out_dir = dirs
    df = spark.createDataFrame(
        [("a", None)], "doc_id string, part_key int")
    compiled = compile_spec({"properties": {"doc_id": {"minLength": 1}}},
                            df.schema)
    with pytest.raises(ValueError, match="NULL"):
        CP.run_resumable_validation(df, compiled, "part_key", manifest_dir,
                                    out_dir)


_NAME_SPEC = {"properties": {"name": {"minLength": 1}}}


def _name_table(spark, path):
    """12 docs over part keys 0-2, one empty (invalid) name per key,
    written partitioned by ``part_key``."""
    rows = [(f"d{i}", "" if i % 4 == 0 else "ok", i % 3) for i in range(12)]
    spark.createDataFrame(
        rows, "doc_id string, name string, part_key int",
    ).write.partitionBy("part_key").parquet(path)
    return spark.read.parquet(path)


def _count_builds(monkeypatch):
    """Count ``violations`` plan builds from here on."""
    from jsonschema_rs_spark.plans import validate as V

    builds = []
    real = V.violations

    def counting(*a, **k):
        builds.append(1)
        return real(*a, **k)

    monkeypatch.setattr(V, "violations", counting)
    return builds


def test_resume_builds_violations_once_per_run(spark, dirs, tmp_path,
                                               monkeypatch):
    manifest_dir, out_dir = dirs
    df = _name_table(spark, str(tmp_path / "table"))
    compiled = compile_spec(_NAME_SPEC, df.schema)
    builds = _count_builds(monkeypatch)
    done = CP.run_resumable_validation(df, compiled, "part_key",
                                       manifest_dir, out_dir)
    assert len(builds) == 1
    assert {k: (e.docs, e.valid_docs, e.violation_rows, e.passed)
            for k, e in done.items()} == {k: (4, 3, 1, False)
                                          for k in range(3)}
    # every key done: nothing is planned
    again = CP.run_resumable_validation(df, compiled, "part_key",
                                        manifest_dir, out_dir)
    assert len(builds) == 1 and again == done


def test_resume_write_scans_only_its_partition(spark, dirs, tmp_path,
                                               monkeypatch):
    """Each key's write is the one plan filtered to the key: its single
    file scan prunes to the key's directory."""
    import re

    from pyspark.sql import DataFrameWriter

    manifest_dir, out_dir = dirs
    table = str(tmp_path / "table")
    derive_spans(spark, SF).filter(F.col("part_key") < 4).write \
        .partitionBy("part_key").parquet(table)
    df = spark.read.parquet(table)
    compiled = compile_spec(FLAGSHIP_SPEC, df.schema)
    CP.write_entry(manifest_dir, CP.PartitionEntry(
        part_key=0, docs=1, valid_docs=1, violation_rows=0, passed=True,
        lineage="x"))

    plans = {}
    real = DataFrameWriter.parquet

    def recording(self, path, *a, **k):
        plans[os.path.basename(path)] = (
            self._df._jdf.queryExecution().executedPlan().toString())
        return real(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    CP.run_resumable_validation(df, compiled, "part_key", manifest_dir,
                                out_dir)
    assert sorted(plans) == ["part=1", "part=2", "part=3"]
    for name, plan in plans.items():
        k = name.split("=")[1]
        scans = re.findall(r"FileScan parquet.*", plan)
        assert len(scans) == 1, plan
        filters = re.search(r"PartitionFilters: \[(.*?)\]", scans[0])
        assert re.search(rf"\(part_key#\d+ = {k}\)", filters.group(1)), plan


def test_resume_keeps_part_key_named_in_id_cols(spark, dirs, tmp_path):
    manifest_dir, out_dir = dirs
    df = _name_table(spark, str(tmp_path / "table"))
    compiled = compile_spec(_NAME_SPEC, df.schema)
    done = CP.run_resumable_validation(
        df, compiled, "part_key", manifest_dir, out_dir,
        id_cols=("doc_id", "part_key"))
    out = spark.read.parquet(os.path.join(out_dir, "part=1"))
    assert out.columns == ["doc_id", "part_key", "constraint_id",
                           "span_index", "observed"]
    assert {r["part_key"] for r in out.collect()} == {1}
    assert all((e.docs, e.valid_docs) == (4, 3) for e in done.values())


def test_resume_sketches_the_part_key_itself(spark, dirs, tmp_path):
    manifest_dir, out_dir = dirs
    df = _name_table(spark, str(tmp_path / "table"))
    compiled = compile_spec(_NAME_SPEC, df.schema)
    CP.run_resumable_validation(df, compiled, "part_key", manifest_dir,
                                out_dir, sketch_cols=("part_key", "doc_id"))
    assert CP.merged_cardinality(spark, manifest_dir, "part_key") == 3
    assert CP.merged_cardinality(spark, manifest_dir, "doc_id") == 12


def test_resumable_run_rejects_violating_null_ids(spark, dirs):
    """``count_distinct`` skips NULL ids, so a violating doc with a NULL
    id would read as valid: the run fails before the entry commits."""
    manifest_dir, out_dir = dirs
    ddl = "doc_id string, name string, part_key int"
    compiled = compile_spec(_NAME_SPEC, spark.createDataFrame([], ddl).schema)
    bad = spark.createDataFrame([(None, "", 0), ("b", "ok", 0)], ddl)
    with pytest.raises(ValueError, match="NULL id"):
        CP.run_resumable_validation(bad, compiled, "part_key", manifest_dir,
                                    out_dir)
    assert CP.finished_partitions(manifest_dir) == {}
    # a valid doc with a NULL id still counts
    ok = spark.createDataFrame([(None, "ok", 0), ("b", "", 0)], ddl)
    e = CP.run_resumable_validation(ok, compiled, "part_key", manifest_dir,
                                    out_dir)[0]
    assert (e.docs, e.valid_docs, e.violation_rows, e.passed) == (
        2, 1, 1, False)


def test_cli_resumable_rerun_does_no_rework(spark, tmp_path, monkeypatch,
                                            capsys):
    import json

    import run_validation

    table = str(tmp_path / "table")
    _name_table(spark, table)
    spec = tmp_path / "spec.json"
    spec.write_text(json.dumps(_NAME_SPEC))
    argv = ["--spec", str(spec), "--table", table, "--mode", "resumable",
            "--manifest", str(tmp_path / "manifest"),
            "--out", str(tmp_path / "out")]
    assert run_validation.main(argv) == 0
    first = capsys.readouterr().out
    assert json.loads(first) == {"0": 1, "1": 1, "2": 1}
    builds = _count_builds(monkeypatch)
    assert run_validation.main(argv) == 0
    assert json.loads(capsys.readouterr().out) == json.loads(first)
    assert not builds
