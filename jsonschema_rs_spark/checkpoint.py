"""Checkpoint manifest + resumable validation runs.

North-rule requirement: a killed job re-validates only unfinished
partitions.  Design:

- The run manifest is a directory of per-partition JSON files (atomic
  rename per partition — object-store friendly, no coordination):
  ``{manifest_dir}/part={K}.json`` with partition id, row/violation
  counters, pass flag, input lineage (snapshot id / source fingerprint),
  and optional mergeable sketch state (base64 HLL binaries from
  ``hll_sketch_agg``) so global cardinality resumes by ``hll_union_agg``
  over saved state instead of rescanning finished partitions.
- ``resume_filter`` prunes finished partitions with a PARTITION-PRUNABLE
  predicate (``~part_col.isin(done)``) — on an Iceberg/parquet table
  partitioned by ``part_col`` the skip happens at the metadata level and
  finished data is never read.
- A run plans once: one stats pass (a grouped aggregate over the pending
  rows) yields every pending key with its doc count and HLL state, and
  ONE ``violations`` plan is built over the pending rows with the part
  key as an extra id column.  Each key's output is that plan filtered to
  the key, so the scan prunes to the key's own files.
- Violations for each partition are written under
  ``{out_dir}/part={K}/`` BEFORE its manifest entry commits, so a crash
  between them re-does (idempotent overwrite) rather than loses work.
"""

from __future__ import annotations

import base64
import json
import os
from dataclasses import asdict, dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class PartitionEntry:
    part_key: int
    docs: int
    valid_docs: int
    violation_rows: int
    passed: bool
    lineage: str
    sketches_b64: dict | None = None
    status: str = "done"


def _entry_path(manifest_dir: str, part_key) -> str:
    return os.path.join(manifest_dir, f"part={part_key}.json")


def write_entry(manifest_dir: str, entry: PartitionEntry) -> None:
    os.makedirs(manifest_dir, exist_ok=True)
    path = _entry_path(manifest_dir, entry.part_key)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(asdict(entry), f)
    os.replace(tmp, path)  # atomic commit of the partition


def finished_partitions(manifest_dir: str) -> dict[int, PartitionEntry]:
    out: dict[int, PartitionEntry] = {}
    if not os.path.isdir(manifest_dir):
        return out
    for name in os.listdir(manifest_dir):
        if not (name.startswith("part=") and name.endswith(".json")):
            continue
        with open(os.path.join(manifest_dir, name)) as f:
            d = json.load(f)
        if d.get("status") == "done":
            e = PartitionEntry(**d)
            out[e.part_key] = e
    return out


def resume_filter(df: DataFrame, part_col: str, manifest_dir: str) -> DataFrame:
    """Prune finished partitions (partition-prunable predicate).

    NULL-safe: ``~isin(done)`` evaluates to NULL for a NULL partition key,
    which a plain filter silently drops — rows with no partition key would
    skip validation on every resume without ever appearing in the manifest.
    They are explicitly retained (they can never be marked done)."""
    done = sorted(k for k in finished_partitions(manifest_dir)
                  if k is not None)
    if not done:
        return df
    return df.filter(~F.col(part_col).isin(done) | F.col(part_col).isNull())


def run_resumable_validation(
    df: DataFrame,
    compiled,
    part_col: str,
    manifest_dir: str,
    out_dir: str,
    id_cols: Sequence[str] = ("doc_id",),
    lineage: str = "",
    sketch_cols: Sequence[str] = (),
) -> dict[int, PartitionEntry]:
    """Validate partition-by-partition with per-partition commit.

    Partition granularity is the CHECKPOINT unit, not the parallelism unit:
    within one part_key Spark still fans out across all cores/executors.
    A run plans once — one stats pass and one ``violations`` build over
    the pending rows — and each pending key then costs a filtered write
    and a read-back of its own output.
    """
    from jsonschema_rs_spark.operators.dataset import hll_sketches
    from jsonschema_rs_spark.plans.validate import violations

    done = finished_partitions(manifest_dir)
    pending = resume_filter(df, part_col, manifest_dir)
    # stats pass: ONE grouped aggregate over the unfinished rows gives
    # every pending key with its doc count and mergeable HLL state
    stats = {r[part_col]: r for r in
             hll_sketches(pending, sketch_cols, part_col).collect()}
    if None in stats:
        raise ValueError(
            f"NULL {part_col!r} partition keys found: a NULL key cannot be "
            "tracked in the resume manifest — repair or bucket them first "
            "(e.g. coalesce(part_col, -1))"
        )
    if not stats:
        return done
    # one build: the part key rides along as an id column so each key's
    # rows are a filter away; on a table partitioned by part_col that
    # filter prunes the scan to the key's own files
    keep_part = part_col in id_cols
    viol_all = violations(
        pending, compiled,
        id_cols=tuple(id_cols) if keep_part else (*id_cols, part_col))
    null_id = F.lit(False)
    for c in id_cols:
        null_id = null_id | F.col(c).isNull()
    spark = df.sparkSession
    for pk, srow in sorted(stats.items()):
        out_path = os.path.join(out_dir, f"part={pk}")
        viol = viol_all.filter(F.col(part_col) == pk)
        if not keep_part:
            viol = viol.drop(part_col)
        viol.write.mode("overwrite").parquet(out_path)
        # the violation counters come from the just-written (violations-
        # sized) parquet instead of another scan of the input; its schema
        # is known, which spares the footer-reading schema inference job
        vrow = (
            spark.read.schema(viol.schema).parquet(out_path)
            .agg(
                F.count(F.lit(1)).alias("vr"),
                F.count_distinct(*[F.col(c) for c in id_cols]).alias("bad"),
                F.count(F.when(null_id, 1)).alias("null_ids"),
            )
            .collect()[0]
        )
        if vrow["null_ids"]:
            # count_distinct skips NULL ids: such a doc would read as valid
            raise ValueError(
                f"partition {pk}: {vrow['null_ids']} violation rows have a "
                f"NULL id in {tuple(id_cols)!r}; their docs cannot be "
                "counted as invalid — repair the ids first"
            )
        docs = srow["__rows"]
        sketches = None
        if sketch_cols:
            sketches = {
                c: base64.b64encode(bytes(srow[f"{c}__hll"])).decode()
                for c in sketch_cols
            }
        entry = PartitionEntry(
            part_key=pk,
            docs=docs,
            valid_docs=docs - (vrow["bad"] or 0),
            violation_rows=vrow["vr"] or 0,
            passed=(vrow["bad"] or 0) == 0,
            lineage=lineage,
            sketches_b64=sketches,
        )
        write_entry(manifest_dir, entry)
        done[pk] = entry
    return done


def merged_cardinality(spark: SparkSession, manifest_dir: str,
                       sketch_col: str) -> int:
    """Global distinct estimate from the saved per-partition HLL state —
    resume-safe: no rescan of finished partitions."""
    entries = finished_partitions(manifest_dir)
    blobs = [
        (base64.b64decode(e.sketches_b64[sketch_col]),)
        for e in entries.values()
        if e.sketches_b64 and sketch_col in e.sketches_b64
    ]
    if not blobs:
        return 0
    df = spark.createDataFrame(blobs, f"{sketch_col} binary")
    return df.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias("d")
    ).collect()[0]["d"]
