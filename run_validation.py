"""spark-submit entry point (the analogue of jsonschema-cli,
``crates/jsonschema-cli/src/main.rs:27-67``).

    spark-submit --py-files dist/jsonschema_rs_spark.zip run_validation.py \\
        --spec spec.json --table /data/docs --format parquet \\
        --part-col part_key --out /out/violations --manifest /out/manifest \\
        --mode violations

Formats: ``iceberg`` uses ``spark.read.format("iceberg").load(table)`` and
benefits from metadata-level partition pruning on resume; ``parquet`` is the
fallback used in this container (no Iceberg jars baked in).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--spec", required=True, help="constraint spec JSON file")
    p.add_argument("--table", required=True, help="table path / identifier")
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "iceberg"])
    p.add_argument("--mode", default="violations",
                   choices=["violations", "verdicts", "rollup", "resumable",
                            "basic"])
    p.add_argument("--part-col", default="part_key")
    p.add_argument("--id-cols", default="doc_id")
    p.add_argument("--json-col",
                   help="treat this column as RAW JSON text and validate "
                        "through the variant-native path (arbitrary JSON, "
                        "no pre-typed table; modes: violations/verdicts)")
    p.add_argument("--out", help="output dir (violation rows parquet)")
    p.add_argument("--manifest", help="checkpoint manifest dir (resumable)")
    p.add_argument("--sketch-cols", default="",
                   help="comma list of columns to sketch into the manifest")
    p.add_argument("--include-annotations", action="store_true",
                   help="basic mode: emit valid=true units for PASSING "
                        "keywords too (O(docs x spans x keywords) — "
                        "debugging-sized slices only)")
    args = p.parse_args(argv)
    if args.mode == "resumable" and not (args.manifest and args.out):
        p.error("--mode resumable requires --manifest and --out")

    from pyspark.sql import SparkSession

    from jsonschema_rs_spark.compiler import compile_spec
    from jsonschema_rs_spark.plans.validate import (
        basic_output,
        partition_rollup,
        verdicts,
        violations,
    )
    from jsonschema_rs_spark import checkpoint as CP
    from jsonschema_rs_spark.session import ENGINE_CONF

    spark = (SparkSession.builder.appName("jsonschema-rs-spark")
             .config(map=ENGINE_CONF).getOrCreate())

    with open(args.spec) as f:
        spec = json.load(f)
    if args.format == "iceberg":
        df = spark.read.format("iceberg").load(args.table)
    else:
        df = spark.read.parquet(args.table)
    id_cols = tuple(args.id_cols.split(","))

    if args.json_col:
        # arbitrary-JSON path (reference validator.rs:29-33): raw JSON
        # strings through the variant lowering — no typed compile
        from jsonschema_rs_spark.json_ingest import validate_json_strings

        if args.mode == "violations":
            out = validate_json_strings(df, args.json_col, spec,
                                        id_cols=id_cols)
            if args.out:
                out.write.mode("overwrite").parquet(args.out)
            else:
                for row in out.limit(100).collect():
                    print(json.dumps(row.asDict()))
            return 0
        if args.mode == "verdicts":
            out = validate_json_strings(df, args.json_col, spec,
                                        id_cols=id_cols, mode="verdicts")
            total = out.count()
            valid = out.filter("valid").count()
            print(json.dumps(
                {"docs": total, "valid": valid,
                 "result": "VALID" if valid == total else "INVALID"}))
            return 0 if valid == total else 1
        p.error("--json-col supports --mode violations|verdicts")

    compiled = compile_spec(spec, df.schema)

    if args.mode == "violations":
        out = violations(df, compiled, id_cols=id_cols)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
        else:
            for row in out.limit(100).collect():
                print(json.dumps(row.asDict()))
    elif args.mode == "verdicts":
        out = verdicts(df, compiled, id_cols=id_cols)
        total = out.count()
        valid = out.filter("valid").count()
        print(json.dumps({"docs": total, "valid": valid,
                          "result": "VALID" if valid == total else "INVALID"}))
        return 0 if valid == total else 1
    elif args.mode == "basic":
        # per-error units with JSON-Pointer locations + typed kinds — the
        # CLI analogue of the reference's error listing (main.rs:49-61);
        # --include-annotations adds the passing-keyword units
        out = basic_output(df, compiled, id_cols=id_cols,
                           include_annotations=args.include_annotations)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
        else:
            for row in out.limit(100).collect():
                print(json.dumps(row.asDict()))
    elif args.mode == "rollup":
        out = partition_rollup(df, compiled, args.part_col, id_cols=id_cols)
        for row in out.collect():
            print(json.dumps(row.asDict()))
    else:  # resumable
        sketch_cols = tuple(c for c in args.sketch_cols.split(",") if c)
        done = CP.run_resumable_validation(
            df, compiled, args.part_col, args.manifest, args.out,
            id_cols=id_cols, lineage=args.table, sketch_cols=sketch_cols)
        print(json.dumps({pk: e.violation_rows for pk, e in done.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
