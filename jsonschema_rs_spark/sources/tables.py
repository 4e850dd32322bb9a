"""Table loading — Iceberg first, parquet fallback.

The production target is an Iceberg table of interleaved documents: Iceberg
gives metadata-level partition pruning (the resume filter in
``checkpoint.resume_filter`` then skips finished partitions without reading
them) and snapshot ids for the manifest's lineage field.  This container has
no Iceberg jars, so ``load_table`` degrades to parquet with the same
interface; on a real cluster add the iceberg-spark-runtime package and a
catalog config.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, table: str,
               fmt: str = "auto") -> DataFrame:
    """Load ``table`` (an Iceberg identifier or a parquet path)."""
    if fmt == "iceberg" or (fmt == "auto" and not table.startswith("/")):
        try:
            return spark.read.format("iceberg").load(table)
        except Exception:
            if fmt == "iceberg":
                raise
    return spark.read.parquet(table)
