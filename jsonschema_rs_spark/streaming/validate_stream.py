"""Structured-Streaming validation.

The same compiled spec drives a streaming plan unchanged — the validation
projection is stateless per row, so it composes with ``readStream`` and any
sink.  Dataset-level constraints that need state (e.g. rolling verdict
counts per window) use watermarked windowed aggregation.

Reference analogue: none — jsonschema-rs validates in-memory values one at
a time; continuous validation of an arriving document stream is the
streaming generalization of the same spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_rs_spark.compiler import CompiledSpec
from jsonschema_rs_spark.plans.validate import validation_frame


def stream_spans(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream of span-table parquet (one file per micro-batch
    in tests; any streaming source with the same schema works)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def stream_violations(stream: DataFrame, compiled: CompiledSpec,
                      id_cols=("doc_id",)) -> DataFrame:
    """Per-record violation rows as a streaming DataFrame (append mode)."""
    vf = validation_frame(stream, compiled, id_cols=id_cols, mode="both")
    return vf.select(*id_cols, F.col("valid"), F.explode_outer("violations").alias("v")).select(
        *id_cols,
        "valid",
        F.col("v.constraint_id").alias("constraint_id"),
        F.col("v.span_index").alias("span_index"),
        F.col("v.observed").alias("observed"),
    )


def windowed_chi2_drift(
    stream: DataFrame,
    cat_col: str,
    ts_col: str,
    ref_dist: dict[str, float],
    window: str = "1 minute",
    watermark: str = "2 minutes",
    threshold: float = 27.0,
) -> DataFrame:
    """Per-window χ² drift vs a REFERENCE categorical distribution.

    A stream cannot see the global distribution, so the reference comes from
    the spec (e.g. the x-dataset section's expected kind mix) as driver
    literals.  Structured Streaming forbids chained stateful aggregations,
    so the per-category histogram folds into ONE windowed agg (one
    conditional-sum column per known category — categories are static in the
    spec); the statistic is then plain Column math.  Rows whose category is
    outside the reference are counted separately (``n_other``).  State is
    bounded by open windows × 1 row."""
    cats = list(ref_dist)
    total_p = sum(ref_dist.values())
    hist = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            *[
                F.sum((F.col(cat_col) == c).cast("long")).alias(f"_n{i}")
                for i, c in enumerate(cats)
            ],
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    known = F.lit(0)
    for i in range(len(cats)):
        known = known + F.coalesce(F.col(f"_n{i}"), F.lit(0))
    chi2 = F.lit(0.0)
    for i, c in enumerate(cats):
        expected = F.lit(ref_dist[c] / total_p) * known
        n_i = F.coalesce(F.col(f"_n{i}"), F.lit(0)).cast("double")
        chi2 = chi2 + (n_i - expected) ** 2 / expected
    return hist.select(
        "window",
        F.col("n_rows"),
        (F.col("n_rows") - known).alias("n_other"),
        F.round(chi2, 4).alias("chi2"),
        (chi2 > threshold).alias("drifted"),
    )


def stream_referential_violations(
    stream: DataFrame,
    catalog: DataFrame,
    fk_col: str,
    pk_col: str,
    id_cols=("doc_id",),
) -> DataFrame:
    """Streaming referential integrity: rows whose ``fk_col`` (e.g. a span's
    ``media_ref``) has no match in a STATIC catalog dimension.

    Stream-static left joins are stateless in Structured Streaming — the
    static side is re-broadcast per micro-batch, so no join state
    accumulates and the catalog can be refreshed between restarts.  The
    catalog is projected to its key and broadcast explicitly (same plan the
    batch ``referential_violations`` uses: the fact side never shuffles).
    NULL fks (non-media rows) pass vacuously, like the batch operator."""
    keys = F.broadcast(
        catalog.select(F.col(pk_col).alias("_pk")).distinct())
    joined = stream.join(
        keys, stream[fk_col] == F.col("_pk"), "left")
    return (
        joined.filter(F.col(fk_col).isNotNull() & F.col("_pk").isNull())
        .select(*id_cols, F.col(fk_col).alias("dangling_ref"))
    )


def windowed_psi_drift(
    stream: DataFrame,
    num_col: str,
    ts_col: str,
    ref_shares: list[float],
    bounds: tuple[float, float],
    window: str = "1 minute",
    watermark: str = "2 minutes",
    threshold: float = 0.2,
    eps: float = 1e-4,
) -> DataFrame:
    """Per-window Population Stability Index vs spec reference bin shares —
    the streaming form of ``operators.dataset.psi_drift``.  Same bounded
    shape as ``windowed_chi2_drift``: the per-bin histogram folds into ONE
    watermarked windowed agg (bins are static in the spec) and the
    statistic is plain Column math; state is open windows x 1 row."""
    n = len(ref_shares)
    lo, hi = float(bounds[0]), float(bounds[1])
    width = (hi - lo) / n
    b = F.least(
        F.greatest(F.floor((F.col(num_col) - F.lit(lo)) / F.lit(width)),
                   F.lit(0)),
        F.lit(n - 1),
    )
    hist = (
        stream.filter(F.col(num_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum((b == i).cast("long")).alias(f"_n{i}") for i in range(n)],
        )
    )
    total = F.col("n_rows").cast("double")
    psi = F.lit(0.0)
    for i, r in enumerate(ref_shares):
        p = F.greatest(F.coalesce(F.col(f"_n{i}"), F.lit(0)).cast("double")
                       / total, F.lit(eps))
        rr = max(float(r), eps)
        psi = psi + (p - F.lit(rr)) * F.log(p / F.lit(rr))
    has_data = F.col("n_rows") > 0
    return hist.select(
        "window",
        "n_rows",
        F.when(has_data, F.round(psi, 4)).alias("psi"),
        (has_data & (psi > threshold)).alias("drifted"),
    )
