"""Dataset-level constraints (SURVEY.md §2.9) — the aggregation layer.

These are the constraints with no 1:1 reference keyword: the reference
validates one document at a time, so cross-document invariants (uniqueness,
null rates, drift) are exactly what the Spark engine adds.  Design notes per
operator, with the 100-TB rationale:

- Column stats (null-rate / min / max / cardinality) all fold into ONE
  ``groupBy(partition).agg(...)`` — a single map-side-combinable shuffle of
  tiny partial-agg state.  At 10^12 rows the shuffle payload is
  O(partitions × constraints), not O(rows).
- Uniqueness is a two-phase count (partial agg → final agg on key).  Only
  keys with count > 1 survive the filter, so the emitted violation set is
  skew-proof; AQE handles residual reducer skew.
- Referential integrity broadcasts the catalog when small (explicit
  ``F.broadcast``) — a map-side anti join, zero shuffle of the fact side.
- Drift (χ² for categorical, KS for numeric) aggregates per-partition
  histograms/quantiles first; the statistic is computed on the tiny
  aggregated frame with Column math (no scipy dependency, no UDF).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# per-partition column stats bounds — one fused agg
# --------------------------------------------------------------------------

@dataclass
class ColumnStatsConstraint:
    column: str
    max_null_rate: float | None = None
    min_value: float | None = None          # observed min must be >= this
    max_value: float | None = None          # observed max must be <= this
    max_distinct: int | None = None         # approx cardinality bound
    min_distinct: int | None = None


def column_stats(
    df: DataFrame,
    constraints: Sequence[ColumnStatsConstraint],
    part_col: str,
) -> DataFrame:
    """One pass: per-partition stats for every constrained column, fused into
    a single aggregate (map-side combine keeps shuffle state tiny)."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("rows")]
    for c in constraints:
        col = F.col(c.column)
        safe = c.column.replace(".", "_")
        aggs.append(F.avg(col.isNull().cast("double")).alias(f"{safe}__null_rate"))
        aggs.append(F.min(col).alias(f"{safe}__min"))
        aggs.append(F.max(col).alias(f"{safe}__max"))
        aggs.append(F.approx_count_distinct(col).alias(f"{safe}__approx_distinct"))
    return df.groupBy(part_col).agg(*aggs)


def column_stats_verdicts(
    df: DataFrame,
    constraints: Sequence[ColumnStatsConstraint],
    part_col: str,
) -> DataFrame:
    """Violation rows ``(part, constraint_id, observed)`` for stats bounds."""
    stats = column_stats(df, constraints, part_col)
    checks: list[Column] = []
    for c in constraints:
        safe = c.column.replace(".", "_")
        if c.max_null_rate is not None:
            checks.append(
                F.when(
                    F.col(f"{safe}__null_rate") > c.max_null_rate,
                    F.struct(
                        F.lit(f"dataset/{c.column}/null_rate").alias("constraint_id"),
                        F.col(f"{safe}__null_rate").cast("string").alias("observed"),
                    ),
                )
            )
        if c.min_value is not None:
            checks.append(
                F.when(
                    F.col(f"{safe}__min") < c.min_value,
                    F.struct(
                        F.lit(f"dataset/{c.column}/min").alias("constraint_id"),
                        F.col(f"{safe}__min").cast("string").alias("observed"),
                    ),
                )
            )
        if c.max_value is not None:
            checks.append(
                F.when(
                    F.col(f"{safe}__max") > c.max_value,
                    F.struct(
                        F.lit(f"dataset/{c.column}/max").alias("constraint_id"),
                        F.col(f"{safe}__max").cast("string").alias("observed"),
                    ),
                )
            )
        if c.max_distinct is not None:
            checks.append(
                F.when(
                    F.col(f"{safe}__approx_distinct") > c.max_distinct,
                    F.struct(
                        F.lit(f"dataset/{c.column}/max_cardinality").alias("constraint_id"),
                        F.col(f"{safe}__approx_distinct").cast("string").alias("observed"),
                    ),
                )
            )
        if c.min_distinct is not None:
            checks.append(
                F.when(
                    F.col(f"{safe}__approx_distinct") < c.min_distinct,
                    F.struct(
                        F.lit(f"dataset/{c.column}/min_cardinality").alias("constraint_id"),
                        F.col(f"{safe}__approx_distinct").cast("string").alias("observed"),
                    ),
                )
            )
    v = F.explode(F.filter(F.array(*checks), lambda x: x.isNotNull())).alias("v")
    return stats.select(F.col(part_col), v).select(
        part_col,
        F.col("v.constraint_id").alias("constraint_id"),
        F.col("v.observed").alias("observed"),
    )


def hll_sketches(df: DataFrame, columns: Sequence[str], part_col: str) -> DataFrame:
    """Row count (``__rows``) and mergeable HLL sketch state (``{c}__hll``)
    per partition, in one grouped aggregate (Spark 3.5+ datasketches).

    The binary sketches go into the checkpoint manifest; on resume they merge
    with ``hll_union_agg`` instead of rescanning finished partitions.  The
    suffixed names keep a sketch of ``part_col`` itself apart from the
    group key."""
    aggs = [F.hll_sketch_agg(F.col(c)).alias(f"{c}__hll") for c in columns]
    return df.groupBy(part_col).agg(F.count(F.lit(1)).alias("__rows"), *aggs)


def merge_hll(sketch_frames: DataFrame, columns: Sequence[str]) -> DataFrame:
    aggs = [
        F.hll_sketch_estimate(F.hll_union_agg(F.col(f"{c}__hll"))).alias(
            f"{c}__distinct"
        )
        for c in columns
    ]
    return sketch_frames.agg(*aggs)


# --------------------------------------------------------------------------
# uniqueness
# --------------------------------------------------------------------------

def uniqueness_violations(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Global duplicate keys: two-phase hash agg (partial count per map task
    → final count per key), then filter count > 1.  Emits
    ``(key..., n_dups)``.  Never a window over the full table."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# referential integrity
# --------------------------------------------------------------------------

def referential_violations(
    fact: DataFrame,
    ref_col: str,
    catalog: DataFrame | None = None,
    catalog_key: str | None = None,
    broadcast_catalog: bool = True,
    catalog_pred=None,
) -> DataFrame:
    """Non-null ``ref_col`` values missing from the catalog.

    Aggregate-first (round 6): the per-key count runs BEFORE the anti-join
    (map-side combinable, so the shuffle carries one (key, count) row per
    map task per key), and the anti-join probes only O(distinct keys) rows
    instead of every fact row.  An anti-join removes whole key groups, so
    count-then-anti-join ≡ anti-join-then-count.  The catalog is broadcast
    when small (dimension-table shape) so the fact side never shuffles
    through the join.

    ``catalog_pred`` (round 6): when the catalog is *defined over the
    fact's own key universe* (``catalog = distinct refs WHERE pred``), pass
    the predicate (Column -> Column) instead of a frame — both join sides
    then derive from the SAME aggregated subtree, so the physical plan
    reuses one exchange and the input is scanned once instead of twice."""
    if catalog_pred is None and (catalog is None or catalog_key is None):
        raise ValueError(
            "referential_violations needs catalog and catalog_key, or "
            "catalog_pred")
    counts = (
        fact.select(F.col(ref_col).alias("media_ref"))
        .filter(F.col("media_ref").isNotNull())
        .groupBy("media_ref")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )
    if catalog_pred is not None:
        # the always-false `n_refs < 0` disjunct references the AGGREGATED
        # column, so the optimizer cannot push the catalog predicate below
        # the aggregate — both join sides then share the identical
        # partial-agg subtree and the planner reuses one exchange (one
        # input scan); without it the pushed-down filter forks the catalog
        # into its own full scan+explode
        cat = counts.filter(
            catalog_pred(F.col("media_ref"))
            | (F.col("n_refs") < F.lit(0))).select("media_ref")
    else:
        cat = catalog.select(F.col(catalog_key).alias("media_ref")).distinct()
    if broadcast_catalog:
        cat = F.broadcast(cat)
    return counts.join(cat, "media_ref", "left_anti")


# --------------------------------------------------------------------------
# distribution drift
# --------------------------------------------------------------------------

def chi_square_drift(
    df: DataFrame,
    cat_col: str,
    part_col: str,
    threshold: float = 27.0,
    materialize_hist: bool = True,
) -> DataFrame:
    """χ² statistic per partition vs the GLOBAL category distribution.

    Plan: one ``groupBy(part, cat).count()`` (map-side combinable), then the
    global distribution derives from the same aggregated frame (no second
    scan), broadcast back onto the per-partition histogram.  The statistic is
    pure Column math; ``threshold`` is the critical value (default ≈ χ²₀.₀₀₁
    for ~8 dof) since p-values need scipy, which stays optional.

    ``materialize_hist=True`` (the default) stores the histogram with
    ``localCheckpoint``, which trades fault tolerance for speed: its blocks
    live only on the executors that computed them, with no lineage left to
    recompute from, so losing one of those executors fails the query
    (``Checkpoint block ... not found``) rather than recomputing it.  Pass
    ``materialize_hist=False`` where executors are expected to go away
    (preemptible or spot capacity); the plan then recomputes the shared
    aggregate through exchange reuse.
    """
    hist = df.groupBy(part_col, cat_col).agg(F.count(F.lit(1)).alias("n"))
    # lazy localCheckpoint, NOT cache() (round 6): the histogram is reused
    # by three consumers within this query, but cache() registers the
    # logical plan in the session CacheManager, where an identical later
    # build would silently reuse materialized results ACROSS runs —
    # checkpoint blocks are keyed by this build's RDD, so every fresh
    # build recomputes from the input.  materialize_hist=False keeps the
    # plan transparent (exchange reuse still dedupes the shared agg) —
    # measured slightly slower, available for plan inspection/debugging.
    if materialize_hist:
        hist = hist.localCheckpoint(eager=False)
    global_hist = hist.groupBy(cat_col).agg(F.sum("n").alias("gn"))
    totals = hist.groupBy(part_col).agg(F.sum("n").alias("pn"))
    gtotal = global_hist.agg(F.sum("gn").alias("gt"))
    joined = (
        hist.join(F.broadcast(global_hist), cat_col)
        .join(F.broadcast(totals), part_col)
        .crossJoin(F.broadcast(gtotal))
        .withColumn("expected", F.col("gn") / F.col("gt") * F.col("pn"))
    )
    return (
        joined.groupBy(part_col)
        .agg(
            F.sum(
                (F.col("n") - F.col("expected")) ** 2 / F.col("expected")
            ).alias("chi2"),
            F.sum("n").alias("n_rows"),
        )
        .withColumn("drifted", F.col("chi2") > threshold)
    )


def ks_drift(
    df: DataFrame,
    num_col: str,
    part_col: str,
    n_bins: int = 64,
    threshold: float = 0.15,
    bounds: tuple[float, float] | None = None,
    materialize_hist: bool = True,
) -> DataFrame:
    """Approximate two-sample KS per partition vs the global distribution.

    Exact KS needs a full sort; at scale we bin the numeric column into
    equi-width buckets (one agg), build per-partition and global CDFs over
    the bucket histogram, and take the max CDF gap.  Bin count bounds the
    approximation error at 1/n_bins.

    ``bounds=(lo, hi)`` bins against KNOWN bounds (e.g. from the x-dataset
    spec section) — the whole statistic is then ONE scan of (part, num).
    Without bounds, lo/hi come from a broadcast 1-row min/max aggregate
    (still lazy — no ``collect`` — but a second narrow scan of num_col;
    at 100 TB pass spec bounds).

    ``materialize_hist`` has the executor-loss tradeoff described in
    :func:`chi_square_drift`: the default ``localCheckpoint`` fails the
    query if an executor holding a histogram block is lost;
    ``materialize_hist=False`` recomputes instead."""
    if bounds is not None:
        lo_c = F.lit(float(bounds[0]))
        hi_c = F.lit(float(bounds[1]))
        base = df.select(F.col(part_col), F.col(num_col))
    else:
        mm = df.agg(
            F.min(num_col).cast("double").alias("__ks_lo"),
            F.max(num_col).cast("double").alias("__ks_hi"),
        )
        base = df.select(F.col(part_col), F.col(num_col)).crossJoin(
            F.broadcast(mm))
        lo_c, hi_c = F.col("__ks_lo"), F.col("__ks_hi")
    width = (hi_c - lo_c) / F.lit(float(n_bins))
    width = F.when(width == 0, F.lit(1.0)).otherwise(width)
    bucket = F.least(
        F.lit(n_bins - 1),
        F.floor((F.col(num_col) - lo_c) / width),
    ).alias("bucket")
    hist = base.select(F.col(part_col), bucket).groupBy(part_col, "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    # lazy localCheckpoint instead of cache(): see chi_square_drift
    if materialize_hist:
        hist = hist.localCheckpoint(eager=False)
    g = hist.groupBy("bucket").agg(F.sum("n").alias("gn"))
    w_p = Window.partitionBy(part_col).orderBy("bucket")
    w_g = Window.orderBy("bucket")
    pc = hist.withColumn(
        "p_cdf",
        F.sum("n").over(w_p)
        / F.sum("n").over(Window.partitionBy(part_col)),
    )
    gc = g.withColumn("g_cdf", F.sum("gn").over(w_g) / F.sum("gn").over(Window.partitionBy()))
    joined = pc.join(F.broadcast(gc.select("bucket", "g_cdf")), "bucket")
    return (
        joined.groupBy(part_col)
        .agg(F.max(F.abs(F.col("p_cdf") - F.col("g_cdf"))).alias("ks_stat"))
        .withColumn("drifted", F.col("ks_stat") > threshold)
    )


# --------------------------------------------------------------------------
# skew handling
# --------------------------------------------------------------------------

def psi_drift(
    df: DataFrame,
    num_col: str,
    ref_shares: Sequence[float],
    bounds: tuple[float, float],
    threshold: float = 0.2,
    eps: float = 1e-4,
) -> DataFrame:
    """Population Stability Index of ``num_col`` vs a REFERENCE binned
    distribution (the standard training-pipeline drift gate: PSI < 0.1
    stable, 0.1-0.2 moderate, > threshold drifted).

    ``ref_shares`` are the expected shares of ``len(ref_shares)`` equi-width
    bins over ``bounds=(lo, hi)`` — both come from the spec / a prior
    profiling run, so the statistic is ONE scan + ONE 1-row aggregate
    (conditional sums per bin, map-side combined; same shape as
    ``chi_square_drift``).  Out-of-range values clamp into the edge bins;
    observed shares are floored at ``eps`` so empty bins stay finite.
    Returns one row: (n_rows, psi, drifted).
    """
    n = len(ref_shares)
    lo, hi = float(bounds[0]), float(bounds[1])
    width = (hi - lo) / n
    b = F.least(
        F.greatest(F.floor((F.col(num_col) - F.lit(lo)) / F.lit(width)),
                   F.lit(0)),
        F.lit(n - 1),
    )
    agg = df.filter(F.col(num_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum((b == i).cast("long")).alias(f"_n{i}") for i in range(n)],
    )
    total = F.col("n_rows").cast("double")
    psi = F.lit(0.0)
    for i, r in enumerate(ref_shares):
        p = F.greatest(F.col(f"_n{i}").cast("double") / total, F.lit(eps))
        rr = max(float(r), eps)
        psi = psi + (p - F.lit(rr)) * F.log(p / F.lit(rr))
    has_data = F.col("n_rows") > 0
    return agg.select(
        "n_rows",
        # empty input: NULL psi, not-drifted — a scheduled gate on an empty
        # partition must not fire a bogus alarm (0/0 bins would otherwise
        # floor every share at eps and report psi ~ n*(eps-r)*ln(eps/r))
        F.when(has_data, F.round(psi, 6)).alias("psi"),
        (has_data & (psi > threshold)).alias("drifted"),
    )


def salted_repartition(df: DataFrame, key_col: str, salt_buckets: int = 32,
                       num_partitions: int | None = None) -> DataFrame:
    """Explicit salting for hot keys (north rule): append a deterministic
    salt derived from the WHOLE row (not the key — the point is to split one
    hot key across reducers) so a hot ``part_key`` spreads over
    ``salt_buckets`` reducers.  Use before heavy per-partition work when AQE
    skew splitting isn't available (e.g. non-join stages)."""
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    salted = df.withColumn("_salt", salt)
    # explicit partition count: AQE coalescing respects user-specified
    # repartition numbers, so the hot key genuinely spreads
    if num_partitions is not None:
        out = salted.repartition(num_partitions, F.col(key_col), F.col("_salt"))
    else:
        out = salted.repartition(F.col(key_col), F.col("_salt"))
    return out.drop("_salt")


def hash_split(df: DataFrame, id_col: str,
               weights: dict[str, float],
               salt: str = "split-v1") -> DataFrame:
    """Deterministic train/val/test splitting: adds a ``split`` column
    assigned by md5(id + salt) bucketed into the cumulative weight ranges.

    Unlike ``randomSplit`` the assignment is a PURE function of the id —
    stable across reruns, executors, partitionings and Spark versions, so a
    resumed or re-derived 100-TB pipeline never leaks rows between splits.
    md5 (not xxhash64) keeps the assignment reproducible outside Spark
    (DuckDB oracle, offline audits).  One projection, no shuffle.
    """
    total = float(sum(weights.values()))
    # uniform in [0, 1): first 12 hex chars of md5(id||salt) / 16^12
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"),
                                   F.lit(salt))), 1, 12),
        16, 10).cast("double") / F.lit(float(16 ** 12))
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = h < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)
