"""Dataset-level constraints (SURVEY.md §2.9) — the aggregation layer.

These are the constraints with no 1:1 reference keyword: the reference
validates one document at a time, so cross-document invariants (uniqueness,
null rates, drift) are exactly what the Spark engine adds.  Design notes per
operator, with the 100-TB rationale:

- Column stats (null-rate / min / max / cardinality) all fold into ONE
  ``GROUP BY partition`` aggregate — a single map-side-combinable shuffle
  of tiny partial-agg state, holding only the aggregates a declared bound
  reads.  At 10^12 rows the shuffle payload is O(partitions × bounds),
  not O(rows).
- Uniqueness is a two-phase count (partial agg → final agg on key).  Only
  keys with count > 1 survive the filter, so the emitted violation set is
  skew-proof; AQE handles residual reducer skew.
- Referential integrity broadcasts the catalog when small (a
  ``BROADCAST`` hint) — a map-side anti join, zero shuffle of the fact
  side.
- Drift (χ² for categorical, KS for numeric) aggregates ONE per-partition
  histogram; every total and cumulative sum the statistic needs is a
  window function over that histogram, so nothing joins it back to itself
  and nothing is materialised.  The statistic is SQL arithmetic (no scipy
  dependency, no UDF).

Each check is a SQL fragment added to a :class:`Statement`, which runs as
one ``spark.sql`` call: the frames are bound as ``{name}`` format
arguments, every bound, threshold and constraint id as a named ``:param``.
``dataset_spec.validate_dataset`` composes the fragments of a whole
``x-dataset`` section into one statement; the functions below run one
fragment each.  A statement is analysed once on the JVM side, where a
DataFrame chain pays a py4j round trip and an analysis per call.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# one SQL statement per gate
# --------------------------------------------------------------------------

def ident(name: str) -> str:
    """``name`` as ONE backticked SQL identifier (inner backticks doubled;
    braces doubled for the ``str.format`` pass that ``spark.sql`` makes
    over text with frame arguments)."""
    quoted = "`" + name.replace("`", "``") + "`"
    return quoted.replace("{", "{{").replace("}", "}}")


def ref(name: str) -> str:
    """A column reference: each dotted segment quoted on its own, so
    ``a.b`` reaches the nested field ``b`` of ``a`` as ``F.col`` does."""
    return ".".join(ident(seg) for seg in name.split("."))


class Statement:
    """One ``spark.sql`` statement under construction: CTEs over frame
    arguments, with every value bound as a named parameter."""

    def __init__(self) -> None:
        self.ctes: list[str] = []
        self.args: dict[str, Any] = {}
        self.frames: dict[str, DataFrame] = {}

    def frame(self, df: DataFrame) -> str:
        """The SQL name of ``df``; ``spark.sql`` registers one temporary
        view per distinct frame object."""
        k = f"f{len(self.frames)}"
        self.frames[k] = df
        return "{" + k + "}"

    def arg(self, value: Any) -> str:
        """A named parameter marker bound to ``value``."""
        k = f"a{len(self.args)}"
        self.args[k] = value
        return ":" + k

    def cte(self, body: str) -> str:
        """Add ``body`` as a CTE; returns its name."""
        name = f"q{len(self.ctes)}"
        self.ctes.append(f"{name} AS ({body})")
        return name

    def run(self, select: str) -> DataFrame:
        spark = next(iter(self.frames.values())).sparkSession
        with_ = f"WITH {', '.join(self.ctes)}\n" if self.ctes else ""
        return spark.sql(with_ + select, args=self.args, **self.frames)


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


# (bound attribute, statistic, comparison that violates, id suffix)
_STATS_BOUNDS = (
    ("max_null_rate", "null_rate", ">", "null_rate"),
    ("min_value", "min", "<", "min"),
    ("max_value", "max", ">", "max"),
    ("max_distinct", "distinct", ">", "max_cardinality"),
    ("min_distinct", "distinct", "<", "min_cardinality"),
)
_STATS_SQL = {
    "null_rate": "avg(CAST({c} IS NULL AS DOUBLE))",
    "min": "min({c})",
    "max": "max({c})",
    "distinct": "approx_count_distinct({c})",
}


def stats_sql(st: Statement, src: str,
              constraints: Sequence[ColumnStatsConstraint],
              part_col: str) -> str:
    """CTE of stats-bound violations ``(p, constraint_id, observed)``.

    One grouped aggregate computes each statistic that a declared bound
    reads, once per column, and nothing else; the violated bounds of a
    partition come out of one ``explode`` of the per-bound checks."""
    aggs: dict[tuple[str, str], str] = {}
    checks = []
    for c in constraints:
        for attr, stat, op, suffix in _STATS_BOUNDS:
            bound = getattr(c, attr)
            if bound is None:
                continue
            s = aggs.setdefault((c.column, stat), f"s{len(aggs)}")
            checks.append(
                f"CASE WHEN {s} {op} {st.arg(bound)} THEN named_struct("
                f"'constraint_id', {st.arg(f'dataset/{c.column}/{suffix}')}, "
                f"'observed', CAST({s} AS STRING)) END")
    cols = ", ".join(_STATS_SQL[stat].format(c=ref(col)) + f" AS {s}"
                     for (col, stat), s in aggs.items())
    stats = st.cte(f"SELECT {ref(part_col)} AS p, {cols} FROM {src} "
                   f"GROUP BY {ref(part_col)}")
    return st.cte(
        "SELECT p, v.constraint_id, v.observed FROM (SELECT p, explode("
        f"filter(array({', '.join(checks)}), x -> x IS NOT NULL)) AS v "
        f"FROM {stats})")


def column_stats_verdicts(
    df: DataFrame,
    constraints: Sequence[ColumnStatsConstraint],
    part_col: str,
) -> DataFrame:
    """Violation rows ``(part, constraint_id, observed)`` for stats bounds."""
    st = Statement()
    v = stats_sql(st, st.frame(df), constraints, part_col)
    return st.run(f"SELECT p AS {ident(part_col)}, constraint_id, observed "
                  f"FROM {v}")


def hll_sketches(df: DataFrame, columns: Sequence[str], part_col: str) -> DataFrame:
    """Row count (``__rows``) and mergeable HLL sketch state (``{c}__hll``)
    per partition, in one grouped aggregate (Spark 3.5+ datasketches).

    The binary sketches go into the checkpoint manifest; on resume they merge
    with ``hll_union_agg`` instead of rescanning finished partitions.  The
    suffixed names keep a sketch of ``part_col`` itself apart from the
    group key."""
    aggs = [F.hll_sketch_agg(F.col(c)).alias(f"{c}__hll") for c in columns]
    return df.groupBy(part_col).agg(F.count(F.lit(1)).alias("__rows"), *aggs)


# --------------------------------------------------------------------------
# uniqueness
# --------------------------------------------------------------------------

def unique_sql(st: Statement, src: str, key_cols: Sequence[str]) -> str:
    """CTE of duplicate keys ``(key..., n_dups)``, each key column named
    by its full name.  Only rows whose key columns are all non-NULL take
    part, as in SQL ``UNIQUE``: a NULL key equals no other key."""
    keys = ", ".join(ref(k) for k in key_cols)
    named = ", ".join(f"{ref(k)} AS {ident(k)}" for k in key_cols)
    non_null = " AND ".join(f"{ref(k)} IS NOT NULL" for k in key_cols)
    return st.cte(f"SELECT {named}, count(1) AS n_dups FROM {src} "
                  f"WHERE {non_null} GROUP BY {keys} HAVING count(1) > 1")


def uniqueness_violations(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Global duplicate keys: two-phase hash agg (partial count per map task
    → final count per key), then filter count > 1.  Emits
    ``(key..., n_dups)``; rows with a NULL key column are not counted.
    Never a window over the full table."""
    st = Statement()
    return st.run(f"SELECT * FROM {unique_sql(st, st.frame(df), key_cols)}")


# --------------------------------------------------------------------------
# referential integrity
# --------------------------------------------------------------------------

def ref_counts_sql(st: Statement, src: str, ref_col: str) -> str:
    """CTE ``(media_ref, n_refs)``: the non-null values of ``ref_col`` with
    their row counts."""
    return st.cte(f"SELECT {ref(ref_col)} AS media_ref, count(1) AS n_refs "
                  f"FROM {src} WHERE {ref(ref_col)} IS NOT NULL "
                  f"GROUP BY {ref(ref_col)}")


def referential_sql(st: Statement, src: str, ref_col: str, catalog: str,
                    catalog_key: str, broadcast_catalog: bool = True) -> str:
    """CTE ``(media_ref, n_refs)`` of the counted values of ``ref_col``
    that no ``catalog_key`` of ``catalog`` matches."""
    counts = ref_counts_sql(st, src, ref_col)
    hint = "/*+ BROADCAST(k) */ " if broadcast_catalog else ""
    return st.cte(
        f"SELECT {hint}c.media_ref, c.n_refs FROM {counts} c LEFT ANTI JOIN "
        f"(SELECT DISTINCT {ref(catalog_key)} AS media_ref FROM {catalog}) k "
        "ON c.media_ref = k.media_ref")


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
    st = Statement()
    src = st.frame(fact)
    if catalog_pred is None:
        dangling = referential_sql(st, src, ref_col, st.frame(catalog),
                                   catalog_key, broadcast_catalog)
        return st.run(f"SELECT * FROM {dangling}")
    counts = st.run(f"SELECT * FROM {ref_counts_sql(st, src, ref_col)}")
    # the always-false `n_refs < 0` disjunct references the AGGREGATED
    # column, so the optimizer cannot push the catalog predicate below
    # the aggregate — both join sides then share the identical
    # partial-agg subtree and the planner reuses one exchange (one
    # input scan); without it the pushed-down filter forks the catalog
    # into its own full scan+explode
    cat = counts.filter(
        catalog_pred(F.col("media_ref"))
        | (F.col("n_refs") < F.lit(0))).select("media_ref")
    if broadcast_catalog:
        cat = F.broadcast(cat)
    return counts.join(cat, "media_ref", "left_anti")


# --------------------------------------------------------------------------
# distribution drift
# --------------------------------------------------------------------------

def chi2_sql(st: Statement, src: str, cat_col: str, part_col: str,
             threshold: float) -> str:
    """CTE ``(p, chi2, n_rows, drifted)``, one row per partition (NULL
    included, as in :func:`ks_sql`).

    The partition × category histogram is the only aggregate over
    ``src``; the category totals, partition totals and grand total are
    window sums over it.  A NULL category counts in those totals but is
    never a term of the statistic (nor of ``n_rows``)."""
    hist = st.cte(f"SELECT {ref(part_col)} AS p, {ref(cat_col)} AS c, "
                  f"count(1) AS n FROM {src} "
                  f"GROUP BY {ref(part_col)}, {ref(cat_col)}")
    expected = st.cte(
        "SELECT p, c, n, sum(n) OVER (PARTITION BY c) / sum(n) OVER () "
        f"* sum(n) OVER (PARTITION BY p) AS e FROM {hist}")
    chi2 = st.cte(f"SELECT p, sum(power(n - e, 2) / e) AS chi2, "
                  f"sum(n) AS n_rows FROM {expected} WHERE c IS NOT NULL "
                  "GROUP BY p")
    return st.cte(f"SELECT p, chi2, n_rows, chi2 > {st.arg(threshold)} "
                  f"AS drifted FROM {chi2}")


def chi_square_drift(
    df: DataFrame,
    cat_col: str,
    part_col: str,
    threshold: float = 27.0,
) -> DataFrame:
    """χ² statistic per partition vs the GLOBAL category distribution.

    Plan: one ``GROUP BY part, cat`` count (map-side combinable); the
    global distribution and the partition totals are window sums over that
    same histogram (no second scan, no self-join, nothing materialised).
    The statistic is SQL arithmetic; ``threshold`` is the critical value
    (default ≈ χ²₀.₀₀₁ for ~8 dof) since p-values need scipy, which stays
    optional.  Emits ``(part, chi2, n_rows, drifted)``.
    """
    st = Statement()
    out = chi2_sql(st, st.frame(df), cat_col, part_col, threshold)
    return st.run(f"SELECT p AS {ident(part_col)}, chi2, n_rows, drifted "
                  f"FROM {out}")


def ks_sql(st: Statement, src: str, num_col: str, part_col: str,
           n_bins: int, threshold: float,
           bounds: tuple[float, float] | None = None) -> str:
    """CTE ``(p, ks_stat, drifted)``, one row per partition (NULL
    included).

    One histogram of equi-width buckets per partition; both CDFs are
    running window sums over it, ordered by bucket.  A NULL bucket (NULL
    value) sorts first, so it counts in every cumulative sum and in the
    totals, but it is never a term of the max."""
    x = ref(num_col)
    if bounds is None:
        span = st.cte(f"SELECT CAST(min({x}) AS DOUBLE) AS lo, "
                      f"CAST(max({x}) AS DOUBLE) AS hi FROM {src}")
        lo, hi = "lo", "hi"
        hint, join = f"/*+ BROADCAST({span}) */ ", f" CROSS JOIN {span}"
    else:
        lo, hi = st.arg(float(bounds[0])), st.arg(float(bounds[1]))
        hint = join = ""
    w = f"({hi} - {lo}) / {st.arg(float(n_bins))}"
    bucket = (f"least({st.arg(n_bins - 1)}, floor(({x} - {lo}) / "
              f"CASE WHEN {w} = 0 THEN 1.0D ELSE {w} END))")
    hist = st.cte(
        f"SELECT p, bucket, count(1) AS n FROM (SELECT {hint}"
        f"{ref(part_col)} AS p, {bucket} AS bucket FROM {src}{join}) "
        "GROUP BY p, bucket")
    cdf = st.cte(
        "SELECT p, bucket, "
        "sum(n) OVER (PARTITION BY p ORDER BY bucket) "
        "/ sum(n) OVER (PARTITION BY p) AS p_cdf, "
        "sum(n) OVER (ORDER BY bucket) / sum(n) OVER () AS g_cdf "
        f"FROM {hist}")
    ks = st.cte("SELECT p, max(abs(p_cdf - g_cdf)) AS ks_stat "
                f"FROM {cdf} WHERE bucket IS NOT NULL GROUP BY p")
    return st.cte(f"SELECT p, ks_stat, ks_stat > {st.arg(threshold)} "
                  f"AS drifted FROM {ks}")


def ks_drift(
    df: DataFrame,
    num_col: str,
    part_col: str,
    n_bins: int = 64,
    threshold: float = 0.15,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Approximate two-sample KS per partition vs the global distribution.

    Exact KS needs a full sort; at scale we bin the numeric column into
    equi-width buckets (one agg), take the per-partition and global CDFs
    as running window sums over that one bucket histogram, and take the
    max CDF gap.  Bin count bounds the approximation error at 1/n_bins.

    ``bounds=(lo, hi)`` bins against KNOWN bounds (e.g. from the x-dataset
    spec section) — the whole statistic is then ONE scan of (part, num).
    Without bounds, lo/hi come from a broadcast 1-row min/max aggregate
    (still lazy — no ``collect`` — but a second narrow scan of num_col;
    at 100 TB pass spec bounds).  Emits ``(part, ks_stat, drifted)``."""
    st = Statement()
    out = ks_sql(st, st.frame(df), num_col, part_col, n_bins, threshold,
                 bounds)
    return st.run(f"SELECT p AS {ident(part_col)}, ks_stat, drifted "
                  f"FROM {out}")


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
