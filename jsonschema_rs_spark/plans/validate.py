"""Validation plan assembly — one scan, one fused projection, zero shuffles.

Physical design (the 100-TB argument):

- ALL constraints fuse into a single ``select`` over a single scan — the
  plan-level analogue of the reference's fused keyword variants and the
  shared-scan batching idea (LMFAO).  Catalyst prunes the scan to exactly the
  columns the constraints touch.
- Span (element) constraints evaluate inside array higher-order functions
  (``transform``/``filter``/``forall``) — per-doc regrouping is implicit in
  the array value, so there is **no explode → groupBy(doc_id) shuffle**.
  A single narrow ``explode`` materializes violation rows only at the very
  end, only for violating (constraint, element) pairs.
- The verdict-only mode builds pure boolean expressions and never constructs
  violation structs — the analogue of the reference's allocation-free
  ``is_valid`` path (``validator.rs:28-89``); ``observed`` strings are only
  computed under ``F.when(violated, ...)`` (analogue of the reference's lazy
  error paths, ``paths.rs:24-58``).
- Everything is whole-stage-codegen-able Column algebra; pandas UDFs appear
  only for the few formats/patterns that need Python, batched via Arrow.

Scaling: a plan with no wide dependency scales linearly in partition count;
the only requirement is sane input split sizing
(``spark.sql.files.maxPartitionBytes``), which the session helper sets.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

from jsonschema_rs_spark.compiler import CompiledSpec, _esc_pointer

VIOLATION_STRUCT = StructType(
    [
        StructField("constraint_id", StringType()),
        StructField("span_index", IntegerType()),
        StructField("observed", StringType()),
    ]
)
_EMPTY_VIOLS = "array<struct<constraint_id:string,span_index:int,observed:string>>"


def _root(df: DataFrame) -> Column:
    # Catalyst's SimplifyExtractValueOps collapses GetStructField(CreateStruct)
    # so this costs nothing at runtime.
    return F.struct(*[F.col(c).alias(c) for c in df.columns])


def _viol_struct(cid: str, span_index: Column, observed: Column) -> Column:
    return F.struct(
        F.lit(cid).alias("constraint_id"),
        span_index.cast("int").alias("span_index"),
        observed.cast("string").alias("observed"),
    )


def _py_adapter(py_fn):
    """Array-level Arrow adapter for an element-level python check: takes the
    extracted string array, returns array<boolean> (None element ≡ pass)."""
    from pyspark.sql.types import BooleanType as _B

    def adapt(s: pd.Series) -> pd.Series:
        def row(vals):
            if vals is None:
                return None
            return [True if v is None else bool(py_fn(v)) for v in vals]

        return s.map(row)

    return F.pandas_udf(adapt, ArrayType(_B()))


def stage_python_checks(df: DataFrame, compiled: CompiledSpec):
    """Stage python-backed element-leaf checks as array<boolean> columns.

    Spark bans Python UDFs inside HOF lambdas; a separate projection lets
    the planner extract them into ArrowEvalPython.  HOF plans then build
    their predicate columns inside ``py_stage_context(mapping)`` and every
    python leaf — however deeply wrapped in gates/combinators — resolves to
    ``element_at(staged_col, i+1)``.  Returns (staged_df, mapping)."""
    mapping: dict[int, str] = {}
    staged = df
    root = _root(df)
    for st in compiled.py_stages:
        name = f"__pyok_{st.stage_id}"
        staged = staged.withColumn(
            name,
            _py_adapter(st.py_fn)(F.transform(st.array(root), st.extract)),
        )
        mapping[st.stage_id] = name
    return staged, mapping


def _elem_ok(c, x: Column, i: Column) -> Column:
    """Per-element OK predicate.  ``c.pred`` is the FULLY composed/gated
    expression (if/then gates, index gates, combinators included); python
    leaves inside it self-resolve through the active staging context."""
    return F.coalesce(c.pred(x, i), F.lit(True))


def violations_column(compiled: CompiledSpec, root: Column) -> Column:
    """Array<violation> column for one document."""
    parts: list[Column] = []

    # doc-scope constraints: violation struct only materializes when violated
    for c in compiled.constraints:
        if c.scope != "doc":
            continue
        if c.viol_positions is not None:
            # node-level check with per-position attribution (conditional
            # unevaluatedItems): one row per failing position.  NB the
            # transform lambda must stay single-arg — pyspark dispatches
            # on arity, and a default arg would bind the INDEX column.
            def _mk_pos(cid):
                return lambda p: _viol_struct(
                    cid, p.getField("pos"), p.getField("obs"))

            parts.append(F.coalesce(
                F.transform(c.viol_positions(root),
                            _mk_pos(c.constraint_id)),
                F.expr("array()").cast(_EMPTY_VIOLS),
            ))
            continue
        ok = F.coalesce(c.pred(root), F.lit(True))
        parts.append(
            F.when(
                ~ok,
                F.array(_viol_struct(c.constraint_id,
                                     F.lit(None).cast("int"),
                                     c.observed(root))),
            ).otherwise(F.expr("array()").cast(_EMPTY_VIOLS))
        )

    # element-scope constraints, fused per array: ONE transform evaluates
    # every element constraint per element (single traversal of the array)
    by_array: dict[tuple, list] = {}
    for c in compiled.constraints:
        if c.scope == "element":
            by_array.setdefault(c.array_key, []).append(c)
    def _per_elem_fn(group):
        def per_elem(x: Column, i: Column) -> Column:
            cells = [
                F.when(
                    ~_elem_ok(c, x, i),
                    _viol_struct(c.constraint_id, i, c.observed(x, i)),
                )
                for c in group
            ]
            return F.filter(F.array(*cells), lambda v: v.isNotNull())

        return per_elem

    for key, group in by_array.items():
        arr = group[0].array(root)
        parts.append(
            F.coalesce(F.flatten(F.transform(arr, _per_elem_fn(tuple(group)))),
                       F.expr("array()").cast(_EMPTY_VIOLS))
        )

    if not parts:
        return F.expr("array()").cast(_EMPTY_VIOLS)
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out


def valid_column(compiled: CompiledSpec, root: Column) -> Column:
    """Boolean verdict without violation allocation (is_valid fast path)."""
    ok = F.lit(True)
    for c in compiled.constraints:
        if c.scope != "doc":
            continue
        ok = ok & F.coalesce(c.pred(root), F.lit(True))
    by_array: dict[tuple, list] = {}
    for c in compiled.constraints:
        if c.scope == "element":
            by_array.setdefault(c.array_key, []).append(c)
    def _elem_ok_fn(group):
        def elem_ok(x: Column, i: Column) -> Column:
            e = F.lit(True)
            for c in group:
                e = e & _elem_ok(c, x, i)
            return e

        return elem_ok

    for key, group in by_array.items():
        arr = group[0].array(root)
        ok = ok & F.coalesce(
            F.forall(F.transform(arr, _elem_ok_fn(tuple(group))), lambda b: b),
            F.lit(True),
        )
    return ok


def validation_frame(
    df: DataFrame,
    compiled: CompiledSpec,
    id_cols: Sequence[str] = ("doc_id",),
    keep_cols: Sequence[str] = (),
    mode: str = "both",
) -> DataFrame:
    """``(id_cols..., keep_cols..., [valid], [violations])`` in one projection
    (plus a staging projection when Python-UDF element checks exist)."""
    from jsonschema_rs_spark.compiler import py_stage_context

    root = _root(df)
    staged, mapping = stage_python_checks(df, compiled)
    cols = [F.col(c) for c in (*id_cols, *keep_cols)]
    with py_stage_context(mapping):
        if mode == "verdicts":
            cols.append(valid_column(compiled, root).alias("valid"))
        elif mode == "violations":
            cols.append(violations_column(compiled, root).alias("violations"))
        elif mode == "both":
            v = violations_column(compiled, root)
            cols.append(v.alias("violations"))
            cols.append((F.size(v) == 0).alias("valid"))
        else:
            raise ValueError(f"unknown mode {mode!r}")
        return staged.select(*cols)


def verdicts(df: DataFrame, compiled: CompiledSpec,
             id_cols: Sequence[str] = ("doc_id",),
             strategy: str = "exploded") -> DataFrame:
    """Per-doc-id boolean verdicts.

    strategy='exploded' (DEFAULT): ONE codegen scan — narrow explode, per-row
    boolean violation flags, then a hash agg keyed by the doc id.  Before
    the agg, rows are pre-filtered to the ones that can change a verdict:
    each doc's FIRST exploded row (pos 0 / null — the id universe; every doc
    has one) plus VIOLATING rows, so the aggregation input is O(docs +
    violations), not O(docs x spans) — passing pos>0 rows contribute 0 to
    the sum and are dropped at the filter, exactly like the ``violations``
    plan's pre-filter.  The agg is map-side combined, so the shuffle carries
    O(distinct ids) narrow rows, no second scan, no join.  Driver record
    BENCH_r02: exploded 1.06s vs prefilter 6.03s vs violations 1.68s on
    100k docs / 5.4M spans — the analogue of the reference's cheap
    ``is_valid`` mode (``validator.rs:28-89``).

    strategy='prefilter': verdicts derived from the ``violations`` plan —
    distinct over VIOLATING ids only, left-joined back onto the id universe.
    The build side is proportional to the violation rate, but it costs a
    SECOND full scan of the input plus an O(docs) distinct; measured slower
    than 'exploded' on every recorded input (6.03s vs 1.06s, BENCH_r02).
    Kept for corpora where the id universe is already materialized cheaply.

    strategy='hof': single projection, ZERO shuffle — element predicates run
    inside array HOFs, which Spark interprets (CodegenFallback) at a 25-40x
    per-core penalty.  Only right when any shuffle at all is unacceptable;
    returns PER-ROW verdicts (duplicate ids not merged).

    NULL ids group like any other key under every strategy: 'exploded'
    aggregates them directly, and 'prefilter' joins with null-safe
    equality (round 4 — a plain equi-join silently reported NULL-id docs
    valid regardless of content).
    """
    if strategy == "hof":
        return validation_frame(df, compiled, id_cols, mode="verdicts")
    if strategy == "prefilter":
        import warnings

        warnings.warn(
            "verdicts(strategy='prefilter') has lost every recorded "
            "comparison against the default 'exploded' strategy (it costs "
            "a second full input scan); use it only when the id universe "
            "is already materialized cheaply",
            UserWarning, stacklevel=2)
        universe = df.select(*[F.col(c) for c in id_cols]).distinct()
        bad = (
            violations(df, compiled, id_cols=id_cols)
            .select(*id_cols)
            .distinct()
            .withColumn("_bad", F.lit(True))
        )
        cond = None
        for c in id_cols:
            e = universe[c].eqNullSafe(bad[c])
            cond = e if cond is None else (cond & e)
        # broadcast the violating-id side (round 6): this strategy's
        # premise is that violations are RARE (build side proportional to
        # the violation rate), so the distinct bad-id set is the natural
        # broadcast side; the sort-merge join it previously got re-shuffled
        # and sorted the whole id universe on the null-safe key (a second
        # full exchange of O(docs) rows).  When violations are not rare,
        # the strategy is already the wrong choice — see the warning above.
        return (
            universe.join(F.broadcast(bad), cond, "left")
            .select(*[universe[c] for c in id_cols],
                    F.col("_bad").isNull().alias("valid"))
        )
    if strategy != "exploded":
        raise ValueError(f"unknown strategy {strategy!r}")

    root = _root(df)
    doc_cs = [c for c in compiled.constraints if c.scope == "doc"]
    by_array: dict[tuple, list] = {}
    for c in compiled.constraints:
        if c.scope == "element":
            by_array.setdefault(c.array_key, []).append(c)
    ids = [F.col(c) for c in id_cols]

    frames = []
    for n, key in enumerate(by_array):
        group = by_array[key]
        arr = _group_array(df, key, group, root)
        # doc-scope predicates evaluate BEFORE the explode (round 5): one
        # boolean per document instead of carrying the full root struct —
        # including the entire spans array — through Generate into every
        # exploded row's buffer
        pre = []
        if n == 0 and doc_cs:
            doc_bad0 = F.lit(False)
            for c in doc_cs:
                doc_bad0 = doc_bad0 | ~F.coalesce(c.pred(root),
                                                  F.lit(True))
            pre = [doc_bad0.alias("_docbad")]
        ex = df.select(
            *ids, *pre,
            F.posexplode_outer(arr).alias("_pos", "_elem"),
        )
        x, i = F.col("_elem"), F.col("_pos")
        bad = F.lit(False)
        for c in group:
            bad = bad | (i.isNotNull()
                         & ~F.coalesce(c.pred(x, i), F.lit(True)))
        if n == 0 and doc_cs:
            first = i.isNull() | (i == 0)
            bad = bad | (first & F.col("_docbad"))
        # agg-input pre-filter: frame 0 keeps each doc's first row (the id
        # universe — posexplode_outer guarantees one per doc) + violating
        # rows; later frames keep violating rows only (their ids are
        # already covered by frame 0).  Passing pos>0 rows add 0 to the
        # sum, so dropping them leaves verdicts exact while shrinking the
        # aggregation input from O(docs x spans) to O(docs + violations).
        keep = bad
        if n == 0:
            keep = keep | i.isNull() | (i == 0)
        frames.append(ex.filter(keep).select(*ids, bad.alias("_bad")))
    if not frames:
        doc_bad = F.lit(False)
        for c in doc_cs:
            doc_bad = doc_bad | ~F.coalesce(c.pred(root), F.lit(True))
        frames = [df.select(*ids, doc_bad.alias("_bad"))]
    all_rows = frames[0]
    for fr in frames[1:]:
        all_rows = all_rows.unionByName(fr)
    # Explicit key-repartition sized to the INPUT (one reducer per 16
    # input files, floor 4) — the agg input is O(docs + violations)
    # narrow rows, i.e. proportional to input splits, and pinning the
    # reducer count lets the final aggregate run inside the exchange-read
    # stage without an adaptive re-plan barrier: paired A/B on the same
    # load windows measured 0.39s vs 0.64s for the 100k-doc verdict
    # (round 5).  At cluster scale the ratio keeps thousands of reducers
    # (800k files for 100 TB → 50k), so the plan still spreads.
    # Round 6 (ADVICE/VERDICT): sized from the scan's FILE list, not
    # df.rdd.getNumPartitions() — the .rdd access forced full physical
    # planning + an RDD conversion on every verdicts() call (an eager
    # driver stall at plan-BUILD time, file listing included), and for
    # shuffle-output inputs it reflected the previous shuffle anyway.
    # inputFiles() only lists files; non-file sources fall back to
    # defaultParallelism.
    try:
        n_in = len(df.inputFiles())
    except Exception:
        n_in = 0
    par = df.sparkSession.sparkContext.defaultParallelism
    if n_in == 0:
        n_in = par
    # one reducer per 4 input files (round 6: the //16 ratio tuned at
    # sf0.1 starved the 1M-doc agg — reducer sweep at BOTH scales:
    # sf0.1 {4:0.40, 16:0.37, 32:0.55}s, sf1.0 {4:2.20, 16:1.54,
    # 32:1.55}s), capped at 16x the cluster parallelism so a
    # million-file input does not degenerate into scheduler overhead
    n_red = max(4, min(n_in // 4, 16 * par))
    all_rows = all_rows.repartition(n_red, *[F.col(c) for c in id_cols])
    # boolean max ≡ any(): one comparison per row in the combiner instead
    # of cast+sum (round 5)
    return (
        all_rows.groupBy(*id_cols)
        .agg((~F.max("_bad")).alias("valid"))
    )



def _group_array(df: DataFrame, key, group, root) -> Column:
    """The array column a constraint group explodes over.

    When every constraint declares its touched element fields, the array is
    rebuilt as ``arrays_zip(spans.f1, spans.f2, ...)`` — per-field nested
    references that parquet nested-schema pruning CAN push into the scan
    (a plain ``spans`` reference through Generate+Filter cannot be pruned).
    Positions (span_index) are preserved by zip."""
    touched = frozenset()
    for c in group:
        if c.touched is None:
            touched = None
            break
        touched = touched | c.touched
    if key and touched:
        base = ".".join(key)
        fields = sorted(touched)
        if len(fields) == 1:
            # arrays_zip with one input still zips; name the field directly
            return F.arrays_zip(F.col(f"{base}.{fields[0]}").alias(fields[0]))
        return F.arrays_zip(
            *[F.col(f"{base}.{f}").alias(f) for f in fields])
    if key:
        return F.col(".".join(key))
    return group[0].array(root)


def _instance_path_col(c, i: Column | None) -> Column:
    """instanceLocation JSON Pointer (reference ``paths.rs:60-106``):
    ``/spans/<i>/text`` for element constraints, ``/spans`` (or ``""`` at
    the root) for doc constraints — static strings except the span index."""
    if c.scope == "element":
        pre = "".join("/" + _esc_pointer(s) for s in (c.array_key or ()))
        suf = "".join("/" + _esc_pointer(s) for s in c.instance_fields)
        return F.concat(F.lit(pre + "/"), i.cast("string"), F.lit(suf))
    return F.lit("".join("/" + _esc_pointer(s) for s in c.instance_fields))


def _viol_struct_located(c, span_index: Column, observed: Column,
                         i: Column | None) -> Column:
    return F.struct(
        F.lit(c.constraint_id).alias("constraint_id"),
        span_index.cast("int").alias("span_index"),
        observed.cast("string").alias("observed"),
        _instance_path_col(c, i).alias("instance_path"),
        F.lit(c.schema_path).alias("keyword_location"),
    )


def violations(df: DataFrame, compiled: CompiledSpec,
               id_cols: Sequence[str] = ("doc_id",),
               include_locations: bool = False) -> DataFrame:
    """Violation rows ``(id_cols..., constraint_id, span_index, observed)``
    (+ ``instance_path``/``keyword_location`` JSON Pointers when
    ``include_locations`` — the basic-output unit fields,
    reference ``output.rs:104-200``).

    Physical shape chosen for whole-stage codegen (higher-order-function
    lambdas are CodegenFallback in Spark and measured ~25x slower here):
    one ``posexplode_outer`` per constrained array (narrow — NO shuffle),
    every constraint a plain ``when``-struct column, stacked with a second
    narrow explode and filtered.  Doc-scope constraints are gated onto the
    first exploded row (``pos <= 0 or null``) so the whole thing is still a
    single scan; ``when`` short-circuits keep doc-level expressions from
    re-evaluating on every span row.
    """
    root = _root(df)
    ids = [F.col(c) for c in id_cols]

    doc_cs = [c for c in compiled.constraints if c.scope == "doc"]
    doc_plain = [c for c in doc_cs if c.viol_positions is None]
    doc_pos = [c for c in doc_cs if c.viol_positions is not None]
    by_array: dict[tuple, list] = {}
    for c in compiled.constraints:
        if c.scope == "element":
            by_array.setdefault(c.array_key, []).append(c)

    def _mk_cell(c, span_index, observed, i=None):
        if include_locations:
            return _viol_struct_located(c, span_index, observed, i)
        return _viol_struct(c.constraint_id, span_index, observed)

    def violated(c, *args) -> Column:
        return ~F.coalesce(c.pred(*args), F.lit(True))

    def doc_cells(root_col: Column, bads: list[Column]) -> list[Column]:
        """One cell per ``doc_plain`` constraint, ``bads`` its
        ``violated`` Columns in the same order."""
        return [
            F.when(b, _mk_cell(c, F.lit(None).cast("int"),
                               c.observed(root_col)))
            for c, b in zip(doc_plain, bads)
        ]

    _EMPTY_POS = "array<struct<pos:int,obs:string>>"

    def pos_cell_arrays(root_col: Column) -> list[Column]:
        """One array of per-position cells per positional doc constraint
        (conditional unevaluatedItems — round 4)."""
        out = []
        def _mk_pos(c_, base_):
            # single-arg lambda: pyspark transform dispatches on arity
            def mk(p):
                si = p.getField("pos")
                if include_locations:
                    return F.struct(
                        F.lit(c_.constraint_id).alias("constraint_id"),
                        si.cast("int").alias("span_index"),
                        p.getField("obs").cast("string").alias("observed"),
                        F.concat(F.lit(base_ + "/"),
                                 si.cast("string")).alias("instance_path"),
                        F.lit(c_.schema_path).alias("keyword_location"),
                    )
                return _viol_struct(c_.constraint_id, si, p.getField("obs"))

            return mk

        for c in doc_pos:
            base = "".join("/" + _esc_pointer(s) for s in c.instance_fields)
            out.append(F.transform(
                F.coalesce(c.viol_positions(root_col),
                           F.expr("array()").cast(_EMPTY_POS)),
                _mk_pos(c, base),
            ))
        return out

    branches: list[DataFrame] = []
    array_keys = list(by_array)
    for n, key in enumerate(array_keys):
        group = by_array[key]
        arr = _group_array(df, key, group, root)
        ex = df.select(
            *ids,
            *( [root.alias("_root")] if n == 0 and doc_cs else [] ),
            F.posexplode_outer(arr).alias("_pos", "_elem"),
        )
        x, i = F.col("_elem"), F.col("_pos")
        # each predicate is built once and shared by its cell and the
        # pre-filter below: the plan is the same as building it twice, at
        # half the py4j round trips
        bads = [violated(c, x, i) for c in group]
        cells = [
            F.when(i.isNotNull() & b, _mk_cell(c, i, c.observed(x, i), i=i))
            for c, b in zip(group, bads)
        ]
        # cheap boolean pre-filter: only rows with >=1 violation reach the
        # per-constraint stack+explode (cuts the Generate fan-out by the
        # pass rate — normally ~100x in production; predicates re-evaluate
        # only on violating rows)
        span_any = F.lit(False)
        for b in bads:
            span_any = span_any | b
        keep = i.isNotNull() & span_any
        stack_arr = F.array(*cells)
        if n == 0 and doc_cs:
            first = i.isNull() | (i == 0)
            doc_root = F.col("_root")
            doc_bads = [violated(c, doc_root) for c in doc_cs]
            plain_bads = [b for c, b in zip(doc_cs, doc_bads)
                          if c.viol_positions is None]
            dcells = [F.when(first, cell)
                      for cell in doc_cells(doc_root, plain_bads)]
            stack_arr = F.array(*cells, *dcells)
            # typed empty literal on non-first rows: an
            # F.filter(pa, false) there would materialize the whole gated
            # per-position array per row just to discard it
            cell_t = ("array<struct<constraint_id:string,span_index:int,"
                      "observed:string"
                      + (",instance_path:string,keyword_location:string"
                         if include_locations else "") + ">>")
            for pa in pos_cell_arrays(F.col("_root")):
                stack_arr = F.concat(
                    stack_arr,
                    F.when(first, pa).otherwise(
                        F.expr("array()").cast(cell_t)))
            doc_any = F.lit(False)
            for b in doc_bads:
                doc_any = doc_any | b
            keep = keep | (first & doc_any)
        # explode_OUTER on a never-empty cell array (one cell per
        # constraint): identical rows, but a plain explode lets
        # InferFiltersFromGenerate clone the whole cell-array expression
        # into an extra Filter evaluated per surviving row (round 6)
        stacked = ex.filter(keep).select(
            *ids, F.explode_outer(stack_arr).alias("v")
        ).filter(F.col("v").isNotNull())
        branches.append(stacked)

    if not branches:
        if not doc_cs:
            return df.select(
                *ids,
                F.lit(None).cast("string").alias("constraint_id"),
                F.lit(None).cast("int").alias("span_index"),
                F.lit(None).cast("string").alias("observed"),
                *([F.lit(None).cast("string").alias("instance_path"),
                   F.lit(None).cast("string").alias("keyword_location")]
                  if include_locations else []),
            ).limit(0)
        # build the cell array in a projection BELOW the explode so the
        # CreateStruct(root) collapses there and column pruning reaches the
        # scan (a generator expression blocks SimplifyExtractValueOps).
        # explode_OUTER, and no pre-explode row filter: a plain explode lets
        # InferFiltersFromGenerate synthesize `size(_vs) > 0`, and any
        # pre-Generate filter is pushed below the projection AND the
        # ingest repartition — substituting the full violation-cell
        # expression into a scan-side Filter, where it re-evaluates the
        # whole constraint chain per row on the unsplit input (round 6:
        # 12.1s -> 2.5s on kw_unique_items).  The post-Generate isNotNull
        # filter cannot be pushed below its own generator.
        vs = (F.array(*doc_cells(root, [violated(c, root)
                                        for c in doc_plain]))
              if doc_plain else None)
        for pa in pos_cell_arrays(root):
            vs = pa if vs is None else F.concat(vs, pa)
        stacked = (
            df.select(*ids, vs.alias("_vs"))
            .select(*[F.col(c) for c in id_cols],
                    F.explode_outer(F.col("_vs")).alias("v"))
            .filter(F.col("v").isNotNull())
        )
        branches = [stacked]

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    loc_cols = (
        [F.col("v.instance_path").alias("instance_path"),
         F.col("v.keyword_location").alias("keyword_location")]
        if include_locations else []
    )
    return out.select(
        *ids,
        F.col("v.constraint_id").alias("constraint_id"),
        F.col("v.span_index").alias("span_index"),
        F.col("v.observed").alias("observed"),
        *loc_cols,
    )


# keyword -> reference ValidationErrorKind name (error.rs:63-143); the typed
# error vocabulary, derivable from the constraint_id's last keyword segment.
_ERROR_KINDS = {
    "type": "Type", "enum": "Enum", "const": "Constant",
    "minimum": "Minimum", "maximum": "Maximum",
    "exclusiveMinimum": "ExclusiveMinimum",
    "exclusiveMaximum": "ExclusiveMaximum", "multipleOf": "MultipleOf",
    "minLength": "MinLength", "maxLength": "MaxLength", "pattern": "Pattern",
    "format": "Format", "contentEncoding": "ContentEncoding",
    "contentMediaType": "ContentMediaType", "required": "Required",
    "dependentRequired": "Required", "dependentSchemas": "Schema",
    "minProperties": "MinProperties", "maxProperties": "MaxProperties",
    "propertyNames": "PropertyNames",
    "additionalProperties": "AdditionalProperties",
    "unevaluatedProperties": "UnevaluatedProperties",
    "unevaluatedItems": "UnevaluatedItems", "items": "Items",
    "prefixItems": "Items", "additionalItems": "AdditionalItems",
    "contains": "Contains", "minContains": "MinContains",
    "maxContains": "MaxContains", "minItems": "MinItems",
    "maxItems": "MaxItems", "uniqueItems": "UniqueItems",
    "allOf": "Schema", "anyOf": "AnyOf", "oneOf": "OneOfNotValid",
    "not": "Not", "then": "Schema", "else": "Schema", "false": "FalseSchema",
}


def error_kind_column(constraint_id: Column,
                      keyword_location: Column | None = None) -> Column:
    """Typed error kind (reference's ``ValidationErrorKind`` vocabulary,
    ``error.rs:63-143``).

    When ``keyword_location`` (the schema JSON Pointer) is available it is
    preferred: its grammar puts the keyword LAST for every non-keyed
    constraint (``/properties/<name>/<kw>``), so property names can never
    shadow a keyword — the only key-terminal forms are
    ``patternProperties/<pat>`` / ``dependentSchemas/<key>`` /
    ``dependencies/<key>`` (kind Schema, the default), boolean tuple
    positions (``prefixItems/<n>``, ``items/<n>``: Items) and member
    schemas (``properties/<name>``: FalseSchema for a false schema, whose
    location is the schema itself, else a map member's Schema).
    Classification from the compact ``constraint_id`` alone stays
    heuristic: keyed keywords take precedence over coincidental
    keyword-named keys, guarded one container level up (a deeper double
    collision like ``properties/properties/required/k`` still misreads —
    documented)."""
    # One FLAT multi-branch CaseWhen per classifier (round 6): the old
    # ``expr = when(c, v).otherwise(expr)`` loop nested 35+ CaseWhens, which
    # blows codegen and evaluates interpreted per row (1.35s of the 2.1s
    # basic_output at sf1.0).  First-match-wins ordering is preserved by
    # listing the previously-OUTERMOST (last-wrapped) overrides first; the
    # per-keyword equality branches are mutually exclusive, so their
    # relative order is free.
    if keyword_location is not None:
        segs = F.split(keyword_location, "/")
        kw = F.element_at(segs, -1)
        kw2 = F.when(F.size(segs) >= 2, F.element_at(segs, -2))
        # key-terminal containers first: a regex / dependency key that
        # happens to spell a keyword name must not classify as that keyword
        expr = F.when((kw2 == "prefixItems") | (
            (kw2 == "items") & kw.rlike("^[0-9]+$")), F.lit("Items"))
        # a member's own location: a false member schema, or a map
        # member's collapsed check
        expr = expr.when((kw2 == "properties")
                         & constraint_id.endswith("/false"),
                         F.lit("FalseSchema"))
        expr = expr.when(kw2 == "properties", F.lit("Schema"))
        for k in ("patternProperties", "dependentSchemas", "dependencies"):
            expr = expr.when(kw2 == k, F.lit("Schema"))
        # a draft 4-7 ``dependencies`` list of names reports like
        # ``dependentRequired``
        expr = expr.when(kw == "dependencies", F.lit("Required"))
        for k, v in _ERROR_KINDS.items():
            expr = expr.when(kw == k, F.lit(v))
        return expr.otherwise(F.lit("Schema"))
    segs = F.split(constraint_id, "/")
    kw = F.element_at(segs, -1)
    # keyed keywords put the key/pattern LAST (required/<key>,
    # patternProperties/<pat>): the keyword is then the second-to-last seg
    kw2 = F.when(F.size(segs) >= 2, F.element_at(segs, -2))
    # ... unless the second-to-last segment is itself a KEY of a
    # name-container (properties/required/<kw>): then it's a property
    # name that merely collides with a keyword, and the last segment wins
    kw3 = F.when(F.size(segs) >= 3, F.element_at(segs, -3))
    kw2_is_name = F.coalesce(
        kw3.isin("properties", "patternProperties", "$defs", "definitions",
                 "dependentSchemas", "dependencies"),
        F.lit(False),
    )
    # keyed-keyword branches FIRST (flat chain = first match wins):
    # required/items is 'Required', not 'Items' — a key that coincides with
    # a keyword name must not shadow the keyed keyword that owns it
    expr = None
    for k in ("required", "dependentRequired", "dependentSchemas",
              "patternProperties"):
        cond = (kw2 == k) & ~kw2_is_name
        val = F.lit(_ERROR_KINDS.get(k, "Schema"))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    for k, v in _ERROR_KINDS.items():
        expr = expr.when(kw == k, F.lit(v))
    return expr.otherwise(F.lit("Schema"))


def absolute_locations(compiled: CompiledSpec) -> dict:
    """constraint_id → absoluteKeywordLocation (or None when the keyword's
    location crosses no ``$ref``) — reference ``output.rs:193-200,242-249``.

    Refs are inlined at compile time, so the pre-inline resource URI +
    pointer is recorded on each inlined subtree root (``$__abs__``,
    ``spec.resolve_refs``); walking the RESOLVED schema along each
    constraint's ``schema_path`` finds the innermost crossing and rebases
    the remaining segments onto it.  Driver-side constants — zero runtime
    cost."""
    out: dict = {}
    for c in compiled.constraints:
        out[c.constraint_id] = None
        sp = c.schema_path or ""
        segs = [s for s in sp.split("/") if s != ""]
        node = compiled.schema
        base = None
        base_idx = 0
        for idx, raw in enumerate(segs):
            if isinstance(node, dict) and "$__abs__" in node:
                base, base_idx = node["$__abs__"], idx
            tok = raw.replace("~1", "/").replace("~0", "~")
            if isinstance(node, list):
                try:
                    node = node[int(tok)]
                except (ValueError, IndexError):
                    break
            elif isinstance(node, dict) and tok in node:
                node = node[tok]
            else:
                break
        if base is not None:
            rem = segs[base_idx:]
            out[c.constraint_id] = base + (
                "/" + "/".join(rem) if rem else "")
    return out


def absolute_location_column(compiled: CompiledSpec,
                             cid_col: Column) -> Column:
    """Nullable ``absolute_keyword_location`` column from the constant
    per-constraint map (a when-chain over constraint ids — folds to a
    constant per constraint inside codegen)."""
    expr = None
    for k, v in absolute_locations(compiled).items():
        if v is not None:
            expr = (F.when(cid_col == k, F.lit(v)) if expr is None
                    else expr.when(cid_col == k, F.lit(v)))
    if expr is None:
        return F.lit(None).cast("string")
    return expr.otherwise(F.lit(None).cast("string"))


def basic_output(df: DataFrame, compiled: CompiledSpec,
                 id_cols: Sequence[str] = ("doc_id",),
                 include_annotations: bool = False) -> DataFrame:
    """Basic-output units (reference ``apply().basic()``,
    ``output.rs:104-200``): one row per keyword unit with ``valid``,
    ``keyword_location`` and ``instance_path`` JSON Pointers, a typed
    ``kind``, and the human message.  Same single-scan codegen plan as
    ``violations`` — the locations are constant strings plus the span index.

    Default emits ERROR units only: at 10^12 documents the passing-unit
    stream is larger than the input; the per-partition ``partition_rollup``
    is the aggregate analogue.  ``include_annotations=True`` opts into the
    full both-polarity stream (``annotation_units``) for debugging-sized
    slices — passing keywords appear with ``valid=true`` and a NULL
    message, their ``observed`` value being the annotation payload."""
    if include_annotations:
        u = annotation_units(df, compiled, id_cols=id_cols)
        return u.withColumn(
            "message",
            F.when(
                ~F.col("valid"),
                message_column(compiled, F.col("constraint_id"),
                               F.col("observed"), F.col("span_index")),
            ),
        )
    # message_column directly (round 6): with_messages() also built the
    # cid-heuristic kind classifier, which this select immediately
    # discarded in favor of the location-based one — pure plan-build
    # (py4j round-trip) waste, same output columns and values
    v = violations(df, compiled, id_cols=id_cols, include_locations=True)
    return v.select(
        *id_cols,
        F.lit(False).alias("valid"),
        F.col("keyword_location"),
        absolute_location_column(
            compiled, F.col("constraint_id")
        ).alias("absolute_keyword_location"),
        F.col("instance_path"),
        error_kind_column(F.col("constraint_id"),
                          F.col("keyword_location")).alias("kind"),
        F.col("constraint_id"),
        F.col("span_index"),
        F.col("observed"),
        message_column(compiled, F.col("constraint_id"), F.col("observed"),
                       F.col("span_index")).alias("message"),
    )


def annotation_units(df: DataFrame, compiled: CompiledSpec,
                     id_cols: Sequence[str] = ("doc_id",)) -> DataFrame:
    """BOTH-polarity basic-output units: one row per (doc, constraint[,
    span]) with ``valid`` true/false — the reference's full ``apply().
    basic()`` stream including annotation units for PASSING keywords
    (``output.rs:104-200``, unit merge algebra ``:139-164``).

    OPT-IN (``basic_output(..., include_annotations=True)``): at 10^12
    documents the passing-unit stream is larger than the input, so the
    error-only plan stays the default; this exists for debugging-sized
    slices.  Same single-scan narrow-posexplode shape as ``violations`` —
    the only difference is that cells are emitted unconditionally with a
    ``valid`` flag instead of being pre-filtered to failures, so there is
    no cheap-row skip (every span row fans out)."""
    root = _root(df)
    ids = [F.col(c) for c in id_cols]
    doc_cs = [c for c in compiled.constraints if c.scope == "doc"]
    by_array: dict[tuple, list] = {}
    for c in compiled.constraints:
        if c.scope == "element":
            by_array.setdefault(c.array_key, []).append(c)

    def cell(c, ok: Column, span_index: Column, observed: Column,
             i: Column | None = None) -> Column:
        return F.struct(
            F.lit(c.constraint_id).alias("constraint_id"),
            span_index.cast("int").alias("span_index"),
            ok.alias("valid"),
            observed.cast("string").alias("observed"),
            _instance_path_col(c, i).alias("instance_path"),
            F.lit(c.schema_path).alias("keyword_location"),
        )

    doc_plain = [c for c in doc_cs if c.unit_positions is None]
    doc_pos = [c for c in doc_cs if c.unit_positions is not None]

    def doc_cells(root_col: Column) -> list[Column]:
        return [
            cell(c, F.coalesce(c.pred(root_col), F.lit(True)),
                 F.lit(None).cast("int"), c.observed(root_col))
            for c in doc_plain
        ]

    def pos_unit_arrays(root_col: Column) -> list[Column]:
        """BOTH-polarity per-position units for conditional
        unevaluatedItems (round 4) — same _gated_cells claim math as the
        error paths."""
        _EMPTY_U = "array<struct<pos:int,ok:boolean,obs:string>>"

        def _mk(c_, base_):
            def mk(u):  # single-arg: pyspark transform dispatch is arity-based
                pos = u.getField("pos")
                return F.struct(
                    F.lit(c_.constraint_id).alias("constraint_id"),
                    pos.cast("int").alias("span_index"),
                    u.getField("ok").alias("valid"),
                    u.getField("obs").cast("string").alias("observed"),
                    F.concat(F.lit(base_ + "/"),
                             pos.cast("string")).alias("instance_path"),
                    F.lit(c_.schema_path).alias("keyword_location"),
                )

            return mk

        out = []
        for c in doc_pos:
            base = "".join("/" + _esc_pointer(s) for s in c.instance_fields)
            arr = F.coalesce(c.unit_positions(root_col),
                             F.expr("array()").cast(_EMPTY_U))
            mapped = F.transform(arr, _mk(c, base))
            # empty/absent array: keep one node-level unit so the
            # both-polarity stream stays complete per (doc, keyword)
            node_unit = F.array(cell(
                c, F.coalesce(c.pred(root_col), F.lit(True)),
                F.lit(None).cast("int"), c.observed(root_col)))
            out.append(F.when(F.size(arr) > 0, mapped)
                       .otherwise(node_unit))
        return out

    branches: list[DataFrame] = []
    for n, key in enumerate(by_array):
        group = by_array[key]
        arr = _group_array(df, key, group, root)
        ex = df.select(
            *ids,
            *([root.alias("_root")] if n == 0 and doc_cs else []),
            F.posexplode_outer(arr).alias("_pos", "_elem"),
        )
        x, i = F.col("_elem"), F.col("_pos")
        cells = [
            F.when(
                i.isNotNull(),
                cell(c, F.coalesce(c.pred(x, i), F.lit(True)),
                     i, c.observed(x, i), i=i),
            )
            for c in group
        ]
        stack_arr = F.array(*cells)
        if n == 0 and doc_cs:
            first = i.isNull() | (i == 0)
            dcells = [F.when(first, dc)
                      for dc in doc_cells(F.col("_root"))]
            stack_arr = F.array(*cells, *dcells)
            unit_t = ("array<struct<constraint_id:string,span_index:int,"
                      "valid:boolean,observed:string,instance_path:string,"
                      "keyword_location:string>>")
            for pa in pos_unit_arrays(F.col("_root")):
                stack_arr = F.concat(
                    stack_arr,
                    F.when(first, pa).otherwise(
                        F.expr("array()").cast(unit_t)))
        branches.append(
            # explode_outer: blocks InferFiltersFromGenerate duplicating
            # the unit array into a per-span-row filter (cell array is
            # never empty, so rows are identical to a plain explode)
            ex.select(*ids, F.explode_outer(stack_arr).alias("v"))
            .filter(F.col("v").isNotNull())
        )
    if not branches:
        if not doc_cs:
            return df.select(
                *ids,
                F.lit(None).cast("string").alias("constraint_id"),
                F.lit(None).cast("int").alias("span_index"),
                F.lit(None).cast("boolean").alias("valid"),
                F.lit(None).cast("string").alias("observed"),
                F.lit(None).cast("string").alias("instance_path"),
                F.lit(None).cast("string").alias("keyword_location"),
            ).limit(0)
        vs = F.array(*doc_cells(root)) if doc_plain else None
        for pa in pos_unit_arrays(root):
            vs = pa if vs is None else F.concat(vs, pa)
        branches = [
            # explode_outer: see the violations() doc-only branch — a plain
            # explode invites InferFiltersFromGenerate to clone the unit
            # array into a pushed-down scan-side filter
            df.select(*ids, vs.alias("_vs"))
            .select(*[F.col(c) for c in id_cols],
                    F.explode_outer(F.col("_vs")).alias("v"))
            .filter(F.col("v").isNotNull())
        ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.select(
        *ids,
        F.col("v.valid").alias("valid"),
        F.col("v.keyword_location").alias("keyword_location"),
        absolute_location_column(
            compiled, F.col("v.constraint_id")
        ).alias("absolute_keyword_location"),
        F.col("v.instance_path").alias("instance_path"),
        error_kind_column(F.col("v.constraint_id"),
                          F.col("v.keyword_location")).alias("kind"),
        F.col("v.constraint_id").alias("constraint_id"),
        F.col("v.span_index").alias("span_index"),
        F.col("v.observed").alias("observed"),
    )


def _render_json(v) -> str:
    import json

    # compact separators: serde_json's to_string renders '[1,2,3]', not
    # '[1, 2, 3]' (keywords/mod.rs:406) — byte-parity for enum/const/type
    return json.dumps(v, ensure_ascii=False, separators=(",", ":"))


def message_templates(compiled: CompiledSpec) -> dict:
    """Per-constraint reference-style message templates (the phrasing of
    ``jsonschema-py/src/lib.rs:223-261`` / python-jsonschema): constraint_id
    -> (static, prefix, suffix), where ``static`` is a complete message and
    otherwise the message is ``prefix + observed + suffix``.  The expected
    keyword value is resolved by walking the compiled spec with each
    constraint's ``schema_path`` JSON Pointer; unresolvable constraints
    (combinator internals, claim-set keywords) keep the generic fallback."""
    from jsonschema_rs_spark.spec import SpecError, _pointer_get

    out: dict = {}
    for c in compiled.constraints:
        if not c.schema_path:
            continue
        kw = c.schema_path.rsplit("/", 1)[-1]
        key = c.constraint_id.rsplit("/", 1)[-1]
        try:
            val = _pointer_get(compiled.schema, "#" + c.schema_path)
            parent = _pointer_get(
                compiled.schema,
                "#" + c.schema_path.rsplit("/", 1)[0]) if "/" in (
                    c.schema_path.lstrip("/")) else compiled.schema
        except SpecError:
            continue
        r = _render_json
        t = None
        if kw == "minimum":
            op = ("less than or equal to"
                  if parent.get("exclusiveMinimum") is True else "less than")
            t = (None, "", f" is {op} the minimum of {r(val)}")
        elif kw == "maximum":
            op = ("greater than or equal to"
                  if parent.get("exclusiveMaximum") is True else
                  "greater than")
            t = (None, "", f" is {op} the maximum of {r(val)}")
        elif kw == "exclusiveMinimum" and not isinstance(val, bool):
            t = (None, "",
                 f" is less than or equal to the exclusive minimum of {r(val)}")
        elif kw == "exclusiveMaximum" and not isinstance(val, bool):
            t = (None, "",
                 f" is greater than or equal to the exclusive maximum of {r(val)}")
        elif kw == "multipleOf":
            t = (None, "", f" is not a multiple of {r(val)}")
        elif kw == "minLength":
            # reference pluralizes on the limit (error.rs:907)
            s = "" if val == 1 else "s"
            t = (None, '"', f'" is shorter than {val} character{s}')
        elif kw == "maxLength":
            s = "" if val == 1 else "s"
            t = (None, '"', f'" is longer than {val} character{s}')
        elif kw == "pattern":
            t = (None, '"', f'" does not match {r(val)}')
        elif kw == "format":
            t = (None, '"', f'" is not a {r(val)}')
        elif kw == "enum":
            t = (None, "", f" is not one of {r(val)}")
        elif kw == "const":
            t = (None, "", f" was expected to be {r(val)}")
        elif kw == "type":
            t = (None, "", f" is not of type {r(val)}")
        elif kw == "required" and c.constraint_id.split("/")[-2:-1] == [
                "required"]:
            t = (f"{r(key)} is a required property", None, None)
        elif kw == "minItems":
            t = (None, "array has ",
                 f" items, fewer than the required minimum of {val}")
        elif kw == "maxItems":
            t = (None, "array has ",
                 f" items, more than the allowed maximum of {val}")
        elif kw == "uniqueItems":
            t = (None, "array has ", " non-unique item(s)")
        elif kw == "minProperties":
            t = (None, "object has ",
                 f" properties, fewer than the required minimum of {val}")
        elif kw == "maxProperties":
            t = (None, "object has ",
                 f" properties, more than the allowed maximum of {val}")
        elif kw == "contains":
            t = (None, "array has ",
                 " item(s) matching 'contains'; expected at least 1")
        elif kw == "minContains":
            t = (None, "array has ",
                 f" matching item(s); expected at least {val}")
        elif kw == "maxContains":
            t = (None, "array has ",
                 f" matching item(s); expected at most {val}")
        elif kw == "contentEncoding":
            t = (None, '"', f'" is not valid {val}')
        elif kw == "contentMediaType":
            t = (None, '"', f'" is not valid {val}')
        elif kw == "anyOf":
            t = (None, "", " is not valid under any of the given schemas")
        elif kw == "oneOf":
            t = (None, "",
                 " is not valid under exactly one of the given schemas")
        elif kw == "not":
            t = (None, "", " should not be valid under the given schema")
        if t is not None:
            out[c.constraint_id] = t
    return out


def message_column(compiled: CompiledSpec | None,
                   cid: Column, observed: Column,
                   span_index: Column) -> Column:
    """The human ``message`` Column: reference-style per-kind phrasing when
    the template resolves, else the generic ``value 'x' violates kw`` form.
    Pure string algebra — zero impact on the validation plan itself."""
    obs = F.coalesce(observed, F.lit("null"))
    kw = F.element_at(F.split(cid, "/"), -1)
    where = F.when(
        span_index.isNotNull(),
        F.concat(F.lit(" at span "), span_index.cast("string")),
    ).otherwise(F.lit(""))
    generic = F.concat(
        F.lit("value '"), obs, F.lit("' violates "), kw,
        F.lit(" ("), cid, F.lit(")"), where,
    )
    if compiled is None:
        return generic
    # flat CaseWhen (round 6): per-template conditions are mutually
    # exclusive equalities, so one multi-branch case replaces the nested
    # when/otherwise tower that fell out of codegen
    expr = None
    for c_id, (static, pre, suf) in message_templates(compiled).items():
        if static is not None:
            msg = F.concat(F.lit(static), where)
        else:
            msg = F.concat(F.lit(pre), obs, F.lit(suf), where)
        expr = (F.when(cid == c_id, msg) if expr is None
                else expr.when(cid == c_id, msg))
    if expr is None:
        return generic
    return expr.otherwise(generic)


def with_messages(viol_df: DataFrame,
                  compiled: CompiledSpec | None = None) -> DataFrame:
    """Append a human-readable ``message`` column (analogue of the
    reference's formatted ``ValidationError`` messages, ``error.rs``/
    ``jsonschema-py/src/lib.rs:223-261``).  With ``compiled``, messages use
    the reference-style per-kind phrasing with the expected keyword value
    ('"zz" is shorter than 4 characters'); without it, the generic
    ``value 'x' violates kw (cid)`` form.  Pure string Column over the
    violation rows — zero impact on the validation plan itself."""
    return viol_df.withColumn(
        "kind", error_kind_column(F.col("constraint_id"))
    ).withColumn(
        "message",
        message_column(compiled, F.col("constraint_id"), F.col("observed"),
                       F.col("span_index")),
    )


def partition_rollup(
    df: DataFrame,
    compiled: CompiledSpec,
    part_col: str,
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Per-partition pass/fail + counters (analogue of ``apply().basic()``
    rollup).

    Single scan, whole-stage codegen throughout: one ``posexplode_outer``
    (narrow), per-row boolean violation counts, then ONE partition-key agg
    (map-side combined).  Per-doc validity needs no per-doc shuffle: invalid
    docs are counted as ``count(DISTINCT doc_id)`` over VIOLATING rows only —
    the distinct state is proportional to violations, not corpus size."""
    root = _root(df)
    doc_cs = [c for c in compiled.constraints if c.scope == "doc"]
    by_array: dict[tuple, list] = {}
    for c in compiled.constraints:
        if c.scope == "element":
            by_array.setdefault(c.array_key, []).append(c)

    id0 = F.col(id_cols[0])
    frames = []
    array_keys = list(by_array)
    for n, key in enumerate(array_keys):
        group = by_array[key]
        arr = _group_array(df, key, group, root)
        ex = df.select(
            F.col(part_col), *[F.col(c) for c in id_cols],
            *([root.alias("_root")] if n == 0 and doc_cs else []),
            F.posexplode_outer(arr).alias("_pos", "_elem"),
        )
        x, i = F.col("_elem"), F.col("_pos")
        nv = F.lit(0)
        for c in group:
            nv = nv + (
                i.isNotNull() & ~F.coalesce(c.pred(x, i), F.lit(True))
            ).cast("int")
        first = i.isNull() | (i == 0)
        if n == 0 and doc_cs:
            doc_nv = F.lit(0)
            for c in doc_cs:
                doc_nv = doc_nv + (
                    ~F.coalesce(c.pred(F.col("_root")), F.lit(True))
                ).cast("int")
            nv = nv + F.when(first, doc_nv).otherwise(F.lit(0))
        frames.append(
            ex.select(
                F.col(part_col),
                id0.alias("_doc"),
                (first if n == 0 else F.lit(False)).cast("long").alias("_is_doc"),
                nv.alias("_nv"),
            )
        )
    if not frames:
        doc_nv = F.lit(0)
        for c in doc_cs:
            doc_nv = doc_nv + (~F.coalesce(c.pred(root), F.lit(True))).cast("int")
        frames = [df.select(
            F.col(part_col), id0.alias("_doc"),
            F.lit(1).cast("long").alias("_is_doc"), doc_nv.alias("_nv"))]

    ex_all = frames[0]
    for fdf in frames[1:]:
        ex_all = ex_all.unionByName(fdf)
    return (
        ex_all.groupBy(part_col)
        .agg(
            F.sum("_is_doc").alias("docs"),
            F.sum(F.col("_nv").cast("long")).alias("violation_rows"),
            # count_distinct skips NULL: a violating doc with a NULL id
            # would count as valid, so it fails the query instead
            F.count_distinct(
                F.when(F.col("_nv") > 0, F.coalesce(
                    F.col("_doc"),
                    F.raise_error(F.lit(
                        f"a violating doc has a NULL {id_cols[0]!r}; it "
                        "cannot be counted as invalid")),
                ))
            ).alias("_invalid_docs"),
        )
        .select(
            part_col,
            "docs",
            (F.col("docs") - F.col("_invalid_docs")).alias("valid_docs"),
            "violation_rows",
            ((F.col("docs") - F.col("_invalid_docs")) == F.col("docs")).alias(
                "pass"),
        )
    )
