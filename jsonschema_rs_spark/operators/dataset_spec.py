"""Declarative dataset-level constraint section — one spec drives everything.

The north rule's spec carries BOTH row/span keywords (compiled by
``compiler.compile_spec``) and dataset-level constraints.  This module gives
the dataset side the same declarative shape, under the ``x-dataset`` key
(an ``x-`` extension keyword, so the row compiler treats it as an
annotation, exactly like the reference treats unknown keywords —
``compiler.rs:413-416``):

    {
      "properties": {...row/span keywords...},
      "x-dataset": {
        "columns": {                      # over the flattened span table
          "text":   {"max_null_rate": 0.8},
          "offset": {"min": 0, "max": 2147483647},
          "kind":   {"max_distinct": 8, "min_distinct": 2}
        },
        "unique": ["doc_id"],
        "referential": {
          "media_ref": {"catalog": "media_catalog", "key": "media_ref"}
        },
        "drift": {
          "chi2": {"column": "kind", "threshold": 27.0},
          "ks":   {"column": "offset", "threshold": 0.15, "bins": 64,
                   "bounds": [0, 4096]}    # optional: saves a min/max scan
        }
      }
    }

``validate_dataset`` checks the section, then lowers all of it into ONE
``spark.sql`` statement: each check is a CTE fragment from the operator
layer (``operators.dataset``), the branches are joined with ``UNION ALL``,
and the flat table and catalogs are its frame arguments.  The result is a
single violation frame ``(scope, scope_key, constraint_id, observed)`` —
the dataset-side analogue of the row-level violation rows.  A key the
section does not define, a column with no bound, a drift test that is not
``chi2``/``ks``, ``ks`` ``bounds`` that are not two numbers with lo < hi,
and a referential target without ``catalog`` raise ``SpecError`` naming
the key.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from jsonschema_rs_spark.operators import dataset as DS
from jsonschema_rs_spark.spec import SpecError

# x-dataset column bound -> ColumnStatsConstraint field
_BOUNDS = {"max_null_rate": "max_null_rate", "min": "min_value",
           "max": "max_value", "max_distinct": "max_distinct",
           "min_distinct": "min_distinct"}
_SECTION_KEYS = ("columns", "unique", "referential", "drift")
_DRIFT_KEYS = {"chi2": ("column", "threshold"),
               "ks": ("column", "threshold", "bins", "bounds")}
_TARGET_KEYS = ("catalog", "key")


def _known(where: str, got, allowed) -> None:
    if not isinstance(got, dict):
        raise SpecError(f"x-dataset {where} must be an object, "
                        f"got {got!r}")
    bad = sorted(set(got) - set(allowed))
    if bad:
        raise SpecError(f"unknown x-dataset {where} key {bad[0]!r} "
                        f"(allowed: {', '.join(allowed)})")


def _is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _number(where: str, v) -> None:
    if not _is_number(v):
        raise SpecError(f"x-dataset {where} must be a number, got {v!r}")


def _section(spec: dict[str, Any]) -> dict[str, Any]:
    """The ``x-dataset`` section of ``spec`` (or ``spec`` itself when it
    is a bare section), after checking every key it uses."""
    ds = spec.get("x-dataset", spec if "columns" in spec or "unique" in spec
                  else {})
    _known("section", ds, _SECTION_KEYS)
    for name, bounds in ds.get("columns", {}).items():
        _known(f"columns.{name}", bounds, _BOUNDS)
        if not bounds:
            raise SpecError(f"x-dataset column {name!r} declares no bound")
        for k, v in bounds.items():
            _number(f"columns.{name}.{k}", v)
    unique = ds.get("unique", [])
    if not isinstance(unique, list) or not all(
            isinstance(k, str) for k in unique):
        raise SpecError(f"x-dataset unique must be a list of column names, "
                        f"got {unique!r}")
    for ref_col, target in ds.get("referential", {}).items():
        _known(f"referential.{ref_col}", target, _TARGET_KEYS)
        if "catalog" not in target:
            raise SpecError(f"x-dataset referential.{ref_col} needs key "
                            "'catalog'")
    for kind, d in ds.get("drift", {}).items():
        if kind not in _DRIFT_KEYS:
            raise SpecError(f"unknown x-dataset drift kind {kind!r} "
                            f"(allowed: {', '.join(_DRIFT_KEYS)})")
        _known(f"drift.{kind}", d, _DRIFT_KEYS[kind])
        if "column" not in d:
            raise SpecError(f"x-dataset drift.{kind} needs key 'column'")
        if "threshold" in d:
            _number(f"drift.{kind}.threshold", d["threshold"])
        bins = d.get("bins", 64)
        if isinstance(bins, bool) or not isinstance(bins, int) or bins < 1:
            raise SpecError(f"x-dataset drift.{kind}.bins must be a "
                            f"positive integer, got {bins!r}")
        b = d.get("bounds", [0, 1])
        if (not isinstance(b, list) or len(b) != 2
                or not all(map(_is_number, b)) or not b[0] < b[1]):
            raise SpecError(f"x-dataset drift.{kind} key 'bounds' must be "
                            f"two numbers [lo, hi] with lo < hi, got {b!r}")
    if not any(ds.get(k) for k in _SECTION_KEYS):
        raise SpecError("x-dataset section is empty")
    return ds


def validate_dataset(
    flat: DataFrame,
    spec: dict[str, Any],
    part_col: str,
    catalogs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Evaluate an ``x-dataset`` section over the flattened span table.

    ``flat`` is one row per span (doc_id, part_key, span_index, kind, text,
    media_ref, offset) — the natural grain for column/distribution
    constraints.  Catalogs resolve referential targets by name.

    Emitted scopes: ``partition`` (stats + drift), ``key`` (uniqueness),
    ``ref`` (referential integrity).
    """
    ds = _section(spec)
    catalogs = catalogs or {}
    st = DS.Statement()
    src = st.frame(flat)
    part = "CAST(p AS STRING)"
    branches: list[str] = []

    def branch(scope: str, key: str, cid: str, observed: str, cte: str,
               where: str = "") -> None:
        branches.append(f"SELECT '{scope}' AS scope, {key} AS scope_key, "
                        f"{cid} AS constraint_id, {observed} AS observed "
                        f"FROM {cte}{where}")

    # ---- per-partition column stats (ONE fused agg) ----------------------
    cols = ds.get("columns", {})
    if cols:
        constraints = [
            DS.ColumnStatsConstraint(column=name, **{
                _BOUNDS[k]: v for k, v in bounds.items()})
            for name, bounds in cols.items()]
        branch("partition", part, "constraint_id", "observed",
               DS.stats_sql(st, src, constraints, part_col))

    # ---- uniqueness -------------------------------------------------------
    for key in ds.get("unique", []):
        branch("key", f"CAST({DS.ident(key)} AS STRING)",
               st.arg(f"dataset/unique/{key}"), "CAST(n_dups AS STRING)",
               DS.unique_sql(st, src, [key]))

    # ---- referential integrity -------------------------------------------
    for ref_col, target in ds.get("referential", {}).items():
        cat_name = target["catalog"]
        if cat_name not in catalogs:
            raise SpecError(
                f"referential constraint on {ref_col!r} needs catalog "
                f"{cat_name!r} (have: {sorted(catalogs)})")
        dangling = DS.referential_sql(st, src, ref_col,
                                      st.frame(catalogs[cat_name]),
                                      target.get("key", ref_col))
        branch("ref", "CAST(media_ref AS STRING)",
               st.arg(f"dataset/referential/{ref_col}"),
               "CAST(n_refs AS STRING)", dangling)

    # ---- distribution drift ------------------------------------------------
    drift = ds.get("drift", {})
    if "chi2" in drift:
        d = drift["chi2"]
        branch("partition", part, st.arg(f"dataset/drift_chi2/{d['column']}"),
               "CAST(round(chi2, 4) AS STRING)",
               DS.chi2_sql(st, src, d["column"], part_col,
                           d.get("threshold", 27.0)), " WHERE drifted")
    if "ks" in drift:
        d = drift["ks"]
        branch("partition", part, st.arg(f"dataset/drift_ks/{d['column']}"),
               "CAST(round(ks_stat, 4) AS STRING)",
               DS.ks_sql(st, src, d["column"], part_col, d.get("bins", 64),
                         d.get("threshold", 0.15), d.get("bounds")),
               " WHERE drifted")

    return st.run("\nUNION ALL\n".join(branches))
