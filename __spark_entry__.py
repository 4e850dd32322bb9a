"""Driver contract for the spark-graft builder (PySpark target).

Every entry pairs a Spark implementation from ``jsonschema_rs_spark`` with a
DuckDB oracle over the same parquet inputs.  Span-level queries run over the
deterministic span derivation (``sources/spans.py``) whose arithmetic is
mirrored exactly by the ``SPANS_CTE_SQL`` CTE, so oracles are full
value-level checks at any scale factor.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_rs_spark.compiler import EngineOptions, compile_spec
from jsonschema_rs_spark.flagship import flagship_violations, flagship_rollup
from jsonschema_rs_spark.plans.validate import violations
from jsonschema_rs_spark.sources.spans import SPANS_CTE_SQL, derive_spans, flat_spans
from jsonschema_rs_spark.functions import text as T
from jsonschema_rs_spark.operators import dataset as DS
from jsonschema_rs_spark.operators import dedup as DD
from jsonschema_rs_spark.operators import similarity as SIM
from jsonschema_rs_spark.operators import multimodal as MM


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _ensure_splits(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition ONLY when the input arrives under-split.

    The sandbox's single-file sf parquet yields 1-2 scan splits, starving
    every core; a real 100-TB input arrives pre-split and must NOT be
    full-shuffled on ingest (round-2 baked an unconditional repartition in
    here — wrong reflex at scale, and a suspect in the BENCH_r02 entry-query
    regressions).  Round 6: split count estimated from file-index size
    statistics (``est_scan_splits``) — the old ``df.rdd.getNumPartitions()``
    probe forced physical planning + an RDD conversion (~0.7s driver stall)
    per query build."""
    from jsonschema_rs_spark.session import est_scan_splits

    par = spark.sparkContext.defaultParallelism
    if est_scan_splits(df) < par:
        return df.repartition(par)
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministic planted duplicates (for dedup ops).

    Split-gated repartition (``_ensure_splits``): widened only when the
    input arrives under-split, never full-shuffled on ingest."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return _ensure_splits(spark, d.unionByName(dup))


_CORPUS_SQL = """
corpus AS (
    SELECT doc_id AS id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 50 = 0
)
"""

# normalized text + word list (matches functions/text.py normalize())
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _span_spec(inner: dict) -> dict:
    return {"properties": {"spans": inner}}


# --------------------------------------------------------------------------
# query implementations
# --------------------------------------------------------------------------

def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship_violations(spark, sf_dir)


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship_rollup(spark, sf_dir)


def q_flagship_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``is_valid`` fast path as a value-level oracle (round 5): the
    DEFAULT single-scan exploded-agg verdict plan under the full flagship
    spec — per-doc boolean, analogue of reference ``validator.rs:28-89``."""
    from jsonschema_rs_spark.flagship import FLAGSHIP_SPEC
    from jsonschema_rs_spark.plans.validate import verdicts as _verdicts

    df = derive_spans(spark, sf_dir)
    return _verdicts(df, compile_spec(FLAGSHIP_SPEC, df.schema))


def _kw_violations(spark, sf_dir, spec) -> DataFrame:
    df = derive_spans(spark, sf_dir)
    return violations(df, compile_spec(spec, df.schema))


def q_kw_enum(spark, sf_dir):
    return _kw_violations(spark, sf_dir, _span_spec(
        {"items": {"properties": {"kind": {"enum": ["text","image","audio"]}}}}))


def q_kw_minimum(spark, sf_dir):
    return _kw_violations(spark, sf_dir, _span_spec(
        {"items": {"properties": {"offset": {"minimum": 0}}}}))


def q_kw_multiple_of(spark, sf_dir):
    """Integer fast path on span offsets + the round-5 decimal-exact
    float path (multiple_of.rs:33-41): ratios around 1.0xxx against a
    0.0003 divisor — magnitudes where epsilon double math still agrees,
    so the oracle stays SQL-expressible, with the large-magnitude torture
    covered in test_compiler.py."""
    base = _kw_violations(spark, sf_dir, _span_spec(
        {"items": {"properties": {"offset": {"multipleOf": 8}}}}))
    ev = _events(spark, sf_dir).select(
        F.concat(F.lit("ev-"), F.col("event_id").cast("string"))
        .alias("doc_id"),
        (F.lit(1.0) + (F.col("event_id") % 1000).cast("double")
         / F.lit(10000.0)).alias("ratio"))
    c = compile_spec({"properties": {"ratio": {"multipleOf": 0.0003}}},
                     ev.schema)
    return base.unionByName(violations(ev, c))


def q_kw_min_length(spark, sf_dir):
    return _kw_violations(spark, sf_dir, _span_spec(
        {"items": {"properties": {"text": {"minLength": 4}}}}))


def q_kw_pattern(spark, sf_dir):
    return _kw_violations(spark, sf_dir, _span_spec(
        {"items": {"properties": {"media_ref": {"pattern": "^media://[0-3]"}}}}))


def q_kw_prefix_tuple(spark, sf_dir):
    return _kw_violations(spark, sf_dir, _span_spec(
        {"prefixItems": [
            {"properties": {"kind": {"const": "text"}}},
            {"properties": {"offset": {"maximum": 0}}},
        ]}))


def q_kw_items_bounds(spark, sf_dir):
    return _kw_violations(spark, sf_dir, _span_spec(
        {"minItems": 5, "maxItems": 60}))


def q_kw_contains(spark, sf_dir):
    return _kw_violations(spark, sf_dir, _span_spec(
        {"contains": {"properties": {"kind": {"const": "image"}}}}))


def q_kw_unique_items(spark, sf_dir):
    df = derive_spans(spark, sf_dir).select(
        "doc_id",
        F.transform(
            "spans",
            lambda x: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                (x["offset"] % 16).cast("int").alias("offset"),
            ),
        ).alias("spans"),
        "part_key",
    )
    return violations(df, compile_spec(
        _span_spec({"uniqueItems": True}), df.schema))


def q_kw_map_props(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id", F.from_json("props", "map<string,int>").alias("props")
    )
    spec = {"properties": {"props": {
        "required": ["k"], "properties": {"k": {"maximum": 50}}}}}
    return violations(ev, compile_spec(spec, ev.schema),
                      id_cols=("event_id",))


def q_kw_format_date(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.when(F.col("event_id") % 10 == 0, F.lit("2024-13-45"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd"))
        .alias("d"),
    )
    spec = {"properties": {"d": {"format": "date"}}}
    return violations(ev, compile_spec(spec, ev.schema), id_cols=("event_id",))


def q_kw_bounds(spark, sf_dir):
    """Numeric exclusive bounds + maxLength over the span table (driver
    oracle for keywords previously fixture-only)."""
    spec = _span_spec({"items": {"properties": {
        "offset": {"exclusiveMinimum": -16, "exclusiveMaximum": 256},
        "text": {"maxLength": 6},
    }}})
    df = derive_spans(spark, sf_dir)
    return violations(df, compile_spec(spec, df.schema))


def q_kw_draft4_integer(spark, sf_dir):
    """Draft-4 vs draft-7 ``type: "integer"`` over a DOUBLE column.

    Draft 4's ``is_integer`` is ``is_u64 || is_i64`` (reference
    ``keywords/legacy/type_draft_4.rs:113-114``) so EVERY double fails,
    while draft 7+ admits integer-valued floats (``type_.rs:290-292``) so
    only fractional values fail — the union makes the per-draft gate
    value-visible to the oracle."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0,
               (F.col("event_id") % 100000).cast("double"))
        .otherwise((F.col("event_id") % 100000) + F.lit(0.5))
        .alias("ratio"),
    )
    body = {"properties": {"ratio": {"type": "integer"}}}
    v4 = violations(
        ev, compile_spec(
            {"$schema": "http://json-schema.org/draft-04/schema#", **body},
            ev.schema),
        id_cols=("event_id",)).withColumn("draft", F.lit(4))
    v7 = violations(
        ev, compile_spec(
            {"$schema": "http://json-schema.org/draft-07/schema#", **body},
            ev.schema),
        id_cols=("event_id",)).withColumn("draft", F.lit(7))
    return v4.unionByName(v7)


def q_kw_struct_addl(spark, sf_dir):
    """additionalProperties on a TYPED STRUCT (round 4): fields outside
    properties/patternProperties are presence-gated — 'false' rejects a
    present extra member (reference additional_properties.rs:79-864; was a
    closed-world no-op before the suite replay exposed it)."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.struct(
            (F.col("event_id") % 7).cast("int").alias("k"),
            F.when(F.col("event_id") % 3 == 0,
                   (F.col("event_id") % 100).cast("int")).alias("extra"),
        ).alias("cfg"),
    )
    spec = {"properties": {"cfg": {
        "properties": {"k": {"minimum": 0}},
        "additionalProperties": False}}}
    return violations(ev, compile_spec(spec, ev.schema),
                      id_cols=("event_id",))


def q_kw_ref_siblings(spark, sf_dir):
    """$ref sibling keywords are draft-dependent (round 4): drafts 4-7
    REPLACE (siblings ignored, draft-7 spec §8.3) while 2019-09+ evaluates
    them conjunctively (allOf merge) — the union makes both semantics
    value-visible to the oracle."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.sequence(F.lit(1),
                   (F.col("event_id") % 4 + 1).cast("int")).alias("arr"),
    )
    body = {"definitions": {"reffed": {"maxItems": 2}},
            "properties": {"arr": {"$ref": "#/definitions/reffed",
                                   "minItems": 4}}}
    v7 = violations(ev, compile_spec(body, ev.schema, EngineOptions(
        draft=7)), id_cols=("event_id",)).withColumn("draft", F.lit(7))
    v19 = violations(ev, compile_spec(body, ev.schema, EngineOptions(
        draft=2019)), id_cols=("event_id",)).withColumn(
        "draft", F.lit(2019))
    return v7.unionByName(v19)


def q_kw_json_ingest(spark, sf_dir):
    """Arbitrary-JSON ingestion (round 5): documents rendered to raw JSON
    text with deterministically planted malformed / wrong-typed /
    missing-member variants, validated by the variant-native path
    (``json_ingest.validate_json_strings`` — the analogue of the
    reference accepting ANY parsed JSON, ``validator.rs:29-33``)."""
    from jsonschema_rs_spark.json_ingest import validate_json_strings

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .filter(F.col("lang").isNotNull() & F.col("source").isNotNull()
                 & F.col("n_chars").isNotNull()))
    js = (F.when(F.col("doc_id") % 19 == 0, F.lit("{unclosed"))
          .otherwise(F.concat(
              F.lit('{"id":'), F.col("doc_id").cast("string"),
              F.when(F.col("doc_id") % 17 == 0, F.lit(""))
               .otherwise(F.concat(F.lit(',"lang":"'), F.col("lang"),
                                   F.lit('"'))),
              F.lit(',"n_chars":'),
              F.when(F.col("doc_id") % 13 == 0,
                     F.concat(F.lit('"'), F.col("n_chars").cast("string"),
                              F.lit('"')))
               .otherwise(F.col("n_chars").cast("string")),
              F.lit(',"source":"'), F.col("source"), F.lit('"}'))))
    spec = {
        "properties": {
            "id": {"type": "integer", "minimum": 0},
            "lang": {"type": "string", "minLength": 2},
            "n_chars": {"type": "integer", "maximum": 400},
            "source": {"type": "string", "pattern": "^src[0-9]+$"},
        },
        "required": ["id", "lang"],
    }
    return validate_json_strings(
        d.select("doc_id", js.alias("js")), "js", spec)


def q_kw_map_deps(spark, sf_dir):
    """dependentRequired / propertyNames / minProperties over a MAP column
    with dynamic keys (constructed deterministically from event_id)."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.when(F.col("event_id") % 4 == 0,
               F.create_map(F.lit("a"), F.lit(1)))
        .when(F.col("event_id") % 4 == 1,
              F.create_map(F.lit("a"), F.lit(1), F.lit("b"), F.lit(2)))
        .when(F.col("event_id") % 4 == 2,
              F.create_map(F.lit("b"), F.lit(2), F.lit("BAD KEY"), F.lit(3)))
        .otherwise(F.create_map().cast("map<string,int>"))
        .alias("props2"),
    )
    spec = {"properties": {"props2": {
        "dependentRequired": {"a": ["b"]},
        "propertyNames": {"pattern": "^[a-z]+$"},
        "minProperties": 1,
    }}}
    return violations(ev, compile_spec(spec, ev.schema), id_cols=("event_id",))


def q_kw_uneval_map(spark, sf_dir):
    """Map-typed unevaluatedProperties with CONDITIONAL claims (round 3):
    anyOf branches claim their members only when the branch validates, so a
    failing branch's members surface as unevaluated."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.when(F.col("event_id") % 4 == 0,
               F.create_map(F.lit("a"), F.lit(1)))
        .when(F.col("event_id") % 4 == 1,
              F.create_map(F.lit("a"), F.lit(-5), F.lit("b"), F.lit(2)))
        .when(F.col("event_id") % 4 == 2,
              F.create_map(F.lit("a"), F.lit(1), F.lit("c"), F.lit(3)))
        .otherwise(F.create_map(F.lit("b"), F.lit(2)))
        .alias("props3"),
    )
    spec = {"properties": {"props3": {
        "anyOf": [
            {"required": ["a"], "properties": {"a": {"minimum": 0}}},
            {"required": ["b"], "properties": {"b": {"minimum": 0}}},
        ],
        "unevaluatedProperties": False,
    }}}
    return violations(ev, compile_spec(spec, ev.schema), id_cols=("event_id",))


def q_kw_uneval_items(spark, sf_dir):
    """unevaluatedItems with CONDITIONAL if/then/else prefix claims: the
    claimed prefix length depends on the runtime span count (>= 30 spans
    claims 30, otherwise 5); unevaluated spans must be kind 'text'.
    Round 4: one violation row PER FAILING POSITION (doc, constraint,
    span_index, observed = the element), reference unevaluated_items.rs
    per-item error semantics.  Spans are narrowed to a null-free
    (kind, offset) struct so the JSON observed is oracle-deterministic."""
    df = derive_spans(spark, sf_dir).select(
        "doc_id",
        F.transform(
            "spans",
            lambda x: F.struct(x["kind"].alias("kind"),
                               x["offset"].alias("offset")),
        ).alias("spans"),
        "part_key",
    )
    spec = _span_spec({
        "if": {"minItems": 30},
        "then": {"prefixItems": [True] * 30},
        "else": {"prefixItems": [True] * 5},
        "unevaluatedItems": {"properties": {"kind": {"const": "text"}}},
    })
    return violations(df, compile_spec(spec, df.schema))


def q_dedup_components(spark, sf_dir):
    """Duplicate-cluster resolution: connected components (min-label
    propagation) over a deterministic chain edge list — pairs from the
    pair-emitting dedup ops chain transitively; the component minimum is
    the canonical keeper (round 3)."""
    d = _docs(spark, sf_dir).select("doc_id")
    edges = d.filter(F.col("doc_id") % 10 < 3).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"))
    return DD.connected_components_min(edges)


def q_dedup_keepers(spark, sf_dir):
    """End-to-end dedup closure (round 4): pairs → connected components →
    broadcast-anti-join keep-list.  Same deterministic chain edges as
    dedup_components; the surviving corpus is every doc except non-rep
    cluster members."""
    d = _docs(spark, sf_dir).select("doc_id")
    edges = d.filter(F.col("doc_id") % 10 < 3).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"))
    return DD.dedup_keepers(d, "doc_id", edges)


def q_ds_hash_split(spark, sf_dir):
    """Deterministic md5-bucketed train/val/test splitting (round 3):
    assignment is a pure function of the id — stable across reruns and
    partitionings, reproducible outside Spark."""
    d = _docs(spark, sf_dir).select("doc_id")
    return DS.hash_split(d, "doc_id",
                         {"train": 0.8, "val": 0.1, "test": 0.1})


def _hash_split_oracle_sql() -> str:
    # thresholds must accumulate EXACTLY like the engine's float loop
    # (0.8 + 0.1 = 0.9000000000000001 in IEEE doubles)
    t_train = 0.8 / 1.0
    t_val = t_train + 0.1 / 1.0
    return f"""
SELECT doc_id,
       CASE WHEN u < {t_train!r} THEN 'train'
            WHEN u < {t_val!r} THEN 'val'
            ELSE 'test' END AS split
FROM (
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'),
                                1, 12)) AS BIGINT)
               / CAST(power(16, 12) AS DOUBLE) AS u
    FROM documents)
"""


def q_ds_psi_drift(spark, sf_dir):
    """Population Stability Index of events.value vs a uniform 10-bin
    reference over [0, 100) — the standard ML-pipeline drift gate
    (round 3; complements chi2/KS)."""
    ev = _events(spark, sf_dir)
    return DS.psi_drift(ev, "value", ref_shares=[0.1] * 10,
                        bounds=(0.0, 100.0), threshold=0.2)


def _psi_oracle_sql() -> str:
    n, lo, width, eps, thr = 10, 0.0, 10.0, 1e-4, 0.2
    sums = ",\n           ".join(
        f"sum(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS n{i}"
        for i in range(n))
    terms = " + ".join(
        f"((greatest(n{i} / tot, {eps}) - 0.1)"
        f" * ln(greatest(n{i} / tot, {eps}) / 0.1))"
        for i in range(n))
    return f"""
WITH binned AS (
    SELECT least(greatest(CAST(floor((value - {lo}) / {width}) AS BIGINT),
                          0), {n - 1}) AS b
    FROM events WHERE value IS NOT NULL
), agg AS (
    SELECT count(*) AS n_rows,
           {sums}
    FROM binned
), shares AS (
    SELECT n_rows, CAST(n_rows AS DOUBLE) AS tot, * FROM agg
)
SELECT n_rows,
       CASE WHEN n_rows > 0 THEN round({terms}, 6) END AS psi,
       (n_rows > 0 AND ({terms}) > {thr}) AS drifted
FROM shares
"""


def q_apply_basic(spark, sf_dir):
    """Basic-output error units with JSON-Pointer locations + typed kinds
    (reference apply().basic(), output.rs:104-200; VERDICT r01 #6)."""
    from jsonschema_rs_spark.plans.validate import basic_output

    df = derive_spans(spark, sf_dir)
    spec = {
        "$defs": {"spanChecks": {"items": {"properties": {
            "kind": {"enum": ["text","image","audio"]},
            "text": {"minLength": 4},
            "offset": {"minimum": 0, "multipleOf": 8},
        }}}},
        "properties": {"spans": {"$ref": "#/$defs/spanChecks"}},
    }
    return basic_output(df, compile_spec(spec, df.schema))


def q_apply_units(spark, sf_dir):
    """BOTH-polarity basic-output units (VERDICT r02 #6: opt-in annotation
    units for PASSING keywords, reference output.rs:104-200) on a 1/32
    part_key slice — the stream is O(spans x keywords) by design."""
    from jsonschema_rs_spark.plans.validate import basic_output

    df = derive_spans(spark, sf_dir).filter(F.col("part_key") == 3)
    spec = {
        "$defs": {"spanChecks": {"items": {"properties": {
            "kind": {"enum": ["text","image","audio"]},
            "offset": {"minimum": 0},
        }}}},
        "properties": {"spans": {"$ref": "#/$defs/spanChecks"}},
    }
    return basic_output(df, compile_spec(spec, df.schema),
                        include_annotations=True)


def q_kw_content(spark, sf_dir):
    """contentEncoding/contentMediaType over deterministically planted
    corruption (VERDICT r01 #10: the only implemented keywords with no
    driver-oracle evidence)."""
    b64 = F.base64(F.encode(F.substring("text", 1, 8), "utf-8"))
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit("!!"), b64))
        .otherwise(b64).alias("b64"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("{broken"))
        .otherwise(F.lit('{"k": 1}')).alias("js"),
    )
    spec = {"properties": {"b64": {"contentEncoding": "base64"},
                           "js": {"contentMediaType": "application/json"}}}
    return violations(d, compile_spec(spec, d.schema))


def q_ds_stats_bounds(spark, sf_dir):
    fs = flat_spans(spark, sf_dir)
    return fs.groupBy("part_key").agg(
        F.round(F.avg(F.col("text").isNull().cast("double")), 6).alias(
            "text_null_rate"),
        F.min("offset").alias("offset_min"),
        F.max("offset").alias("offset_max"),
        F.countDistinct("kind").alias("kind_distinct"),
    )


def q_ds_unique(spark, sf_dir):
    return DS.uniqueness_violations(_events(spark, sf_dir), ["user_id"])


def q_ds_ref_integrity(spark, sf_dir):
    """Catalog = the distinct refs whose numeric id isn't 0 mod 16 (planted
    holes).  The catalog is defined over the fact side's own key universe,
    so ``catalog_pred`` derives both anti-join sides from ONE aggregated
    subtree — the plan reuses the exchange and scans the input once
    instead of twice (round 6)."""
    fs = flat_spans(spark, sf_dir)
    refs = fs.filter(F.col("media_ref").isNotNull())
    return DS.referential_violations(
        refs, "media_ref",
        catalog_pred=lambda c: F.substring(c, 9, 12).cast("int") % 16 != 0)


def q_ds_ref_orders(spark, sf_dir):
    """Referential integrity over the relational side tables: orders whose
    o_custkey is missing from a (planted-holes) customer catalog — same
    broadcast anti-join plan as the media_ref check, different fact/dim."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .filter(F.col("c_custkey") % 7 != 0))
    out = DS.referential_violations(orders, "o_custkey", cust, "c_custkey")
    return out.select(F.col("media_ref").cast("bigint").alias("o_custkey"),
                      "n_refs")


def q_ds_chi2_drift(spark, sf_dir):
    fs = flat_spans(spark, sf_dir)
    out = DS.chi_square_drift(fs, "kind", "part_key")
    return out.select(
        "part_key", F.round("chi2", 4).alias("chi2"), "n_rows", "drifted")


def q_ds_ks_drift(spark, sf_dir):
    fs = flat_spans(spark, sf_dir)
    out = DS.ks_drift(fs, "offset", "part_key", n_bins=64)
    return out.select(
        "part_key", F.round("ks_stat", 4).alias("ks_stat"), "drifted")


def q_txt_stats(spark, sf_dir):
    """Fused staged-projection stats pass (round 6): same values as the
    per-metric Columns, with normalize/split/stopword-filter intermediates
    computed once per row instead of up to 8x (they are interpreted
    CodegenFallback HOFs, so runtime CSE never rescued the composed
    form).  ``_ensure_splits``: the single-split sandbox parquet otherwise
    runs the whole regex/HOF projection on ONE core."""
    return T.stats_frame(_ensure_splits(spark, _docs(spark, sf_dir)),
                         "doc_id", "text")


def q_dedup_exact(spark, sf_dir):
    return DD.exact_duplicates(_corpus(spark, sf_dir), "doc_id", "text").select(
        "fp", F.col("n_dups").cast("bigint").alias("n_dups"), "keep_id")


def q_dedup_minhash_lsh(spark, sf_dir):
    """Per-instance shingle hashing.  A distinct-shingle hash dictionary
    broadcast back onto the shingle stream removed ~99% of the md5 work on
    this small-vocabulary corpus, but its localCheckpoint plan-build and
    materialization erased the saving end-to-end (interleaved A/B incl.
    build: plain won 5/7 rounds, min 4.65s vs 5.33s), so the operator has
    only the per-instance plan."""
    return DD.minhash_lsh_pairs(_corpus(spark, sf_dir), "doc_id", "text",
                                n=3, n_hashes=16, bands=4)


def q_dedup_ngram_jaccard(spark, sf_dir):
    out = DD.ngram_jaccard_pairs(_corpus(spark, sf_dir), "doc_id", "text",
                                 n=3, threshold=0.8)
    return out.select(
        "id_a", "id_b", F.col("inter").cast("bigint").alias("inter"),
        F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    d = _ensure_splits(spark, _docs(spark, sf_dir))
    return DD.simhash_table(d, "doc_id", "text")


def q_dedup_simhash_pairs(spark, sf_dir):
    """Hamming-verified simhash near-dup pairs within band buckets
    (round 3: completes the simhash family — signature table + blocking
    existed; this adds the verified pair output)."""
    return DD.simhash_pairs(_corpus(spark, sf_dir), "doc_id", "text",
                            max_hamming=3, n_bands=4)


def q_sim_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return SIM.cosine_topk(emb, q, k=10)


def q_sim_lsh_ann(spark, sf_dir):
    """LSH ANN with DATA-DERIVED hyperplanes (corpus vectors 10..25) so the
    signature → band-bucket → exact-rerank pipeline has a full DuckDB
    value-level oracle (VERDICT r01 #2)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    planes = SIM.data_hyperplanes(emb, ids=tuple(range(10, 26)))
    return SIM.lsh_ann_topk(emb, q, k=10, bands=4, planes=planes)


def q_sim_ivf_ann(spark, sf_dir):
    """IVF ANN with the SQL-reproducible lowest-id quantizer (16 centroids,
    nprobe=6); the kmeans quantizer is recall-tested in pytest."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return SIM.ivf_ann_topk(emb, q, k=10, n_centroids=16, nprobe=6)


def q_sim_near_dup(spark, sf_dir):
    """Embedding near-duplicate pairs within LSH buckets, with data-derived
    hyperplanes so DuckDB reproduces buckets and cosines exactly."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clone = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(clone)
    planes = SIM.data_hyperplanes(emb, ids=tuple(range(10, 26)))
    return SIM.near_duplicates_cosine(corpus, threshold=0.99, bands=4,
                                      planes=planes)


def q_kw_logic(spark, sf_dir):
    """Combinators end-to-end (anyOf/oneOf/not/if-then) over the span table —
    driver-oracle evidence for SURVEY §2.5 beyond fixtures.  Combinators sit
    at the FIELD level so observed values stay scalar (SQL-mirrorable)."""
    spec = _span_spec({"items": {
        "properties": {"offset": {
            "anyOf": [{"maximum": 256}, {"multipleOf": 3}],
            "not": {"multipleOf": 5},
            "oneOf": [{"minimum": 0}, {"maximum": 0}],
        }},
        "if": {"properties": {"kind": {"const": "text"}}},
        "then": {"properties": {"text": {"minLength": 4}}},
    }})
    df = derive_spans(spark, sf_dir)
    return violations(df, compile_spec(spec, df.schema))


def q_mm_media_features(spark, sf_dir):
    fs = flat_spans(spark, sf_dir)
    media = (
        fs.filter(F.col("media_ref").isNotNull())
        .select("media_ref", F.col("kind").alias("media_kind"))
        .distinct()
    )
    media = MM.attach_fake_payload(media)
    feats = MM.extract_media_features(media)
    return feats.select("media_ref", "media_kind", "n_bytes", "header_hex")


def q_mm_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: one media row fans out to 4 deterministic
    byte-slice 'frames' (stub for ffmpeg extraction); the mapInPandas
    fan-out shape and frame offsets are oracle-checked exactly."""
    fs = flat_spans(spark, sf_dir)
    media = (
        fs.filter(F.col("media_ref").isNotNull())
        .select("media_ref", F.col("kind").alias("media_kind"))
        .distinct()
    )
    media = MM.attach_fake_payload(media)
    frames = MM.sample_frames(media, n_frames=4, frame_bytes=8)
    return frames.select(
        "media_ref", "media_kind",
        F.col("frame_index").cast("int").alias("frame_index"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full constraint-suite violation rows at sf0.001."""
    return flagship_violations(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "flagship_violations": q_flagship,
        "verdict_rollup": q_rollup,
        "flagship_verdicts": q_flagship_verdicts,
        "kw_enum": q_kw_enum,
        "kw_minimum": q_kw_minimum,
        "kw_multiple_of": q_kw_multiple_of,
        "kw_min_length": q_kw_min_length,
        "kw_pattern": q_kw_pattern,
        "kw_prefix_tuple": q_kw_prefix_tuple,
        "kw_items_bounds": q_kw_items_bounds,
        "kw_contains": q_kw_contains,
        "kw_unique_items": q_kw_unique_items,
        "kw_map_props": q_kw_map_props,
        "kw_format_date": q_kw_format_date,
        "kw_content": q_kw_content,
        "kw_logic": q_kw_logic,
        "kw_bounds": q_kw_bounds,
        "kw_draft4_integer": q_kw_draft4_integer,
        "kw_struct_addl": q_kw_struct_addl,
        "kw_ref_siblings": q_kw_ref_siblings,
        "kw_json_ingest": q_kw_json_ingest,
        "kw_map_deps": q_kw_map_deps,
        "kw_uneval_map": q_kw_uneval_map,
        "kw_uneval_items": q_kw_uneval_items,
        "ds_psi_drift": q_ds_psi_drift,
        "ds_hash_split": q_ds_hash_split,
        "dedup_components": q_dedup_components,
        "dedup_keepers": q_dedup_keepers,
        "apply_basic": q_apply_basic,
        "apply_units": q_apply_units,
        "ds_stats_bounds": q_ds_stats_bounds,
        "ds_unique": q_ds_unique,
        "ds_ref_integrity": q_ds_ref_integrity,
        "ds_ref_orders": q_ds_ref_orders,
        "ds_chi2_drift": q_ds_chi2_drift,
        "ds_ks_drift": q_ds_ks_drift,
        "txt_stats": q_txt_stats,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "sim_topk": q_sim_topk,
        "sim_lsh_ann": q_sim_lsh_ann,
        "sim_ivf_ann": q_sim_ivf_ann,
        "sim_near_dup": q_sim_near_dup,
        "mm_media_features": q_mm_media_features,
        "mm_frame_sample": q_mm_frame_sample,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_FLAGSHIP_VIOLATIONS_SELECT = """
SELECT doc_id, 'spans/items/kind/enum' AS constraint_id, span_index,
       kind AS observed
FROM spans WHERE kind NOT IN ('text', 'image', 'audio')
UNION ALL
SELECT doc_id, 'spans/items/text/minLength', span_index, text
FROM spans WHERE text IS NOT NULL AND len(text) < 4
UNION ALL
SELECT doc_id, 'spans/items/offset/minimum', span_index,
       CAST("offset" AS VARCHAR)
FROM spans WHERE "offset" < 0
UNION ALL
SELECT doc_id, 'spans/items/offset/multipleOf', span_index,
       CAST("offset" AS VARCHAR)
FROM spans WHERE "offset" % 8 <> 0
"""

_SHINGLE_SQL = f"""
words AS (
    SELECT id, string_split({_NORM_SQL}, ' ') AS ws FROM corpus
),
sh AS (
    SELECT id, list_distinct(
        list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
    ) AS shingles FROM words
),
shf AS (SELECT id, shingles FROM sh WHERE len(shingles) > 0),
e AS (SELECT id, unnest(shingles) AS s FROM shf)
"""


def oracle_sql() -> dict[str, str]:
    sig_cols = ", ".join(
        f"max(CASE WHEN hi = {i} THEN mn END) AS h{i}" for i in range(16)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT id, {b} AS band, md5({expr}) AS bucket FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"h{b * 4 + r}" for r in range(4)),
        )
        for b in range(4)
    )
    return {
        "flagship_violations": SPANS_CTE_SQL + _FLAGSHIP_VIOLATIONS_SELECT,
        "flagship_verdicts": SPANS_CTE_SQL + f"""
, v AS ({_FLAGSHIP_VIOLATIONS_SELECT})
, d AS (
    SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id
    FROM documents
)
SELECT doc_id, doc_id NOT IN (SELECT doc_id FROM v) AS valid FROM d
""",
        "verdict_rollup": SPANS_CTE_SQL + f"""
, v AS ({_FLAGSHIP_VIOLATIONS_SELECT})
, vc AS (SELECT doc_id, count(*) AS c FROM v GROUP BY doc_id)
, d AS (
    SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id,
           CAST(doc_id % 32 AS INTEGER) AS part_key
    FROM documents
)
SELECT part_key,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS valid_docs,
       CAST(sum(coalesce(c, 0)) AS BIGINT) AS violation_rows,
       (count(*) = sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END)) AS pass
FROM d LEFT JOIN vc USING (doc_id)
GROUP BY part_key
""",
        "kw_enum": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/items/kind/enum' AS constraint_id, span_index,
       kind AS observed
FROM spans WHERE kind NOT IN ('text', 'image', 'audio')
""",
        "kw_minimum": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/items/offset/minimum' AS constraint_id, span_index,
       CAST("offset" AS VARCHAR) AS observed
FROM spans WHERE "offset" < 0
""",
        "kw_multiple_of": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/items/offset/multipleOf' AS constraint_id, span_index,
       CAST("offset" AS VARCHAR) AS observed
FROM spans WHERE "offset" % 8 <> 0
UNION ALL
SELECT 'ev-' || CAST(event_id AS VARCHAR) AS doc_id,
       'ratio/multipleOf' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       CAST(1.0 + (event_id % 1000) / 10000.0 AS VARCHAR) AS observed
FROM events WHERE (10000 + event_id % 1000) % 3 <> 0
""",
        "kw_min_length": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/items/text/minLength' AS constraint_id, span_index,
       text AS observed
FROM spans WHERE text IS NOT NULL AND len(text) < 4
""",
        "kw_pattern": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/items/media_ref/pattern' AS constraint_id, span_index,
       media_ref AS observed
FROM spans
WHERE media_ref IS NOT NULL AND NOT regexp_matches(media_ref, '^media://[0-3]')
""",
        "kw_prefix_tuple": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/prefixItems/0/kind/const' AS constraint_id, span_index,
       kind AS observed
FROM spans WHERE span_index = 0 AND kind <> 'text'
UNION ALL
SELECT doc_id, 'spans/prefixItems/1/offset/maximum', span_index,
       CAST("offset" AS VARCHAR)
FROM spans WHERE span_index = 1 AND "offset" > 0
""",
        "kw_items_bounds": """
WITH d AS (
    SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id,
           len(string_split(text, ' ')) AS n
    FROM documents
)
SELECT doc_id, 'spans/minItems' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index, CAST(n AS VARCHAR) AS observed
FROM d WHERE n < 5
UNION ALL
SELECT doc_id, 'spans/maxItems', CAST(NULL AS INTEGER), CAST(n AS VARCHAR)
FROM d WHERE n > 60
""",
        "kw_contains": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/contains' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       CAST(count(*) FILTER (WHERE kind = 'image') AS VARCHAR) AS observed
FROM spans GROUP BY doc_id
HAVING count(*) FILTER (WHERE kind = 'image') = 0
""",
        "kw_unique_items": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/uniqueItems' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       CAST(count(*) - count(DISTINCT (kind, text, media_ref, "offset" % 16))
            AS VARCHAR) AS observed
FROM spans GROUP BY doc_id
HAVING count(*) > count(DISTINCT (kind, text, media_ref, "offset" % 16))
""",
        "kw_map_props": """
SELECT event_id, 'props/k' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       json_extract_string(props, '$.k') AS observed
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
""",
        "kw_draft4_integer": """
WITH ev AS (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0
              THEN CAST(event_id % 100000 AS DOUBLE)
              ELSE (event_id % 100000) + 0.5 END AS ratio
  FROM events
)
SELECT event_id, 'ratio/type' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       CAST(ratio AS VARCHAR) AS observed, 4 AS draft
FROM ev
UNION ALL
SELECT event_id, 'ratio/type' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       CAST(ratio AS VARCHAR) AS observed, 7 AS draft
FROM ev WHERE ratio <> floor(ratio)
""",
        "kw_json_ingest": """
WITH d AS (
  SELECT doc_id, lang, source, n_chars FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL
)
SELECT doc_id, 'json/parse' AS constraint_id, '{unclosed' AS observed
FROM d WHERE doc_id % 19 = 0
UNION ALL
SELECT doc_id, 'required/lang', 'missing'
FROM d WHERE doc_id % 19 <> 0 AND doc_id % 17 = 0
UNION ALL
SELECT doc_id, 'lang/minLength', lang
FROM d WHERE doc_id % 19 <> 0 AND doc_id % 17 <> 0 AND length(lang) < 2
UNION ALL
SELECT doc_id, 'n_chars/type', CAST(n_chars AS VARCHAR)
FROM d WHERE doc_id % 19 <> 0 AND doc_id % 13 = 0
UNION ALL
SELECT doc_id, 'n_chars/maximum', CAST(n_chars AS VARCHAR)
FROM d WHERE doc_id % 19 <> 0 AND doc_id % 13 <> 0 AND n_chars > 400
""",
        "kw_struct_addl": """
SELECT event_id, 'cfg/additionalProperties/extra' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       CAST(event_id % 100 AS VARCHAR) AS observed
FROM events WHERE event_id % 3 = 0
""",
        "kw_ref_siblings": """
WITH ev AS (SELECT event_id, event_id % 4 + 1 AS n FROM events)
SELECT event_id, 'arr/maxItems' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       CAST(n AS VARCHAR) AS observed, 7 AS draft
FROM ev WHERE n > 2
UNION ALL
SELECT event_id, 'arr/allOf/0/maxItems' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       CAST(n AS VARCHAR) AS observed, 2019 AS draft
FROM ev WHERE n > 2
UNION ALL
SELECT event_id, 'arr/allOf/1/minItems' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       CAST(n AS VARCHAR) AS observed, 2019 AS draft
FROM ev WHERE n < 4
""",
        "kw_format_date": """
SELECT event_id, 'd/format' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       '2024-13-45' AS observed
FROM events WHERE event_id % 10 = 0
""",
        "kw_bounds": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/items/offset/exclusiveMinimum' AS constraint_id,
       span_index, CAST("offset" AS VARCHAR) AS observed
FROM spans WHERE "offset" <= -16
UNION ALL
SELECT doc_id, 'spans/items/offset/exclusiveMaximum', span_index,
       CAST("offset" AS VARCHAR)
FROM spans WHERE "offset" >= 256
UNION ALL
SELECT doc_id, 'spans/items/text/maxLength', span_index, text
FROM spans WHERE text IS NOT NULL AND len(text) > 6
""",
        "kw_map_deps": """
SELECT event_id, 'props2/dependentRequired/a' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index, 'missing' AS observed
FROM events WHERE event_id % 4 = 0
UNION ALL
SELECT event_id, 'props2/propertyNames', CAST(NULL AS INTEGER),
       '["b","BAD KEY"]'
FROM events WHERE event_id % 4 = 2
UNION ALL
SELECT event_id, 'props2/minProperties', CAST(NULL AS INTEGER), '0'
FROM events WHERE event_id % 4 = 3
""",
        "apply_basic": SPANS_CTE_SQL + """
SELECT doc_id, FALSE AS valid,
       '/properties/spans/items/properties/kind/enum' AS keyword_location,
       '#/$defs/spanChecks/items/properties/kind/enum' AS absolute_keyword_location,
       '/spans/' || span_index || '/kind' AS instance_path,
       'Enum' AS kind,
       'spans/items/kind/enum' AS constraint_id, span_index,
       kind AS observed,
       kind || ' is not one of ["text","image","audio"]'
           || ' at span ' || span_index AS message
FROM spans WHERE kind NOT IN ('text', 'image', 'audio')
UNION ALL
SELECT doc_id, FALSE,
       '/properties/spans/items/properties/text/minLength',
       '#/$defs/spanChecks/items/properties/text/minLength',
       '/spans/' || span_index || '/text',
       'MinLength',
       'spans/items/text/minLength', span_index, text,
       '"' || text || '" is shorter than 4 characters'
           || ' at span ' || span_index
FROM spans WHERE text IS NOT NULL AND len(text) < 4
UNION ALL
SELECT doc_id, FALSE,
       '/properties/spans/items/properties/offset/minimum',
       '#/$defs/spanChecks/items/properties/offset/minimum',
       '/spans/' || span_index || '/offset',
       'Minimum',
       'spans/items/offset/minimum', span_index,
       CAST("offset" AS VARCHAR),
       "offset" || ' is less than the minimum of 0'
           || ' at span ' || span_index
FROM spans WHERE "offset" < 0
UNION ALL
SELECT doc_id, FALSE,
       '/properties/spans/items/properties/offset/multipleOf',
       '#/$defs/spanChecks/items/properties/offset/multipleOf',
       '/spans/' || span_index || '/offset',
       'MultipleOf',
       'spans/items/offset/multipleOf', span_index,
       CAST("offset" AS VARCHAR),
       "offset" || ' is not a multiple of 8'
           || ' at span ' || span_index
FROM spans WHERE "offset" % 8 <> 0
""",
        "ds_ref_orders": """
SELECT o_custkey, count(*) AS n_refs
FROM orders
WHERE o_custkey IS NOT NULL
  AND o_custkey NOT IN (SELECT c_custkey FROM customer
                        WHERE c_custkey % 7 <> 0)
GROUP BY o_custkey
""",
        "ds_psi_drift": _psi_oracle_sql(),
        "ds_hash_split": _hash_split_oracle_sql(),
        "dedup_components": """
WITH RECURSIVE e AS (
    SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 10 < 3
),
sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
v AS (SELECT DISTINCT a AS id FROM sym),
reach(id, r) AS (
    SELECT id, id FROM v
    UNION
    SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
)
SELECT id, min(r) AS rep FROM reach GROUP BY id
""",
        "dedup_keepers": """
WITH RECURSIVE e AS (
    SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 10 < 3
),
sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
v AS (SELECT DISTINCT a AS id FROM sym),
reach(id, r) AS (
    SELECT id, id FROM v
    UNION
    SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
),
comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> rep)
""",
        "kw_uneval_map": """
SELECT event_id, 'props3/unevaluatedProperties' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       '["a"]' AS observed
FROM events WHERE event_id % 4 = 1
UNION ALL
SELECT event_id, 'props3/unevaluatedProperties', CAST(NULL AS INTEGER),
       '["c"]'
FROM events WHERE event_id % 4 = 2
""",
        "kw_uneval_items": SPANS_CTE_SQL + """
SELECT doc_id,
       'spans/unevaluatedItems' AS constraint_id,
       span_index,
       '{"kind":"' || kind || '","offset":' || "offset" || '}' AS observed
FROM (SELECT s.*, count(*) OVER (PARTITION BY doc_id) AS cnt
      FROM spans s) t
WHERE span_index >= (CASE WHEN cnt >= 30 THEN 30 ELSE 5 END)
  AND kind <> 'text'
""",
        "apply_units": SPANS_CTE_SQL + """
SELECT doc_id,
       spans.kind IN ('text', 'image', 'audio') AS valid,
       '/properties/spans/items/properties/kind/enum' AS keyword_location,
       '#/$defs/spanChecks/items/properties/kind/enum' AS absolute_keyword_location,
       '/spans/' || span_index || '/kind' AS instance_path,
       'Enum' AS kind,
       'spans/items/kind/enum' AS constraint_id, span_index,
       spans.kind AS observed,
       CASE WHEN spans.kind IN ('text', 'image', 'audio') THEN NULL
            ELSE spans.kind || ' is not one of ["text","image","audio"]'
                 || ' at span ' || span_index END AS message
FROM spans WHERE part_key = 3
UNION ALL
SELECT doc_id,
       "offset" >= 0,
       '/properties/spans/items/properties/offset/minimum',
       '#/$defs/spanChecks/items/properties/offset/minimum',
       '/spans/' || span_index || '/offset',
       'Minimum',
       'spans/items/offset/minimum', span_index,
       CAST("offset" AS VARCHAR),
       CASE WHEN "offset" >= 0 THEN NULL
            ELSE "offset" || ' is less than the minimum of 0'
                 || ' at span ' || span_index END
FROM spans WHERE part_key = 3
""",
        "kw_content": """
WITH b AS (
    SELECT doc_id, to_base64(encode(substr(text, 1, 8))) AS b64
    FROM documents
)
SELECT doc_id, 'b64/contentEncoding' AS constraint_id,
       CAST(NULL AS INTEGER) AS span_index,
       '!!' || b64 AS observed
FROM b WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id, 'js/contentMediaType', CAST(NULL AS INTEGER), '{broken'
FROM documents WHERE doc_id % 5 = 0
""",
        "ds_stats_bounds": SPANS_CTE_SQL + """
SELECT part_key,
       round(avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END), 6)
           AS text_null_rate,
       min("offset") AS offset_min,
       max("offset") AS offset_max,
       CAST(count(DISTINCT kind) AS BIGINT) AS kind_distinct
FROM spans GROUP BY part_key
""",
        "ds_unique": """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_dups
FROM events GROUP BY user_id HAVING count(*) > 1
""",
        "ds_ref_integrity": SPANS_CTE_SQL + """
SELECT media_ref, CAST(count(*) AS BIGINT) AS n_refs
FROM spans
WHERE media_ref IS NOT NULL
  AND CAST(substr(media_ref, 9) AS INTEGER) % 16 = 0
GROUP BY media_ref
""",
        "ds_chi2_drift": SPANS_CTE_SQL + """
, h AS (SELECT part_key, kind, CAST(count(*) AS DOUBLE) AS n
        FROM spans GROUP BY 1, 2)
, g AS (SELECT kind, sum(n) AS gn FROM h GROUP BY 1)
, t AS (SELECT part_key, sum(n) AS pn FROM h GROUP BY 1)
, gt AS (SELECT sum(gn) AS gtot FROM g)
, c AS (
    SELECT h.part_key,
           sum((h.n - g.gn / gt.gtot * t.pn) * (h.n - g.gn / gt.gtot * t.pn)
               / (g.gn / gt.gtot * t.pn)) AS chi2,
           sum(h.n) AS n
    FROM h JOIN g USING (kind) JOIN t USING (part_key) CROSS JOIN gt
    GROUP BY h.part_key
)
SELECT part_key, round(chi2, 4) AS chi2, CAST(n AS BIGINT) AS n_rows,
       (chi2 > 27.0) AS drifted
FROM c
""",
        "ds_ks_drift": SPANS_CTE_SQL + """
, mm AS (SELECT CAST(min("offset") AS DOUBLE) AS lo,
                CAST(max("offset") AS DOUBLE) AS hi FROM spans)
, b AS (SELECT part_key,
               least(63, CAST(floor(("offset" - lo) / ((hi - lo) / 64))
                              AS BIGINT)) AS bucket
        FROM spans, mm)
, h AS (SELECT part_key, bucket, count(*) AS n FROM b GROUP BY 1, 2)
, g AS (SELECT bucket, sum(n) AS gn FROM h GROUP BY 1)
, pc AS (SELECT part_key, bucket,
                CAST(sum(n) OVER (PARTITION BY part_key ORDER BY bucket)
                     AS DOUBLE)
                / sum(n) OVER (PARTITION BY part_key) AS p_cdf
         FROM h)
, gc AS (SELECT bucket,
                CAST(sum(gn) OVER (ORDER BY bucket) AS DOUBLE)
                / sum(gn) OVER () AS g_cdf
         FROM g)
, ks AS (SELECT part_key, max(abs(p_cdf - g_cdf)) AS ks_stat
         FROM pc JOIN gc USING (bucket) GROUP BY part_key)
SELECT part_key, round(ks_stat, 4) AS ks_stat, (ks_stat > 0.15) AS drifted
FROM ks
""",
        "txt_stats": f"""
WITH n AS (
    SELECT doc_id, text, {_NORM_SQL} AS norm,
           CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
    FROM documents
),
w AS (
    SELECT doc_id, text, norm, n_tok,
           string_split(norm, ' ') AS ws,
           (len(text) - len(regexp_replace(text, '[^\\sa-zA-Z0-9]', '', 'g')))
               / greatest(len(text), 1)::DOUBLE AS p_ratio,
           CAST(list_sum(list_transform(string_split(norm, ' '),
                                        x -> len(x))) AS DOUBLE)
               / greatest(len(string_split(norm, ' ')), 1) AS mwl
    FROM n
),
s AS (
    SELECT *,
      len(list_filter(ws, x -> x IN
        ('the','and','of','to','a','in','is','it','that','for'))) AS en_hits,
      len(list_filter(ws, x -> x IN
        ('der','die','das','und','ist','nicht','ein','zu','mit'))) AS de_hits,
      len(list_filter(ws, x -> x IN
        ('le','la','les','et','de','un','une','est','pour','que'))) AS fr_hits
    FROM w
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text,
            '[a-z]+|[A-Z][a-z]*|[0-9]+|[^\\sa-zA-Z0-9]')) AS BIGINT)
           AS n_wordpieces,
       round(p_ratio, 6) AS punct_ratio,
       round(mwl, 6) AS mean_word_len,
       CAST(round(
         (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)*0.4
         + (CASE WHEN p_ratio < 0.3 THEN 1.0 ELSE 0.0 END)*0.2
         + (CASE WHEN en_hits / greatest(n_tok, 1)::DOUBLE > 0.01
                 THEN 1.0 ELSE 0.0 END)*0.2
         + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END)*0.2,
         2) AS DOUBLE) AS quality,
       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0
            THEN 'en'
            WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
            WHEN fr_hits > 0 THEN 'fr'
            ELSE 'und' END AS lang_guess,
       md5(norm) AS fp
FROM s
""",
        "dedup_exact": f"""
WITH {_CORPUS_SQL},
fp AS (SELECT id, md5({_NORM_SQL}) AS fp FROM corpus)
SELECT fp, CAST(count(*) AS BIGINT) AS n_dups, min(id) AS keep_id
FROM fp GROUP BY fp HAVING count(*) > 1
""",
        "dedup_minhash_lsh": f"""
WITH {_CORPUS_SQL},
{_SHINGLE_SQL},
mh AS (
    SELECT id, hh.i AS hi,
           min(md5(CAST(hh.i AS VARCHAR) || ':' || s)) AS mn
    FROM e, unnest(range(0, 16)) AS hh(i)
    GROUP BY id, hh.i
),
sig AS (SELECT id, {sig_cols} FROM mh GROUP BY id),
bands AS ({band_selects})
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
""",
        "dedup_ngram_jaccard": f"""
WITH {_CORPUS_SQL},
{_SHINGLE_SQL},
dfreq AS (SELECT s, count(*) AS df_ FROM e GROUP BY s),
ef AS (SELECT e.id, e.s FROM e JOIN dfreq USING (s) WHERE df_ <= 100),
sizes AS (SELECT id, len(shingles) AS n_sh FROM shf),
inter AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
    FROM ef a JOIN ef b ON a.s = b.s AND a.id < b.id
    GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
       round(inter / (sa.n_sh + sb.n_sh - inter)::DOUBLE, 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE inter / (sa.n_sh + sb.n_sh - inter)::DOUBLE >= 0.8
""",
        "dedup_simhash": f"""
WITH words AS (
    SELECT doc_id AS id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
),
w2 AS (SELECT id, unnest(ws) AS w FROM words),
h AS (SELECT id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM w2),
votes AS (
    SELECT id, bb.b AS bit,
           sum(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM h, unnest(range(0, 60)) AS bb(b)
    GROUP BY id, bb.b
)
SELECT id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                         ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY id
""",
        "dedup_simhash_pairs": f"""
WITH corpus AS (
    SELECT doc_id AS id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 50 = 0
),
words AS (
    SELECT id, string_split({_NORM_SQL}, ' ') AS ws FROM corpus
),
w2 AS (SELECT id, unnest(ws) AS w FROM words),
h AS (SELECT id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM w2),
votes AS (
    SELECT id, bb.b AS bit,
           sum(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM h, unnest(range(0, 60)) AS bb(b)
    GROUP BY id, bb.b
),
sh AS (
    SELECT id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                             ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY id
),
bucketed AS (
    SELECT id, simhash, bb.b AS band,
           (simhash >> (bb.b * 15)) & 32767 AS bucket
    FROM sh, unnest(range(0, 4)) AS bb(b)
),
cand AS (
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM bucketed a JOIN bucketed b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
SELECT id_a, id_b, CAST(min(hamming) AS INTEGER) AS hamming
FROM cand WHERE hamming <= 3
GROUP BY id_a, id_b
""",
        "sim_topk": """
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id,
           list_dot_product(CAST(q.embedding AS DOUBLE[]),
                            CAST(c.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))))
           AS cosd
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 5
),
ranked AS (
    SELECT query_id, vec_id, cosd,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosd DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank,
       round(cosd, 6) AS cos
FROM ranked WHERE rank <= 10
""",
        "sim_lsh_ann": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT vec_id - 10 AS pid, CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id >= 10 AND vec_id < 26),
bits AS (
    SELECT e.vec_id, p.pid,
           CASE WHEN list_dot_product(e.v, p.pv) >= 0
                THEN '1' ELSE '0' END AS b
    FROM e CROSS JOIN p
),
sig AS (SELECT vec_id, string_agg(b, '' ORDER BY pid) AS s
        FROM bits GROUP BY vec_id),
bands AS (
    SELECT vec_id, bb.band, substr(s, bb.band * 4 + 1, 4) AS bucket
    FROM sig, unnest(range(0, 4)) AS bb(band)
),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
qb AS (SELECT vec_id AS query_id, band, bucket FROM bands WHERE vec_id < 5),
cand AS (
    SELECT DISTINCT qb.query_id, cb.vec_id
    FROM bands cb JOIN qb ON cb.band = qb.band AND cb.bucket = qb.bucket
),
scored AS (
    SELECT cand.query_id, cand.vec_id,
           list_dot_product(c.v, q.v)
           / (sqrt(list_dot_product(c.v, c.v))
              * sqrt(list_dot_product(q.v, q.v))) AS cosd
    FROM cand
    JOIN e c ON c.vec_id = cand.vec_id
    JOIN q ON q.query_id = cand.query_id
),
ranked AS (
    SELECT query_id, vec_id, cosd,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosd DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, round(cosd, 6) AS cos
FROM ranked WHERE rank <= 10
""",
        "kw_logic": SPANS_CTE_SQL + """
SELECT doc_id, 'spans/items/offset/anyOf' AS constraint_id, span_index,
       CAST("offset" AS VARCHAR) AS observed
FROM spans
WHERE "offset" IS NOT NULL AND NOT ("offset" <= 256 OR "offset" % 3 = 0)
UNION ALL
SELECT doc_id, 'spans/items/offset/not', span_index,
       CAST("offset" AS VARCHAR)
FROM spans WHERE "offset" IS NOT NULL AND "offset" % 5 = 0
UNION ALL
SELECT doc_id, 'spans/items/offset/oneOf', span_index,
       CAST("offset" AS VARCHAR)
FROM spans WHERE "offset" = 0
UNION ALL
SELECT doc_id, 'spans/items/then/text/minLength', span_index, text
FROM spans WHERE kind = 'text' AND text IS NOT NULL AND len(text) < 4
""",
        "sim_near_dup": """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
corpus AS (
    SELECT vec_id AS id, v FROM base
    UNION ALL
    SELECT vec_id + 1000000 AS id, v FROM base WHERE vec_id % 100 = 0
),
p AS (SELECT vec_id - 10 AS pid, v AS pv
      FROM base WHERE vec_id >= 10 AND vec_id < 26),
bits AS (
    SELECT c.id, p.pid,
           CASE WHEN list_dot_product(c.v, p.pv) >= 0
                THEN '1' ELSE '0' END AS b
    FROM corpus c CROSS JOIN p
),
sig AS (SELECT id, string_agg(b, '' ORDER BY pid) AS s FROM bits GROUP BY id),
bands AS (
    SELECT id, bb.band, substr(s, bb.band * 4 + 1, 4) AS bucket
    FROM sig, unnest(range(0, 4)) AS bb(band)
),
pairs AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
scored AS (
    SELECT id_a, id_b,
           list_dot_product(ca.v, cb.v)
           / (sqrt(list_dot_product(ca.v, ca.v))
              * sqrt(list_dot_product(cb.v, cb.v))) AS cosd
    FROM pairs
    JOIN corpus ca ON ca.id = id_a
    JOIN corpus cb ON cb.id = id_b
)
SELECT id_a, id_b, round(cosd, 6) AS cos FROM scored WHERE cosd >= 0.99
""",
        "sim_ivf_ann": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
    FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
),
nd AS (SELECT e.vec_id, c.cid, -list_dot_product(e.v, c.cv) AS ndot
       FROM e CROSS JOIN cents c),
assign AS (
    SELECT vec_id, cid AS bucket FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ndot, cid) AS rn
        FROM nd) WHERE rn = 1
),
qprobe AS (
    SELECT vec_id AS query_id, cid AS bucket FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ndot, cid) AS rn
        FROM nd WHERE vec_id < 5) WHERE rn <= 6
),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
cand AS (
    SELECT qp.query_id, a.vec_id
    FROM qprobe qp JOIN assign a ON a.bucket = qp.bucket
),
scored AS (
    SELECT cand.query_id, cand.vec_id,
           list_dot_product(c.v, q.v)
           / (sqrt(list_dot_product(c.v, c.v))
              * sqrt(list_dot_product(q.v, q.v))) AS cosd
    FROM cand
    JOIN e c ON c.vec_id = cand.vec_id
    JOIN q ON q.query_id = cand.query_id
),
ranked AS (
    SELECT query_id, vec_id, cosd,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosd DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, round(cosd, 6) AS cos
FROM ranked WHERE rank <= 10
""",
        "mm_media_features": SPANS_CTE_SQL + """
SELECT DISTINCT media_ref, kind AS media_kind,
       CAST(8 * len(media_ref) AS INTEGER) AS n_bytes,
       lower(hex(encode(substr(media_ref, 1, 4)))) AS header_hex
FROM spans WHERE media_ref IS NOT NULL
""",
        "mm_frame_sample": SPANS_CTE_SQL + """
, m AS (
    SELECT DISTINCT media_ref, kind AS media_kind
    FROM spans WHERE media_ref IS NOT NULL
),
p AS (SELECT media_ref, media_kind,
             repeat(media_ref, 8) AS payload FROM m),
f AS (
    -- the payload is ascii, so char offsets == byte offsets
    SELECT media_ref, media_kind, t.i AS frame_index,
           substr(payload,
                  CAST((t.i * (len(payload) - 8)) // 3 AS BIGINT) + 1,
                  8) AS frame
    FROM p, unnest(range(0, 4)) AS t(i)
)
SELECT media_ref, media_kind, CAST(frame_index AS INTEGER) AS frame_index,
       lower(hex(encode(frame))) AS frame_hex
FROM f
""",
    }
