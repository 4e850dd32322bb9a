"""Deduplication operators for web-scale training-data pipelines.

Five families, each a DataFrame-in → DataFrame-out operator:

- exact            : hash-groupBy on a normalized fingerprint
- ngram_jaccard    : word-shingle inverted index → candidate pairs →
                     exact Jaccard, thresholded
- minhash_lsh      : per-doc minhash signature (portable md5-string minima),
                     banded into LSH buckets; pairs sharing a band bucket
                     are near-dup candidates
- simhash          : 64-bit simhash from md5-derived token hashes; hamming
                     buckets via band equality
- embedding cosine : see operators/similarity.py (near_duplicates_cosine)

Scale notes: every operator is built around *candidate generation by
bucketing* (shuffle on bucket key, combinable) followed by *verification on
pairs within a bucket* — never an all-pairs cross join.  Hash functions are
md5-based so DuckDB oracles can reproduce values bit-for-bit (Spark's
``hash``/``xxhash64`` are not portable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonschema_rs_spark.functions.text import fingerprint, normalize


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str, text_col: str,
                     sample_ids: int = 0) -> DataFrame:
    """Groups of identical (normalized) documents: ``(fingerprint, n_dups,
    keep_id[, dup_ids])``.  One combinable shuffle on the fingerprint.

    The default output carries only BOUNDED aggregation state (count + min):
    at 100 TB a degenerate fingerprint (empty docs, boilerplate) can have
    millions of members, and a ``collect_list`` of their ids is one reducer
    OOM.  Pass ``sample_ids=k`` to additionally emit the k LOWEST member ids
    (for triage UIs — not for pipeline joins).  The sample is capped BEFORE
    aggregation: a ``row_number`` over the fingerprint ranks members, and
    only rank ≤ k rows enter the ``collect_list``, so the aggregation buffer
    holds ≤ k ids per fingerprint no matter how degenerate the group (the
    window's sort is an ExternalSorter — spillable, unlike agg state)."""
    base = df.select(
        F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp")
    )
    if sample_ids:
        from pyspark.sql import Window

        rn = F.row_number().over(Window.partitionBy("fp").orderBy("id"))
        base = base.withColumn("_rn", rn)
        sample_agg = [
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= sample_ids, F.col("id"))
                )
            ).alias("dup_ids")
        ]
    else:
        sample_agg = []
    out = base.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("id").alias("keep_id"),
        *sample_agg,
    )
    return out.filter(F.col("n_dups") > 1)


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per fingerprint — the actual dedup
    pass.  Window-free: groupBy + semi join keeps it combinable."""
    keep = (
        df.select(F.col(id_col).alias(id_col),
                  fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


# --------------------------------------------------------------------------
# shingles
# --------------------------------------------------------------------------

def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of word n-gram strings over the normalized text (distinct).

    The word array is BOUND as a lambda variable (via the single-element
    ``transform`` wrapper) before the per-shingle lambdas touch it —
    referencing the split expression directly inside the inner lambdas
    would re-evaluate normalize+split per access in Spark's interpreted
    HOF path (measured ~40x slowdown).

    Round 6: shingles assemble by zipping the word array with its own
    1..n-1 shifted slices (``zip_with`` + ``slice``) instead of a
    ``transform`` over an index ``sequence`` doing n ``element_at`` probes
    per shingle — the HOF path is interpreted, and the zip form halves its
    per-element expression count (measured 2x on the shingle stage; output
    verified identical).  ``zip_with`` pads the shorter side with null, so
    the trailing (incomplete) windows null out through ``concat`` and are
    filtered before the distinct."""
    words_expr = F.split(normalize(text), " ")
    _huge = F.lit(1 << 30)

    def over_words(ws: Column) -> Column:
        out = ws
        for j in range(1, n):
            out = F.zip_with(
                out, F.slice(ws, j + 1, _huge),
                lambda x, y: F.concat(x, F.lit(" "), y))
        return F.coalesce(
            F.array_distinct(F.filter(out, lambda s: s.isNotNull())),
            F.array().cast("array<string>"),
        )

    return F.element_at(F.transform(F.array(words_expr), over_words), 1)


# --------------------------------------------------------------------------
# n-gram Jaccard
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | float = 100,
) -> DataFrame:
    """Near-dup pairs by exact word-shingle Jaccard ≥ threshold.

    Candidate generation: inverted index on shingles (explode → self-join on
    shingle → count shared).  |A∩B| comes from the join; |A|,|B| broadcast
    back; Jaccard = inter / (|A|+|B|-inter).  The shuffle key is the shingle,
    so hot shingles are the skew risk — mitigated by dropping shingles above
    a document-frequency cap (they carry no discriminative signal).

    ``df_cap``: absolute when an int (default 100, oracle-reproducible);
    a float < 1 is RELATIVE — max(100, df_cap × n_docs) — which is the right
    setting for real corpora where "appears in 1% of documents" is the
    stopword-gram criterion regardless of corpus size.  The relative cap is
    resolved INSIDE the job (a 1-row count broadcast-joined onto the
    shingle frequencies) — building the frame triggers no Spark job."""
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), n).alias("shingles"),
    )
    sizes = sh.select("id", F.size("shingles").alias("n_sh")).filter(
        F.col("n_sh") > 0
    )
    inv = sh.select("id", F.explode("shingles").alias("shingle"))
    df_freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    if isinstance(df_cap, float) and df_cap < 1:
        cap_df = sh.select(
            F.greatest(
                F.lit(100).cast("bigint"),
                (F.lit(df_cap) * F.count(F.lit(1))).cast("bigint"),
            ).alias("cap_")
        )
        hot = (df_freq.crossJoin(F.broadcast(cap_df))
               .filter(F.col("df_") > F.col("cap_")).select("shingle"))
    else:
        hot = df_freq.filter(F.col("df_") > df_cap).select("shingle")
    inv = inv.join(F.broadcast(hot), "shingle", "left_anti")
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(F.broadcast(sizes.withColumnRenamed("id", "id_a")
                               .withColumnRenamed("n_sh", "sh_a")), "id_a")
        .join(F.broadcast(sizes.withColumnRenamed("id", "id_b")
                          .withColumnRenamed("n_sh", "sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sh_a") + F.col("sh_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    ``n_hashes/bands`` rows per band; band key = md5 of the concatenated
    signature slice.  One explode (bands per doc, constant fan-out) and one
    combinable self-join on the bucket — the classic MinHash-LSH plan.  At
    100 TB the bucket join shuffles only (band_id, bucket, id) triples."""
    rows_per_band = n_hashes // bands
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), n).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    # signature via exploded codegen aggregation (NOT n_hashes HOF
    # traversals, which run interpreted and cost ~30x): explode shingles
    # once, compute all hash minima in one whole-stage-codegen hash agg
    # keyed by id (map-side combine shrinks the shuffle to one signature
    # per doc per map task).
    e = sh.select("id", F.explode("shingles").alias("s"))
    sig = e.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"h{b * rows_per_band + r}")
                      for r in range(rows_per_band)],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = sig.select("id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    return (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash64(text: Column) -> Column:
    """64-bit simhash over whitespace tokens.

    Token hash = first 15 hex chars of md5 (60 bits, portable via
    ``conv(hex,16,10)`` / DuckDB ``CAST('0x'||hex AS BIGINT)``); bit b of the
    simhash is the sign of Σ_tokens (±1 per token depending on bit b of the
    token hash).  Pure Column algebra: the per-bit vote folds over a
    ``transform`` + ``aggregate`` pair — no UDF, no shuffle."""
    words = F.split(normalize(text), " ")
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint")
    )
    bit_idx = F.sequence(F.lit(0), F.lit(59))
    # one pass over the tokens: fold a 60-wide vote vector (md5 computed
    # exactly once per token, then 60 cheap bit tests per token)
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("bigint"), 60),
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            # PySpark's shiftright wrapper only takes a Python int; the SQL
            # function itself accepts a Column — call it by name.
            lambda a, b: a
            + F.when(
                F.call_function("shiftright", h, b.cast("int")).bitwiseAND(
                    F.lit(1)
                )
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    bits = F.zip_with(
        votes,
        bit_idx,
        lambda v, b: F.when(
            v > 0,
            F.call_function("shiftleft", F.lit(1).cast("bigint"), b.cast("int")),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) via exploded whole-stage-codegen aggregation.

    Same math as ``simhash64`` but shaped for throughput: explode tokens,
    ONE hash-agg keyed by id computing all 60 bit-votes as codegen sum
    columns (map-side combined), fold votes → bits in a final projection.
    Use this for corpus-scale simhash; ``simhash64`` (shuffle-free, but
    interpreted HOF) suits per-row use inside other plans."""
    w = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize(F.col(text_col)), " ")).alias("w"),
    )
    h = w.select(
        "id",
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("bigint").alias("hv"),
    )
    votes = h.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) == 1,
                       F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"b{b}")
            for b in range(60)
        ]
    )
    sim = F.lit(0).cast("bigint")
    for b in range(60):
        sim = sim + F.when(F.col(f"b{b}") > 0,
                           F.lit(1 << b).cast("bigint")).otherwise(F.lit(0))
    return votes.select("id", sim.alias("simhash"))


def _band_explode(base: DataFrame, n_bands: int) -> DataFrame:
    """(id, simhash) → (id, simhash, band, bucket) rows, one per band."""
    bits_per_band = 60 // n_bands
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * bits_per_band)
            .bitwiseAND(F.lit((1 << bits_per_band) - 1))
            .alias("bucket"),
        )
        for b in range(n_bands)
    ]
    return base.select(
        "id", "simhash", F.explode(F.array(*bands)).alias("bb")
    ).select("id", "simhash", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def simhash_buckets(df: DataFrame, id_col: str, text_col: str,
                    n_bands: int = 4) -> DataFrame:
    """(id, simhash, band, bucket): docs sharing a 15-bit band bucket are
    hamming-near candidates (standard simhash blocking).

    Signatures come from ``simhash_table`` (exploded whole-stage-codegen
    aggregation) — round 4; the per-row ``simhash64`` HOF is interpreted
    (CodegenFallback, 25-40× per core) and stays available only for
    embedding a signature inside a larger per-row plan."""
    return _band_explode(simhash_table(df, id_col, text_col), n_bands)


# --------------------------------------------------------------------------
# duplicate-cluster resolution
# --------------------------------------------------------------------------

def connected_components_min(pairs: DataFrame, id_a: str = "id_a",
                             id_b: str = "id_b",
                             max_iter: int = 20) -> DataFrame:
    """Resolve duplicate PAIRS into clusters: ``(id, rep)`` where ``rep`` is
    the minimum id in each connected component — the canonical keeper for a
    dedup pass (pairs from ``minhash_lsh_pairs`` / ``ngram_jaccard_pairs`` /
    ``near_duplicates_cosine`` chain transitively; keeping one doc per PAIR
    over-deletes).

    Min-label propagation: each iteration joins the symmetric edge list
    against current labels and takes the per-vertex minimum — converging in
    O(component diameter) iterations (near-dup clusters are shallow; the
    default bound is generous).  Each iteration materializes via
    ``localCheckpoint`` to cut lineage — on a production cluster point
    ``spark.sparkContext.setCheckpointDir`` at durable storage and swap in
    ``checkpoint()`` for executor-loss resilience.  Shuffle volume per
    iteration is O(edges) narrow (id, rep) rows.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("rep", F.col("id"))
        .localCheckpoint(eager=True)
    )

    # convergence detector: count the labels this iteration changed with
    # one join against the previous labels.  Exact for every id type —
    # strings, integers and fractional numerics alike (a numeric sum of
    # reps can stay equal while a label changes once ids are rounded).
    for _ in range(max_iter):
        msgs = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(F.col("src").alias("id"), F.col("rep"))
        )
        new = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("rep").alias("rep"))
            .localCheckpoint(eager=True)
        )
        changed = new.alias("n").join(labels.alias("o"), "id").filter(
            F.col("n.rep") != F.col("o.rep")).count() > 0
        labels = new
        if not changed:
            return labels
    # silent non-convergence would return a real component SPLIT into
    # several clusters (wrong keepers, under-deletion) — fail loudly
    raise RuntimeError(
        f"connected_components_min did not converge in {max_iter} "
        "iterations (labels still improving): a component's "
        "diameter exceeds max_iter — raise max_iter (cost is one narrow "
        "join per extra hop)")


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3, n_bands: int = 4) -> DataFrame:
    """Near-dup pairs with VERIFIED hamming distance ≤ ``max_hamming``,
    found within simhash band buckets: ``(id_a, id_b, hamming)``.

    Recall guarantee by pigeonhole: a pair differing in fewer bits than
    there are bands shares at least one identical band, so every pair with
    hamming < ``n_bands`` is found (``max_hamming`` ≤ ``n_bands`` - 1 keeps
    the guarantee exact).  Verification is one codegen expression —
    ``bit_count(simhash_a XOR simhash_b)`` — computed map-side in the
    bucket join; only narrow (ids, hamming) rows that already pass the
    threshold reach the band-dedup agg (same shuffle discipline as the
    LSH ANN path).  Signatures come from ``simhash_table`` (exploded
    codegen agg), not the interpreted per-row HOF variant."""
    bucketed = _band_explode(simhash_table(df, id_col, text_col), n_bands)
    return (
        bucketed.alias("a")
        .join(bucketed.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def dedup_keepers(df: DataFrame, id_col: str, pairs: DataFrame,
                  id_a: str = "id_a", id_b: str = "id_b",
                  max_iter: int = 20) -> DataFrame:
    """Corpus with duplicate-cluster members removed: pairs (from any of
    the pair-emitting ops — minhash/simhash/jaccard/cosine) resolve into
    clusters via ``connected_components_min`` and only each component's
    min-id representative survives, alongside every untouched doc.

    Scale shape: the anti-join's build side is the NON-REP member id list
    — O(duplicates), ids only, explicitly broadcast — so the corpus never
    shuffles and the whole keep-pass is one broadcast-anti-join over the
    scan (the closure of the dedup family: candidates → verified pairs →
    clusters → keep-list)."""
    comp = connected_components_min(pairs, id_a, id_b, max_iter)
    drop = comp.filter(F.col("id") != F.col("rep")) \
               .select(F.col("id").alias(id_col))
    return df.join(F.broadcast(drop), id_col, "left_anti")
