"""Text-analysis primitives for training-data pipelines.

All Column-native (whole-stage codegen, no Python in the hot path), chosen
to be expressible in ANSI SQL too so every operator gets a DuckDB oracle:

- token counting       : whitespace split + a BPE-ish wordpiece regex count
- quality scoring      : length / punctuation / stopword / word-length mix
- language ID          : stopword-hit heuristic over a small per-language set
- document fingerprint : md5 of the normalized text (md5 is portable across
                         engines, unlike murmur/xxhash builtins)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deliberately tiny, deterministic stopword sets (heuristic language ID —
# an n-gram model would live behind the same Column signature)
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"),
}

_WORDPIECE_RE = r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^\sa-zA-Z0-9]"


def normalize(text: Column) -> Column:
    """lower + collapse whitespace (shared by fingerprint/dedup/shingles)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def wordpiece_count(text: Column) -> Column:
    """BPE-ish sub-token count: lowercase runs, capitalized runs, digit runs,
    single punctuation — a cheap, deterministic proxy for tokenizer load.

    ``regexp_count`` (round 6): the number of non-overlapping matches,
    identical to ``size(regexp_extract_all(...))`` by definition, without
    materializing the match array."""
    return F.regexp_count(text, F.lit(_WORDPIECE_RE))


def punct_ratio(text: Column) -> Column:
    """Share of non-whitespace/non-alnum characters.

    Computed by deleting RUNS of the allowed class and measuring what's
    left (round 6): every char is either removed (in class) or kept, so
    ``length(kept)`` is exactly the old ``length(text) -
    length(regexp_replace(text, '[^class]', ''))`` count — but the
    ``+``-quantified run form does one regex match per run instead of a
    match attempt per character (9x on the profiled corpus)."""
    kept = F.length(F.regexp_replace(text, r"[\sa-zA-Z0-9]+", ""))
    return kept / F.greatest(F.length(text), F.lit(1))


def stopword_hits(text: Column, lang: str) -> Column:
    words = F.split(normalize(text), " ")
    sw = STOPWORDS[lang]
    return F.size(F.filter(words, lambda w: w.isin(*sw)))


def lang_guess(text: Column) -> Column:
    """argmax over per-language stopword hits; 'und' (undetermined) on tie-0.

    CASE-expressible so the DuckDB oracle can replicate it exactly; tie-break
    order is fixed: en > de > fr."""
    en = stopword_hits(text, "en")
    de = stopword_hits(text, "de")
    fr = stopword_hits(text, "fr")
    return (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (A rolling/polynomial hash would not be reproducible across engines;
    md5 is, and is just as usable as an exact-dup key.)"""
    return F.md5(normalize(text))


def stats_frame(df, id_col: str = "doc_id", text_col: str = "text"):
    """All text stats in one pass with STAGED shared subexpressions
    (round 6).

    Composing the per-metric Columns directly repeats the expensive
    intermediates — ``normalize`` (a regex replace), the word split, and
    the per-language stopword filters — up to 8x per row, and the
    higher-order ``aggregate``/``filter`` calls run interpreted
    (CodegenFallback), so nothing de-duplicates them at runtime.  Staging
    each expensive intermediate as a named column in its own projection
    computes it once: Catalyst's CollapseProject keeps a projection
    boundary when a non-trivial alias is consumed more than once.

    Values are bit-identical to the composed form — every downstream
    expression is the same tree, just reading the intermediate through an
    attribute."""
    t = F.col(text_col)
    sw = STOPWORDS
    staged = (
        df.select(
            F.col(id_col),
            t.alias("_t"),
            normalize(t).alias("_norm"),
            token_count(t).alias("_n_tok"),
            punct_ratio(t).alias("_p"),
            wordpiece_count(t).alias("_n_wp"),
        )
        .select(
            id_col, "_t", "_norm", "_n_tok", "_p", "_n_wp",
            F.split(F.col("_norm"), " ").alias("_ws"),
        )
        .select(
            id_col, "_norm", "_n_tok", "_p", "_n_wp",
            # total word chars == length(norm) - (n_words - 1): norm is the
            # words joined by single spaces, so the interpreted aggregate
            # fold is a closed form (integer-exact in double, identical)
            (F.length(F.col("_norm")) - F.size(F.col("_ws")) + F.lit(1))
            .cast("double").alias("_wlen"),
            F.size(F.col("_ws")).alias("_n_ws"),
            # single-arg lambda via a factory: pyspark dispatches HOF
            # lambdas on arity, so a default arg would bind the index
            *[
                F.size(F.filter(F.col("_ws"),
                                (lambda _w_list: lambda w: w.isin(*_w_list))(
                                    sw[lang])))
                .alias(f"_{lang}")
                for lang in ("en", "de", "fr")
            ],
        )
        .select(
            id_col, "_norm", "_n_tok", "_p", "_n_wp", "_en", "_de", "_fr",
            (F.col("_wlen")
             / F.greatest(F.col("_n_ws"), F.lit(1))).alias("_mwl"),
        )
    )
    n = F.col("_n_tok")
    p = F.col("_p")
    mw = F.col("_mwl")
    en, de, fr = F.col("_en"), F.col("_de"), F.col("_fr")
    s = en / F.greatest(n, F.lit(1))
    quality = (
        ((n >= 5) & (n <= 100_000)).cast("double") * 0.4
        + (p < 0.3).cast("double") * 0.2
        + (s > 0.01).cast("double") * 0.2
        + ((mw >= 2.0) & (mw <= 12.0)).cast("double") * 0.2
    )
    lang = (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    return staged.select(
        id_col,
        n.cast("bigint").alias("n_tokens"),
        F.col("_n_wp").cast("bigint").alias("n_wordpieces"),
        F.round(p, 6).alias("punct_ratio"),
        F.round(mw, 6).alias("mean_word_len"),
        F.round(quality, 2).alias("quality"),
        lang.alias("lang_guess"),
        F.md5(F.col("_norm")).alias("fp"),
    )
