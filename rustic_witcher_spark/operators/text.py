"""Text analysis operators for LLM-data pipelines (north-star extension).

All pure Catalyst expressions over the ``documents`` table — one
projection per document, no shuffle, no Python — so they run at scan
speed on 100 TB and every one has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from rustic_witcher_spark.operators.dedup import normalized_text

# Tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic. Deliberately small and disjoint — the heuristic's contract is
# determinism + reasonable accuracy, not SOTA language ID.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "ich"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "pas"],
    "es": ["el", "los", "las", "es", "una", "que", "por", "con"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "for", "on", "with", "as", "was", "are"]


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text (NULL/empty → empty array)."""
    norm = F.coalesce(normalized_text(col), F.lit(""))
    return F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(F.split(norm, " "))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(F.coalesce(col, F.lit("")))


# GPT-2-style pre-tokenization over normalized (lowercased) text:
# contraction suffixes, space-prefixed letter runs, digit runs, and
# punctuation runs. Leftmost-first alternation — identical semantics in
# Java regex (Spark) and RE2 (DuckDB), so the count is oracle-exact.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish subword pre-tokens of the normalized text (empty → [])."""
    norm = F.coalesce(normalized_text(col), F.lit(""))
    return F.regexp_extract_all(norm, F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col))


def _punct_ratio_raw(col: Column) -> Column:
    s = F.coalesce(col, F.lit(""))
    n_punct = F.length(s) - F.length(F.regexp_replace(s, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(s) == 0, F.lit(0.0)).otherwise(n_punct / F.length(s))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    return F.round(_punct_ratio_raw(col), 6)


def _isin(words: list[str]):
    # NB: a factory, not a default-arg lambda — PySpark counts a lambda's
    # parameters to decide the higher-order-function arity, so default
    # args would be misread as (element, index) variables.
    return lambda t: t.isin(words)


def _stopword_ratio_raw(col: Column, stopwords: list[str]) -> Column:
    toks = tokens(col)
    hits = F.size(F.filter(toks, _isin(stopwords)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(hits / F.size(toks))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    return F.round(_stopword_ratio_raw(col, stopwords or STOPWORDS_EN), 6)


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot + low
    punctuation + presence of stopwords (prose-likeness).

    score = 0.4·min(1, tokens/50) + 0.3·(1 - min(1, 4·punct_ratio))
          + 0.3·min(1, 5·stopword_ratio)

    Composed from the RAW (unrounded) ratios and rounded once — rounding
    the inner ratios first would create exact decimal ties at the final
    round boundary, where engines' tie-breaking rules diverge.
    """
    tl = F.least(token_count(col) / F.lit(50.0), F.lit(1.0))
    pr = F.lit(1.0) - F.least(_punct_ratio_raw(col) * 4, F.lit(1.0))
    sr = F.least(_stopword_ratio_raw(col, STOPWORDS_EN) * 5, F.lit(1.0))
    return F.round(tl * 0.4 + pr * 0.3 + sr * 0.3, 6)


def lang_id(col: Column) -> Column:
    """Stopword-marker language heuristic: argmax over per-language
    marker-token hit counts; 'und' (undetermined) when no marker hits.
    Deterministic tie-break by language code order en < de < fr < es
    (first max wins via strictly-greater comparison chain)."""
    toks = tokens(col)
    scores = {lang: F.size(F.filter(toks, _isin(markers))) for lang, markers in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best = F.lit("und")
    best_score = F.lit(0)
    # iterate in fixed order; strictly-greater keeps the earlier language on ties
    out_lang, out_score = best, best_score
    for lang in langs:
        cond = scores[lang] > out_score
        out_lang = F.when(cond, F.lit(lang)).otherwise(out_lang)
        out_score = F.when(cond, scores[lang]).otherwise(out_score)
    return out_lang
