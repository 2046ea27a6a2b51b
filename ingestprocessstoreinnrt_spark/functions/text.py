"""Text-analysis column helpers for the large-scale training-data pipeline
operators (dedup, language-ID, quality scoring, token counting,
fingerprinting).  All native Column expressions — array/regex functions run
JVM-side inside whole-stage codegen; nothing here is a Python UDF.

Every helper has a documented DuckDB-SQL mirror so the oracle gate can
hash-compare results exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .scalars import stable_hash64

# Whitespace tokenization shared with the oracle:
#   Spark:  split(trim(text), '\\s+')   (empty string -> [''] guarded below)
#   DuckDB: regexp_split_to_array(trim(text), '\s+')
_WS = r"\s+"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _WS)
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count.  Oracle:
    CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\\s+')) END
    """
    return F.size(tokens(col)).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish subword proxy: count of letter-runs, digit-runs, and
    single punctuation marks (GPT-2-style pre-tokenizer regex family).
    Oracle: len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))."""
    c = F.col(col) if isinstance(col, str) else col
    pat = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    return F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).cast("long")


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: 60-bit stable hash of the normalized text
    (lowercased, whitespace-collapsed, trimmed).  Identical in DuckDB via
    the md5-prefix trick (scalars.SQL_STABLE_HASH64)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.trim(c)), _WS, " ")
    return stable_hash64(norm)


SQL_NORM = "regexp_replace(lower(trim({x})), '\\s+', ' ', 'g')"


# --- language ID (tiny deterministic stopword heuristic) -------------------

# Per-language marker words; scored by count of whitespace tokens that are
# markers.  Deterministic and SQL-expressible (list_filter over tokens).
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pour"),
    "es": ("el", "los", "las", "es", "una", "que", "por", "para"),
}


def lang_scores(col: Column | str) -> dict[str, Column]:
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
    return out


def lang_id(col: Column | str) -> Column:
    """argmax over LANG_MARKERS scores; ties broken by language-code order;
    all-zero -> 'und' (undetermined)."""
    scores = lang_scores(col)
    # build struct array (score, neg-ordered lang) and take max
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # later langs first so earlier alphabetical wins on tie via otherwise-chain
    for lang in sorted(scores, reverse=True):
        result = F.when(scores[lang] == best, F.lit(lang)).otherwise(result)
    return F.when(best == 0, F.lit("und")).otherwise(result)


def quality_stats(col: Column | str) -> dict[str, Column]:
    """Quality-scoring signal set: lengths, punctuation/digit/space ratios,
    mean word length, stopword ratio.  All ratios double; guarded /0."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("long")
    toks = tokens(c)
    n_tokens = F.size(toks).cast("long")
    punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0))).cast("long")
    digits = F.size(F.regexp_extract_all(c, F.lit(r"[0-9]"), F.lit(0))).cast("long")
    en_markers = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    stop = F.size(
        F.filter(F.transform(toks, lambda t: F.lower(t)),
                 lambda t: F.array_contains(en_markers, t))
    ).cast("long")
    safe_chars = F.when(n_chars == 0, F.lit(1)).otherwise(n_chars)
    safe_toks = F.when(n_tokens == 0, F.lit(1)).otherwise(n_tokens)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": (punct.cast("double") / safe_chars),
        "digit_ratio": (digits.cast("double") / safe_chars),
        "stopword_ratio": (stop.cast("double") / safe_toks),
        "mean_token_len": (
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            .cast("double")
            / safe_toks
        ),
    }
