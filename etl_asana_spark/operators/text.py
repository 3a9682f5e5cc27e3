"""Text-analysis operators for training-data pipelines (SURVEY §2.12 #72–#74
plus language-ID / quality / fingerprinting from the north-star mandate).

Everything here is built-in Catalyst expressions (split/filter/transform/
aggregate) — no Python in the hot path, so these run at full scan
speed over a 100 TB documents table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword seeds for the n-gram/stopword heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}

#: BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(col, r"\s+")


def bpe_ish_tokens(col: Column | str) -> Column:
    """Regex pre-tokenization approximating BPE input segmentation."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)


def token_count(col: Column | str) -> Column:
    return F.size(ws_tokens(col))


def shingles(tokens_col: str, n: int = 3) -> Column:
    """Word n-gram shingles from an array column named ``tokens_col``.

    SQL-expression form (0-based subscripts) so it stays in codegen:
    one output element per window position, empty array for short docs.

    The short-doc case needs an explicit CASE: Spark's ``sequence(1, 0)``
    is the DESCENDING [1, 0], not empty, so the previous
    ``greatest(size - {n-1}, 0)`` bound made every document with fewer
    than ``n`` tokens index out of bounds — an ANSI crash that took every
    shingle-based key down with it (found by the round-4
    unicode-adversarial corpus sweep, whose single-token emoji doc was the
    first sub-``n``-token text any fixture ever contained).
    """
    parts = ", ".join(f"{tokens_col}[i - 1 + {j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size({tokens_col}) < {n} THEN array()"
        f" ELSE transform(sequence(1, size({tokens_col}) - {n - 1}),"
        f" i -> concat_ws(' ', {parts})) END"
    )


def shingle_hashes(
    df: DataFrame, id_col: str, n: int, text_col: str = "text"
) -> DataFrame:
    """Distinct ``(id_col, sh)`` rows: each document's set of ``\\s+``-split
    word ``n``-grams, as ``xxhash64`` of the shingle text.

    The one shingle-set definition behind the exact text-overlap operators
    (the two Jaccard pair joins and the contamination join). Hashing BEFORE
    the distinct means every shuffle and join downstream moves 16-byte
    ``(id, hash)`` rows instead of shingle strings — measured ~20% off the
    whole n-gram pair build at sf0.1. A false shared shingle needs two
    distinct shingles colliding in 2^64, the collision budget of the exact
    dedup's xxhash64 grouping. A map-side ``array_distinct(shingles(...))``
    variant that skips the distinct's shuffle was measured 10× slower:
    CollapseProject inlines the whole shingle-HOF chain into every consumer
    and re-evaluates it per ``size()``/``explode()``.
    """
    return (
        df.select(id_col, ws_tokens(F.col(text_col)).alias("toks"))
        .select(id_col, F.explode(shingles("toks", n)).alias("sh"))
        .select(id_col, F.xxhash64("sh").alias("sh"))
        .distinct()
    )


def stopword_hits(tokens: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def language_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of stopword hits across languages.

    Deterministic ties: struct max compares (score, lang) lexicographically.
    Returns 'und' when no stopword matches at all.
    """
    toks = ws_tokens(col)
    scored = F.array(
        *[
            F.struct(stopword_hits(toks, lang).alias("s"), F.lit(lang).alias("l"))
            for lang in sorted(STOPWORDS)
        ]
    )
    best = F.array_max(scored)
    return F.when(best.getField("s") > 0, best.getField("l")).otherwise(F.lit("und"))


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring features: length, word stats, punctuation and
    stopword ratios. Ratios are double divisions of exact ints (portable)."""
    toks = ws_tokens(col)
    n_chars = F.length(col)
    n_words = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*[w for ws in STOPWORDS.values() for w in ws]))
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "avg_word_len": F.try_divide(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)),
            n_words,
        ),
        "punct_ratio": F.try_divide(n_punct.cast("double"), n_chars),
        "stopword_ratio": F.try_divide(n_stop.cast("double"), n_words),
    }


def poly_hash(col: Column | str, base: int = 131, mod: int = 1 << 40) -> Column:
    """Engine-neutral polynomial rolling hash over the string's code points
    (``h → (h·base + codepoint) mod 2⁴⁰``), the textbook Rabin-Karp form.

    Stays in whole-stage codegen via the ``aggregate`` HOF, and — unlike
    ``xxhash64`` — is exactly reproducible in DuckDB (``list_reduce`` +
    ``unicode``), which is what lets the fingerprint key carry a full SQL
    oracle. The modulus keeps every intermediate below 2⁴⁷ so ANSI
    overflow checks can never fire. The cost is a per-character fold where
    ``F.xxhash64`` is one codegen call per value; a caller that needs no
    cross-engine equality (a join or grouping key) can use that instead."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda a, c: (a * F.lit(base) + F.ascii(c)) % F.lit(mod),
    )
