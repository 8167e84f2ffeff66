"""Text-analysis functions for large-scale training-data pipelines.

Every function here is a pure Catalyst column expression (JVM-side,
whole-stage-codegen'd, no Python in the hot path) so a 100 TB documents
scan never leaves the JVM. Each has an exact ANSI-SQL restatement used by
the DuckDB oracles in `__spark_entry__.py`.

Role in the engine: these are the row-level transforms the north rule
requires vectorized (text normalization etc.); they compose as Pipeline
stages like the reference's sample transforms
(tfdata/transform/transformation.go:128-142).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deliberately tiny + deterministic so the oracle SQL can
# restate it exactly.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "des"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def normalize_text(c: Column) -> Column:
    """lower + trim + collapse internal whitespace to single spaces."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def tokens(c: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(c), " ")


def token_count(c: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(tokens(c)))


def word_shingles(c: Column, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>); texts shorter than n words get
    one shingle = the whole normalized text (so no document is dropped)."""
    t = tokens(c)
    ngrams = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.when(F.size(t) >= n, ngrams).otherwise(F.array(normalize_text(c)))


def punct_ratio(c: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] after normalization."""
    norm = normalize_text(c)
    stripped = F.regexp_replace(norm, r"[a-z0-9 ]", "")
    return F.when(F.length(norm) > 0, F.length(stripped) / F.length(norm)).otherwise(F.lit(0.0))


def stopword_ratio(c: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords."""
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    t = tokens(c)
    hits = F.size(F.filter(t, lambda w: F.array_contains(sw, w)))
    return F.when(F.size(t) > 0, hits / F.size(t)).otherwise(F.lit(0.0))


def quality_score(c: Column) -> Column:
    """Deterministic [0,1] quality heuristic: rewards mid-length documents
    and a healthy stopword ratio, penalizes punctuation soup.

    score = 0.4*min(tokens,200)/200 + 0.4*min(stopword_ratio*5,1)
          + 0.2*(1-min(punct_ratio*10,1))
    """
    n = token_count(c).cast("double")
    return (
        F.lit(0.4) * F.least(n, F.lit(200.0)) / 200.0
        + F.lit(0.4) * F.least(stopword_ratio(c) * 5.0, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio(c) * 10.0, F.lit(1.0)))
    )


def lang_id(c: Column) -> Column:
    """Stopword-marker language ID: the language whose marker words occur
    most often; ties break to the lexicographically greatest language code
    (array_max over (score, lang) structs); 'und' when no marker occurs."""
    t = tokens(c)
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(w) for w in markers])
        scores.append(
            F.struct(
                F.size(F.filter(t, lambda w: F.array_contains(arr, w))).alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(c: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (hex string).
    Stable across engines — the exact-dedup key."""
    return F.md5(normalize_text(c))


def rolling_hash(c: Column, mod: int = 2**31 - 1) -> Column:
    """Polynomial rolling hash of a string (fold over code points,
    acc = acc*31 + ascii(ch) mod `mod`) — a deterministic hash expressible
    identically in ANSI SQL (DuckDB list_reduce).

    This is the reference definition, not an engine path: the MinHash and
    SimHash kernels of `operators.dedup` compute the same values from
    prefix sums (`_substring_hashes`), and the tests and oracles restate
    this fold to check them. No engine code calls it.

    `mod=2**64` selects the 64-bit variant (full long wraparound, result
    reinterpreted as signed). ANSI mode forbids overflowing multiplies, so
    the fold carries the accumulator as two 32-bit limbs (hi, lo) — each
    step stays under 2^37 — and recombines with shiftleft|or (bitwise ops,
    overflow-exempt). Other moduli must keep acc*31 + ch within a long."""
    chars = F.split(c, "")
    if mod == 2**64:
        mask32 = F.lit((1 << 32) - 1)

        def _step(acc: Column, ch: Column) -> Column:
            lo = acc["lo"] * 31 + F.ascii(ch)
            hi = (acc["hi"] * 31 + F.shiftright(lo, 32)).bitwiseAND(mask32)
            return F.struct(hi.alias("hi"), lo.bitwiseAND(mask32).alias("lo"))

        return F.aggregate(
            chars,
            F.struct(
                F.lit(0).cast("long").alias("hi"), F.lit(0).cast("long").alias("lo")
            ),
            _step,
            lambda acc: F.shiftleft(acc["hi"], 32).bitwiseOR(acc["lo"]),
        )
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % F.lit(mod),
    )
