"""Text-analysis expressions for large-scale training-data pipelines.

All pure Column expressions (JVM-side, codegen-friendly) — tokenization,
character shingles, quality metrics, a stopword-based language heuristic and
md5 fingerprints. md5 is used as the portable hash everywhere so results are
bit-identical across Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny built-in stopword lists for the language-ID heuristic. Deliberately
# small and deterministic — a real deployment would swap in fastText/CLD3
# behind the same expression-shaped API.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "que", "de", "por"),
}


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization (lowercased); empty input -> empty array."""
    s = F.lower(F.trim(F.coalesce(_c(c).cast("string"), F.lit(""))))
    return F.when(s == "", F.array().cast("array<string>")).otherwise(F.split(s, r"\s+"))


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c)).cast("bigint")


def word_tokens(c: Column | str) -> Column:
    """BPE-ish regex tokenization: word pieces OR single non-space symbols —
    a deterministic approximation of byte-pair pretokenizers."""
    s = F.lower(F.coalesce(_c(c).cast("string"), F.lit("")))
    arr = F.regexp_extract_all(s, F.lit(r"([a-z0-9]+|[^a-z0-9\s])"), 1)
    return arr


def char_shingles(c: Column | str, k: int = 3) -> Column:
    """Distinct k-character shingles of the raw text (array<string>).
    Expressed with sequence+transform so it stays JVM-side; texts shorter
    than k yield an empty array."""
    s = F.coalesce(_c(c).cast("string"), F.lit(""))
    n = F.length(s)
    # sequence(1, 0) would yield a DESCENDING [1, 0] — guard short texts
    idx = F.when(n >= F.lit(k), F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(F.transform(idx, lambda i: s.substr(i, F.lit(k))))


def punct_ratio(c: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/whitespace (rounded
    to 6 digits for cross-engine determinism)."""
    s = F.coalesce(_c(c).cast("string"), F.lit(""))
    total = F.length(s)
    stripped = F.length(F.regexp_replace(s, r"[A-Za-z0-9\s]", ""))
    return F.when(total > 0, F.round(stripped.cast("double") / total, 6)).otherwise(F.lit(0.0))


def stopword_ratio(c: Column | str, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of `lang`."""
    toks = tokens(c)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, F.round(hits.cast("double") / n, 6)).otherwise(F.lit(0.0))


def quality_score(c: Column | str) -> Column:
    """Composite quality heuristic in [0,1]: rewards mid-length documents
    and normal punctuation/stopword profiles. Deterministic and
    oracle-expressible (pure arithmetic over the pieces above)."""
    s = F.coalesce(_c(c).cast("string"), F.lit(""))
    n = F.length(s).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4)
    sw = stopword_ratio(c)
    sw_score = F.least(sw * 5, F.lit(1.0))
    return F.round((len_score + punct_pen + sw_score) / 3, 6)


def lang_id(c: Column | str) -> Column:
    """Stopword-vote language guess over {en,de,fr,es}; 'und' (undetermined)
    when no stopword hits. Deterministic tie-break: language order as listed."""
    toks = tokens(c)
    scores = []
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        scores.append((lang, F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))))
    # strictly-greater scan in listing order => first-listed language wins ties
    best, best_n = F.lit("und"), F.lit(0)
    for lang, n in scores:
        cond = n > best_n
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_n = F.when(cond, n).otherwise(best_n)
    return best


def fingerprint(c: Column | str) -> Column:
    """Document fingerprint: md5 of case-folded, whitespace-collapsed text.
    md5 is identical in DuckDB -> fully oracle-checkable."""
    s = F.lower(F.trim(F.regexp_replace(F.coalesce(_c(c).cast("string"), F.lit("")), r"\s+", " ")))
    return F.md5(s)


def sentence_count(c: Column | str) -> Column:
    """Terminator-run sentence count, floored at 1 (a fragment with no
    terminal punctuation is one sentence). Deterministic regex heuristic —
    the readability family's denominator."""
    return F.greatest(F.regexp_count(_c(c).cast("string"), F.lit(r"[.!?]+")), F.lit(1))


def syllable_count(c: Column | str) -> Column:
    """Vowel-group syllable heuristic: number of maximal [aeiouy]+ runs in
    the lowercased text. Words without vowels contribute 0 (documented
    heuristic slack; identical in the DuckDB oracle so results stay
    bit-comparable)."""
    return F.regexp_count(F.lower(_c(c).cast("string")), F.lit("[aeiouy]+"))


def flesch_reading_ease(c: Column | str) -> Column:
    """Flesch reading-ease with the deterministic heuristics above:
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words), rounded to
    6 digits (IEEE +,-,*,/ are correctly rounded, so identical inputs give
    identical doubles cross-engine). NULL when the text has no tokens."""
    w = token_count(c).cast("double")
    s = sentence_count(c).cast("double")
    sy = syllable_count(c).cast("double")
    raw = (
        F.lit(206.835)
        - F.lit(1.015) * (w / s)
        - F.lit(84.6) * (sy / F.nullif(w, F.lit(0.0)))
    )
    return F.round(raw, 6)


_MARKUP_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"))


def strip_markup(c: Column | str) -> Column:
    """HTML/markup stripping for corpus cleaning: drop <...> tags, unescape
    the five core entities (&amp; LAST, so '&amp;lt;' becomes '&lt;' the
    literal, not a re-decoded '<' — standard single-pass entity semantics),
    collapse whitespace, trim. Pure Column expressions -> codegen; the
    DuckDB oracle mirrors the same replace chain."""
    s = F.regexp_replace(_c(c).cast("string"), r"<[^>]*>", " ")
    for ent, ch in _MARKUP_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, r"\s+", " "))
