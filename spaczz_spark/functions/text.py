"""Text-analysis column functions for training-data pipelines.

All of these are pure JVM column expressions (whole-stage codegen; no Python
in the hot path) so they run at scan speed over 100 TB of documents:

- ``token_count`` / ``word_stats``  whitespace + code-regex token counting
  and per-document length/punct/digit/stopword stats
- ``quality_score``  0-1 heuristic over the ``word_stats`` columns
- ``doc_fingerprint``  normalization fingerprint (md5 of whitespace-collapsed
  lower-cased text) — catches formatting-only duplicates exactly
- ``lang_id_udf``  n-gram-heuristic language ID (small profile table,
  evaluated in a vectorized pandas UDF; profiles are data shipped with the
  package)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "token_count",
    "word_stats",
    "quality_score",
    "doc_fingerprint",
    "make_lang_id_udf",
]

# BPE-ish word/number/punct splitter (portable to DuckDB's RE2 for oracles)
WORD_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

_STOPWORDS = (
    "the of and to in a is that it for on with as are be this was at by an "
    "or from has have not but they you we his her its their which who will"
).split()


def token_count(text: Column) -> Column:
    """Number of regex word tokens (JVM-side)."""
    return F.size(F.regexp_extract_all(text, F.lit(WORD_PATTERN), 0))


def word_stats(text: Column) -> dict[str, Column]:
    """Reusable stat columns over a text column."""
    words = F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+"), 0)
    n_chars = F.length(text)
    return {
        "n_chars": n_chars,
        "n_tokens": token_count(text),
        "n_words": F.size(words),
        "n_lines": F.size(F.split(text, "\n")),
        "avg_word_len": F.when(
            F.size(words) > 0,
            F.aggregate(
                words, F.lit(0), lambda acc, w: acc + F.length(w)
            )
            / F.size(words),
        ).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(
            n_chars > 0,
            F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0)) / n_chars,
        ).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(
            n_chars > 0,
            F.size(F.regexp_extract_all(text, F.lit(r"[0-9]"), 0)) / n_chars,
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            F.size(words) > 0,
            F.size(
                F.filter(
                    words,
                    lambda w: F.array_contains(
                        F.array(*[F.lit(s) for s in _STOPWORDS]), w
                    ),
                )
            )
            / F.size(words),
        ).otherwise(F.lit(0.0)),
    }


def quality_score(stats: dict[str, Column]) -> Column:
    """Heuristic 0-1 document quality: penalizes too-short/too-long docs,
    punctuation soup, digit dumps, and stopword-free keyword stuffing.

    ``stats`` maps the :func:`word_stats` names ``n_words``,
    ``punct_ratio``, ``digit_ratio`` and ``stopword_ratio`` to columns.
    Pass references to already-projected stat columns: the stats are
    regex extractions and lambda filters, and the expressions
    :func:`word_stats` returns would be evaluated once more per use.
    """

    def ok(cond: Column, penalty: float) -> Column:
        return F.when(cond, F.lit(1.0)).otherwise(F.lit(penalty))

    length_ok = ok(stats["n_words"].between(10, 100_000), 0.3)
    punct_ok = ok(stats["punct_ratio"] < 0.3, 0.5)
    digit_ok = ok(stats["digit_ratio"] < 0.3, 0.5)
    stop_ok = ok(stats["stopword_ratio"] > 0.05, 0.7)
    return F.round(
        length_ok * 0.4 + punct_ok * 0.2 + digit_ok * 0.2 + stop_ok * 0.2, 6
    )


def doc_fingerprint(text: Column) -> Column:
    """Normalization fingerprint: md5 of lower-cased, whitespace-collapsed,
    trimmed text. Formatting-only edits map to the same fingerprint."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


# Tiny trigram profiles per language — deterministic data, not a model.
_LANG_PROFILES = {
    "en": ["the", "and", "ing", "ion", "tio", "ent", "ati", "for", "her", "ter"],
    "de": ["der", "die", "und", "sch", "ich", "ein", "che", "den", "gen", "ung"],
    "fr": ["les", "ent", "que", "des", "ion", "une", "ait", "eur", "our", "ais"],
    "es": ["que", "ión", "los", "ent", "ado", "con", "por", "una", "cio", "nte"],
    "it": ["che", "ent", "del", "lla", "ione", "per", "con", "ato", "ella", "gli"],
}


def make_lang_id_udf():
    """Vectorized pandas UDF: text -> best-guess language code.

    Counts profile-trigram hits per language per batch with pandas string
    ops; 'und' when nothing scores. A heuristic, not a classifier — the
    contract is determinism and throughput, matching what a pretraining
    pipeline needs for coarse routing.
    """

    @F.pandas_udf("string")
    def lang_id(texts: pd.Series) -> pd.Series:
        low = texts.fillna("").str.lower()
        scores = pd.DataFrame(index=low.index)
        for lang, grams in _LANG_PROFILES.items():
            acc = None
            for g in grams:
                c = low.str.count(g)
                acc = c if acc is None else acc + c
            scores[lang] = acc
        total = scores.sum(axis=1)
        best = scores.idxmax(axis=1)
        best[total == 0] = "und"
        return best

    return lang_id
