"""Regex search with fuzzy-regex scoring and token alignment (P5, S7, S8).

Semantics mirror the reference's char-level regex scan (reference:
``_search/regexsearcher.py:29-144``): `finditer` over the (optionally
lowered) text, char spans mapped back to token spans — exact boundary
alignment first, else (when ``partial=True``) expansion to the containing
tokens — scored by fuzzy-count normalization, filtered by ``min_r`` and
greedy overlap filtering.

The distributed form (one pattern table × a corpus DataFrame) lives in
``spaczz_spark.operators.matcher``; this module is the per-document kernel it
batches over.
"""

from __future__ import annotations

from .phrasesearch import filter_overlapping_matches
from .ratios import normalize_fuzzy_regex_counts
from .repatterns import parse_regex
from .tokenizer import TokenDoc, tokenize

__all__ = ["regex_match"]


def _raw_matches(
    text: str, query: str, *, ignore_case: bool, predef: bool
) -> list[tuple[int, int, tuple[int, int, int]]]:
    """(start_char, end_char, fuzzy_counts) for every non-empty regex match."""
    pattern = parse_regex(query, predef=predef)
    hay = text.lower() if ignore_case else text
    out = []
    for m in pattern.finditer(hay):
        start, end = m.span()
        if start == end:
            continue
        out.append((start, end, tuple(getattr(m, "fuzzy_counts", (0, 0, 0)))))
    return out


def regex_match(
    doc: TokenDoc | str,
    query: str,
    *,
    ignore_case: bool = True,
    min_r: int = 75,
    partial: bool = True,
    predef: bool = False,
    fuzzy_weights: str = "indel",
) -> list[tuple[int, int, int]]:
    """Token-aligned regex matches: (token_start, token_end, ratio)."""
    if isinstance(doc, str):
        doc = tokenize(doc)
    starts = {t.start: i for i, t in enumerate(doc.tokens)}
    ends = {t.end: i for i, t in enumerate(doc.tokens)}
    # char offset -> containing token index (for partial expansion)
    containing: dict[int, int] = {}
    for i, t in enumerate(doc.tokens):
        for c in range(t.start, t.end):
            containing[c] = i

    results = []
    for start, end, counts in _raw_matches(
        doc.text, query, ignore_case=ignore_case, predef=predef
    ):
        # Reference semantics (regexsearcher.py _spans_from_regex ->
        # normalize_fuzzy_regex_counts(span.text, ...)): the ratio is
        # normalized on the *token-aligned* span text — when partial=True
        # expands a mid-token match to the containing tokens, the longer
        # span text lowers the ratio (and min_r filtering sees that value).
        tok_start = starts.get(start)
        tok_end_incl = ends.get(end)
        if tok_start is not None and tok_end_incl is not None:
            span_text = doc.span_text(tok_start, tok_end_incl + 1)
            ratio = normalize_fuzzy_regex_counts(span_text, counts, fuzzy_weights)
            results.append((tok_start, tok_end_incl + 1, ratio))
            continue
        if partial:
            ts = containing.get(start)
            te = containing.get(end - 1)
            if ts is not None and te is not None:
                span_text = doc.span_text(ts, te + 1)
                ratio = normalize_fuzzy_regex_counts(
                    span_text, counts, fuzzy_weights
                )
                results.append((ts, te + 1, ratio))
    kept = [r for r in results if r[2] >= min_r]
    return filter_overlapping_matches(sorted(kept, key=lambda x: (-x[2], x[0])))
