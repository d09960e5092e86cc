"""Golden-value parity tests for the ratio kernels.

Expected values are the reference's own published test vectors
(/root/reference/tests/test__search/test_fuzzysearcher.py and module
docstrings) — the only available oracle since rapidfuzz is not installed.
"""

import random

import pytest

from spaczz_spark import ratios


def _lcs_dp(a, b):
    n, m = len(a), len(b)
    prev = [0] * (m + 1)
    for i in range(1, n + 1):
        cur = [0] * (m + 1)
        for j in range(1, m + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
            else:
                cur[j] = max(prev[j], cur[j - 1])
        prev = cur
    return prev[m]


def test_lcs_bitparallel_matches_dp_on_random_strings():
    rng = random.Random(42)
    for _ in range(300):
        a = "".join(rng.choice("abcdef ") for _ in range(rng.randint(0, 40)))
        b = "".join(rng.choice("abcdef ") for _ in range(rng.randint(0, 40)))
        assert ratios.lcs_length(a, b) == _lcs_dp(a, b), (a, b)


def test_lcs_on_token_sequences():
    a = ["def", "foo", "(", ")", ":", "return", "1"]
    b = ["def", "bar", "(", ")", ":", "return", "2"]
    assert ratios.lcs_length(a, b) == _lcs_dp(a, b) == 5


# --- reference golden vectors -------------------------------------------------


def test_compare_spaczz_spacy_is_73():
    # reference: test_fuzzysearcher.py:37-39
    assert ratios.compare("spaczz", "spacy") == 73


def test_compare_case_sensitive_zero():
    # reference: test_fuzzysearcher.py:42-44
    assert ratios.compare("SPACZZ", "spaczz", ignore_case=False) == 0


def test_compare_unknown_func_raises():
    with pytest.raises(ValueError):
        ratios.compare("spaczz", "spacy", fuzzy_func="unknown")


def test_scan_window_ratios():
    # windows of "Don't call me Sh1rley" vs "shirley"
    # reference: test_fuzzysearcher.py:164-181 -> {2: 18, 3: 22, 4: 86}
    assert ratios.compare("Shirley", "call") == 18
    assert ratios.compare("Shirley", "me") == 22
    assert ratios.compare("Shirley", "Sh1rley") == 86


def test_zithromax_89():
    # reference: src/spaczz/_search/tokensearcher.py:50-57 docstring
    assert ratios.compare("zithramax", "zithromax") == 89


def test_chicken_vectors():
    # reference: test_fuzzysearcher.py:256-263
    assert ratios.compare("chicken", "chiken", ignore_case=False) == 92
    assert ratios.compare("chicken", "chken", ignore_case=False) == 83


def test_goldriesling_96():
    # reference: test_fuzzysearcher.py:266-281
    assert ratios.compare("gold riesling", "goldriesling") == 96


def test_score_cutoff_returns_zero_below():
    assert ratios.compare("Shirley", "call", min_r=30) == 0
    assert ratios.compare("Shirley", "Sh1rley", min_r=30) == 86


def test_empty_strings():
    assert ratios.indel_ratio("", "") == 100.0
    assert ratios.indel_ratio("", "abc") == 0.0
    assert ratios.qratio("", "") == 0.0


def test_token_sort_ratio():
    assert ratios.token_sort_ratio("great is spaczz", "spaczz is great") == 100.0
    # order-insensitive but content-sensitive
    assert ratios.token_sort_ratio("a b c", "a b d") < 100.0


def test_token_set_ratio():
    # full subset -> 100
    assert ratios.token_set_ratio("spaczz is great", "spaczz is great indeed") == 100.0
    assert ratios.token_set_ratio("abc", "xyz") < 50.0


def test_partial_ratio_substring_is_100():
    assert ratios.partial_ratio("abcdef", "xx abcdef yy") == 100.0
    assert ratios.partial_ratio("xx abcdef yy", "abcdef") == 100.0


def test_partial_ratio_alignment_offsets():
    aln = ratios.partial_ratio_alignment("abcdef", "xx abcdef yy")
    assert aln.score == 100.0
    assert (aln.dest_start, aln.dest_end) == (3, 9)


def test_wratio_and_registry():
    assert ratios.wratio("spaczz", "spaczz") == 100.0
    for name in (
        "simple partial token token_set token_sort partial_token "
        "partial_token_set partial_token_sort weighted quick"
    ).split():
        fn = ratios.get_fuzzy_func(name)
        assert fn("same text", "same text") == 100.0


# --- fuzzy-regex count normalization (S7) ------------------------------------


def test_normalize_exact_match_is_100():
    # reference: searchutil.py:83-84
    assert ratios.normalize_fuzzy_regex_counts("anything", (0, 0, 0), "indel") == 100


def test_normalize_sequel_sql_67():
    # "sequel" matching (sql){i<=3}: 3 insertions
    # reference: tokensearcher.py:144-145 docstring
    assert ratios.normalize_fuzzy_regex_counts("sequel", (0, 3, 0), "indel") == 67


def test_normalize_usa_80():
    # "US" matching (USA){d<=1}: 1 deletion -> 80
    # reference: test_regexsearcher.py:24-29
    assert ratios.normalize_fuzzy_regex_counts("US", (0, 0, 1), "indel") == 80


def test_normalize_lev_weights():
    assert ratios.normalize_fuzzy_regex_counts("US", (0, 0, 1), "lev") == 67


def test_normalize_unknown_weights_raises():
    with pytest.raises(ValueError):
        ratios.normalize_fuzzy_regex_counts("US", (0, 0, 1), "nope")


# ---------------------------------------------------------------------------
# Levenshtein kernel operating bound (round-5 ADVICE: large-string guard)
# ---------------------------------------------------------------------------


def _lev_py(s1, s2):
    """Reference pure-Python DP (kept tiny; test-only ground truth)."""
    if len(s1) < len(s2):
        s1, s2 = s2, s1
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1, 1):
        cur = [i]
        for j, c2 in enumerate(s2, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (c1 != c2)))
        prev = cur
    return prev[-1]


def test_lev_codes_np_matches_python_dp():
    import random

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(40)]
    for _ in range(10):
        t1 = [rng.choice(vocab) for _ in range(rng.randint(64, 120))]
        t2 = list(t1)
        for _ in range(rng.randint(0, 15)):
            op = rng.random()
            i = rng.randrange(len(t2))
            if op < 0.4:
                t2[i] = rng.choice(vocab)
            elif op < 0.7:
                t2.insert(i, rng.choice(vocab))
            elif len(t2) > 64:
                del t2[i]
        assert ratios._lev_codes_np(t1, t2) == _lev_py(t1, t2)
        # the public dispatcher routes list inputs through the coded path
        assert ratios.levenshtein_distance(t1, t2) == _lev_py(t1, t2)


def test_levenshtein_ratio_accepts_token_lists():
    t1 = ["a"] * 100
    t2 = ["a"] * 90 + ["b"] * 10
    # d=10, m=100 -> (200*90+100)//200 = 90
    assert ratios.levenshtein_ratio(t1, t2) == 90.0


def test_lev_kernel_token_fallback_above_bound(spark):
    """Pairs longer than LEV_CHAR_KERNEL_MAX score at token level —
    bounded cost for two similar-length huge files (the length-gap
    prefilter can't save those)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from spaczz_spark.operators.verify import (
        LEV_CHAR_KERNEL_MAX,
        make_edit_ratio_udf,
    )

    tok = [f"w{i}" for i in range(9000)]
    s1 = " ".join(tok)
    assert len(s1) > LEV_CHAR_KERNEL_MAX
    t2 = list(tok)
    t2[5000] = "CHANGED"
    s2 = " ".join(t2)
    expected = round(ratios.levenshtein_ratio(s1.split(), s2.split()))
    df = spark.createDataFrame(pd.DataFrame({"a": [s1], "b": [s2]}))
    got = df.select(
        make_edit_ratio_udf(0, func="levenshtein")("a", "b").alias("r")
    ).collect()[0]["r"]
    assert got == expected == 100  # 1 token edit in 9000 rounds to 100


def test_edit_ratio_score_lev_token_path_with_cutoff(monkeypatch):
    """Above LEV_CHAR_KERNEL_MAX chars the Levenshtein kernel scores
    whitespace tokens, and its length-gap skip counts tokens, not chars."""
    from spaczz_spark.operators import verify

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    toks = [rng.choice(vocab) for _ in range(8000)]
    edited = list(toks)
    for i in rng.sample(range(len(toks)), 400):
        edited[i] = rng.choice(vocab)
    a, b = " ".join(toks), " ".join(edited)
    assert min(len(a), len(b)) > verify.LEV_CHAR_KERNEL_MAX
    min_r = 74
    expected = round(
        ratios.levenshtein_ratio(a.split(), b.split(), score_cutoff=min_r)
    )
    assert expected >= min_r  # scored, not cut off
    assert verify.edit_ratio_score(a, b, min_r, "levenshtein") == expected

    # merge the first 6000 tokens pairwise: 8000 vs 5000 tokens caps the
    # token ratio at (200*5000 + 8000) // 16000 = 63 < min_r, while the
    # char gap (3000 spaces of ~38k) alone would allow 92; the skip must
    # decide the pair without running the DP
    merged = [toks[i] + toks[i + 1] for i in range(0, 6000, 2)] + toks[6000:]
    c = " ".join(merged)
    assert len(c) > verify.LEV_CHAR_KERNEL_MAX

    def no_dp(*args, **kwargs):
        raise AssertionError("the token length-gap skip should decide this")

    monkeypatch.setattr(verify, "levenshtein_ratio", no_dp)
    assert verify.edit_ratio_score(a, c, min_r, "levenshtein") == 0
