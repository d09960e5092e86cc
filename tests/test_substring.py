"""S2 partial_ratio at corpus scale (round-5 ask #1).

The reference's ``partial_ratio`` (``registry/fuzzyfuncs.py:9``) scores the
best *approximate* alignment of the shorter string inside the longer — a file
pasted into a larger host and then lightly edited still gets credit. The
engine's substring stage used to verify verbatim containment only; these
tests pin the fingerprint-anchored partial scoring that closes that gap:

- kernel: ``partial_ratio_from_positions`` (anchor votes from the winnowed
  fingerprint arrays, then the InDel kernel over the voted windows) equals
  the unrestricted O(n*m) ``partial_ratio`` sweep on light-edit embeddings;
  ``containment_score`` (the containment UDF's per-row body) applies the
  ``min_partial - 1`` rounding guard;
- operator: ``verify_substring_pairs(min_partial=...)`` labels verbatim
  pairs ``containment`` and edited embeddings ``partial``, and refuses a
  corpus without the fingerprint columns; ``min_partial=None`` verifies
  verbatim containment only and needs no fingerprints;
- pipeline: planted embedded-with-edits duplicates (not recallable by
  verbatim containment NOR by Jaccard — the host dilutes the shingle set)
  are recovered with recall >= 0.99.
"""

import math
import random

import pytest

from spaczz_spark.operators.substring import (
    anchor_votes,
    containment_score,
    partial_ratio_from_positions,
    winnow_fingerprints_pos,
)
from spaczz_spark.operators.verify import CHAR_KERNEL_MAX
from spaczz_spark.ratios import partial_ratio

_WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "sigma",
]


def _gen(rng: random.Random, n_tokens: int) -> str:
    return " ".join(
        rng.choice(_WORDS) + str(rng.randint(0, 9999)) for _ in range(n_tokens)
    )


def _spaced_edit(text: str, every: int) -> str:
    toks = text.split(" ")
    for i in range(every // 2, len(toks), every):
        toks[i] = f"EDITED{i}"
    return " ".join(toks)


def _oriented_fps(a: str, b: str):
    """(short bytes, long bytes, fp_s, pos_s, fp_l, pos_l): both sides
    winnowed (k = w = 32) and oriented by UTF-8 byte length, as the verify
    stage does."""
    if len(a.encode()) > len(b.encode()):
        a, b = b, a
    fs, ps = winnow_fingerprints_pos(a, 32, 32)
    fl, pl = winnow_fingerprints_pos(b, 32, 32)
    return a.encode(), b.encode(), fs, ps, fl, pl


def _positions_ratio(a: str, b: str) -> float:
    return partial_ratio_from_positions(
        *_oriented_fps(a, b), k=32, min_partial=75
    )


# ---------------------------------------------------------------------------
# kernel (no Spark)
# ---------------------------------------------------------------------------


def test_positions_verbatim_is_100():
    rng = random.Random(1)
    short = _gen(rng, 120)
    host = _gen(rng, 300) + "\n\n" + short + "\n\n" + _gen(rng, 200)
    assert _positions_ratio(short, host) == 100.0


def test_positions_matches_full_sweep_on_light_edits():
    """On spaced-edit embeddings the anchored score must equal the
    unrestricted partial_ratio sweep (the shared-gram votes recover the
    true embedding offset)."""
    for seed in (2, 3, 4):
        rng = random.Random(seed)
        short = _gen(rng, 100 + 20 * seed)
        edited = _spaced_edit(short, every=40)
        host = _gen(rng, 250) + "\n\n" + edited + "\n\n" + _gen(rng, 250)
        anchored = _positions_ratio(short, host)
        full = partial_ratio(short, host)
        assert anchored > 90.0, (seed, anchored)
        assert abs(anchored - full) < 0.5, (seed, anchored, full)


def test_positions_is_order_insensitive():
    rng = random.Random(5)
    short = _gen(rng, 120)
    host = _gen(rng, 300) + " " + _spaced_edit(short, 50) + " " + _gen(rng, 100)
    assert _positions_ratio(short, host) == _positions_ratio(host, short)


def test_positions_unrelated_is_low():
    rng = random.Random(6)
    a, b = _gen(rng, 150), _gen(rng, 600)
    # no shared 32-byte gram at all -> no anchor -> 0 (not a full sweep)
    assert _positions_ratio(a, b) == 0.0


def test_containment_score_cutoff():
    """The per-row containment body keeps round(raw) only when raw clears
    the ``min_partial - 1`` cutoff — and that guard keeps a raw score just
    below ``min_partial`` that rounds up to it."""
    rng = random.Random(7)
    short = _gen(rng, 120)
    host = _gen(rng, 200) + " " + _spaced_edit(short, 30) + " " + _gen(rng, 200)
    sb, lb, fs, ps, fl, pl = _oriented_fps(short, host)
    raw = _positions_ratio(short, host)
    _, starts = anchor_votes(len(sb), len(lb), fs, ps, fl, pl, k=32)
    assert raw > 0

    def score(min_partial):
        return containment_score(
            short, host, starts, min_len=100, min_partial=min_partial
        )

    # cutoff (min_partial - 1) >= raw + 1
    assert score(math.ceil(raw) + 2) == (0, False)
    # cutoff <= raw - 1
    assert score(math.floor(raw)) == (round(raw), False)
    # rounding guard: raw < min_partial == round(raw) is still kept
    assert raw < round(raw)
    assert score(round(raw)) == (round(raw), False)


def test_positions_empty_and_tiny_inputs():
    assert _positions_ratio("", "anything at all here") == 0.0
    assert _positions_ratio("xy", "abcdefgh") == 0.0  # < k, padded grams


def test_positions_large_strings_token_fallback():
    """Above CHAR_KERNEL_MAX bytes the window is scored token-level (the
    same documented bounded-cost fallback as the InDel verify kernel) —
    still ~100 for an embedded lightly-edited copy, and fast."""
    rng = random.Random(8)
    short = _gen(rng, CHAR_KERNEL_MAX // 4)  # ~2.5x CHAR_KERNEL_MAX bytes
    assert len(short.encode()) > CHAR_KERNEL_MAX
    edited = _spaced_edit(short, every=80)
    host = _gen(rng, 500) + "\n\n" + edited + "\n\n" + _gen(rng, 500)
    sc = _positions_ratio(short, host)
    assert sc > 95.0, sc


# ---------------------------------------------------------------------------
# operator: verify_substring_pairs
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def verify_fixture(spark):
    from pyspark.sql import functions as F

    rng = random.Random(11)
    base = _gen(rng, 150)
    host_verbatim = _gen(rng, 300) + "\n\n" + base + "\n\n" + _gen(rng, 100)
    host_edited = (
        _gen(rng, 300) + "\n\n" + _spaced_edit(base, 60) + "\n\n" + _gen(rng, 100)
    )
    unrelated = _gen(rng, 500)
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, host_verbatim),
            (3, host_edited),
            (4, unrelated),
        ],
        ["file_id", "content"],
    )
    pairs = spark.createDataFrame(
        [(1, 2, "substring"), (1, 3, "substring"), (1, 4, "substring")],
        ["a_id", "b_id", "stage"],
    )
    return corpus, pairs


@pytest.fixture(scope="module")
def fp_verify_fixture(spark, verify_fixture):
    """verify_fixture's corpus with the fused signatures stage's
    n_bytes/fingerprints/fp_positions columns."""
    from pyspark.sql import functions as F

    from spaczz_spark.functions.signatures import with_fused_signatures

    corpus, pairs = verify_fixture
    enriched = with_fused_signatures(
        corpus.withColumn("n_bytes", F.octet_length("content")),
        3, 128, 42, 32, 32, 100,
    ).select("file_id", "content", "n_bytes", "fingerprints", "fp_positions")
    return enriched, pairs


def test_verify_substring_partial_labels(spark, fp_verify_fixture):
    from spaczz_spark.operators.substring import verify_substring_pairs

    corpus, pairs = fp_verify_fixture
    out = {
        r["b_id"]: r
        for r in verify_substring_pairs(
            pairs, corpus, min_len=100, min_partial=75
        ).collect()
    }
    assert out[2]["verified_by"] == "containment"
    assert out[2]["edit_ratio"] == 100
    assert out[3]["verified_by"] == "partial"
    assert 75 <= out[3]["edit_ratio"] < 100
    assert 4 not in out  # shares no real containment
    # schema parity with verify.verify_pairs output
    assert set(out[2].asDict()) == {
        "a_id", "b_id", "stage", "jaccard", "edit_ratio", "verified_by",
    }


def test_verify_substring_default_is_verbatim_only(spark, verify_fixture):
    """min_partial=None (the oracle-exact config) must reproduce the old
    behavior exactly: verbatim containment only."""
    from spaczz_spark.operators.substring import verify_substring_pairs

    corpus, pairs = verify_fixture
    rows = verify_substring_pairs(pairs, corpus, min_len=100).collect()
    assert [(r["b_id"], r["verified_by"], r["edit_ratio"]) for r in rows] == [
        (2, "containment", 100)
    ]


# ---------------------------------------------------------------------------
# pipeline: planted embedded-with-edits recall gate (>= 0.99)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edited_corpus():
    from spaczz_spark.sources.corpus import generate_corpus

    return generate_corpus(n_files=120, seed=9, substring_edited=12)


def test_pipeline_recalls_embedded_with_edits(
    spark, edited_corpus, tmp_path_factory
):
    from spaczz_spark.plans.config import DedupConfig
    from spaczz_spark.plans.pipeline import DedupPipeline

    root = str(tmp_path_factory.mktemp("ckpt_sub"))
    pipe = DedupPipeline(spark, DedupConfig(), root)  # substring_partial=True
    components = pipe.run(spark.createDataFrame(edited_corpus.files))
    truth = spark.createDataFrame(
        edited_corpus.truth_pairs.query("kind == 'substring_edited'")
    )
    assert truth.count() == 12
    recall = pipe.pair_recall(components, truth)
    assert recall >= 0.99, pipe.metrics


def test_partial_path_is_what_recalls_them(spark, edited_corpus, tmp_path_factory):
    """Negative control: with substring_partial=False (verbatim-only verify,
    the oracle-exact config) the edited embeddings must NOT be broadly
    recalled — proving the recall above comes from the partial_ratio path,
    not from Jaccard or accidental verbatim containment."""
    from spaczz_spark.plans.config import DedupConfig
    from spaczz_spark.plans.pipeline import DedupPipeline

    root = str(tmp_path_factory.mktemp("ckpt_sub_off"))
    pipe = DedupPipeline(
        spark, DedupConfig(substring_partial=False), root
    )
    components = pipe.run(spark.createDataFrame(edited_corpus.files))
    truth = spark.createDataFrame(
        edited_corpus.truth_pairs.query("kind == 'substring_edited'")
    )
    recall = pipe.pair_recall(components, truth)
    assert recall <= 0.5, pipe.metrics


# ---------------------------------------------------------------------------
# round-5 perf rework: O(len) rolling hash + array-anchored partial path
# ---------------------------------------------------------------------------


def test_kgram_rolling_hash_matches_windowed_reference():
    """The O(len) prefix rolling hash must be bit-identical to the original
    O(len*k) windowed dot product (same polynomial, same finalizer) — the
    committed fingerprints/fixtures depend on the exact values."""
    import numpy as np

    from spaczz_spark.operators.substring import _B, _kgram_hashes

    def windowed_ref(data: bytes, k: int) -> np.ndarray:
        arr = np.frombuffer(data, dtype=np.uint8)
        if len(arr) < k:
            arr = np.pad(arr, (0, k - len(arr)), constant_values=0)
        win = np.lib.stride_tricks.sliding_window_view(arr, k).astype(
            np.uint64
        )
        powers_py = [1] * k
        for i in range(k - 2, -1, -1):
            powers_py[i] = (powers_py[i + 1] * int(_B)) & 0xFFFFFFFFFFFFFFFF
        powers = np.array(powers_py, dtype=np.uint64)
        with np.errstate(over="ignore"):
            h = (win * powers[None, :]).sum(axis=1, dtype=np.uint64)
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
        return h

    rng = np.random.RandomState(7)
    for k in (1, 4, 32, 64):
        for length in (0, 1, 31, 32, 33, 100, 4096):
            data = rng.bytes(length)
            got = _kgram_hashes(data, k)
            want = windowed_ref(data, k)
            assert got.shape == want.shape and (got == want).all(), (k, length)


def test_winnow_positions_point_at_selected_grams():
    """Every position of winnow_fingerprints_pos is a genuine occurrence of
    its fingerprint's k-gram hash, and the fingerprint at the smallest
    position is bit-identical to the minimum hash of the first w k-grams
    (the anchor containment_pairs reads for each needle). Inputs cover
    ties (periodic text), multi-byte UTF-8, exactly 200 chars, and the
    blocked argmin path (more than 65,536 k-grams)."""
    import numpy as np

    from spaczz_spark.operators.substring import _kgram_hashes

    def first_window_min(data: bytes, k: int, w: int) -> int:
        # the needle anchor formula containment_pairs used before it read
        # the anchor from fingerprint positions
        return int(_kgram_hashes(data, k)[:w].min().astype(np.int64))

    rng = random.Random(5)
    texts = [_gen(rng, n) for n in (5, 40, 400)] + [
        "naïve café — 日本語のテキスト ünïcödé " * 12,
        "abc " * 300,
        (_gen(rng, 40) * 2)[:200],
        _gen(rng, 8000),
    ]
    assert len(texts[5]) == 200
    assert len(texts[6].encode("utf-8")) - 63 > 65536
    for text in texts:
        data = text.encode("utf-8")
        for k in (32, 64):
            vals, pos = winnow_fingerprints_pos(text, k, 32)
            assert len(vals) == len(pos)
            h = _kgram_hashes(data, k).astype(np.int64)
            assert (h[pos] == vals).all()
            assert vals[pos.argmin()] == first_window_min(data, k, 32)


def test_verify_partial_requires_fingerprint_columns(spark, verify_fixture):
    """min_partial set on a corpus without the precomputed fingerprint
    columns raises (there is no per-pair rehash fallback)."""
    from spaczz_spark.operators.substring import verify_substring_pairs

    corpus, pairs = verify_fixture
    with pytest.raises(ValueError, match="with_fused_signatures"):
        verify_substring_pairs(pairs, corpus, min_len=100, min_partial=75)


def test_verify_partial_score_matches_positions_kernel(
    spark, verify_fixture, fp_verify_fixture
):
    """The operator's edit_ratio for the edited embedding equals the
    rounded partial_ratio_from_positions of the same two texts."""
    from spaczz_spark.operators.substring import verify_substring_pairs

    corpus, pairs = fp_verify_fixture
    text = {r["file_id"]: r["content"] for r in verify_fixture[0].collect()}
    out = {
        r["b_id"]: r
        for r in verify_substring_pairs(
            pairs, corpus, min_len=100, min_partial=75
        ).collect()
    }
    assert out[3]["verified_by"] == "partial"
    assert out[3]["edit_ratio"] == round(_positions_ratio(text[1], text[3]))


def test_coverage_screen_skips_boilerplate_keeps_embeddings():
    """The coverage screen must zero a pair whose only shared material is a
    small boilerplate block (far below the score target) WITHOUT running
    the kernel, and must pass a genuine light-edit embedding."""
    rng = random.Random(21)
    boiler = _gen(rng, 60)  # ~500 bytes shared block
    doc_a = _gen(rng, 250) + "\n" + boiler + "\n" + _gen(rng, 250)
    doc_b = _gen(rng, 300) + "\n" + boiler + "\n" + _gen(rng, 200)
    base = _gen(rng, 200)
    host = _gen(rng, 300) + "\n" + _spaced_edit(base, 50) + "\n" + _gen(rng, 80)

    assert _positions_ratio(doc_a, doc_b) == 0.0  # screened: block << short
    assert _positions_ratio(base, host) >= 75.0  # light-edit embedding passes


def test_two_phase_screen_passes_large_verbatim_containment():
    """Phase A (anchor_votes on slim arrays, no content) must pass a
    verbatim containment pair with a large short side: winnowed selections
    tile the shared run, so coverage lands far above the screen threshold."""
    from spaczz_spark.operators.substring import (
        anchor_votes,
        winnow_fingerprints_pos,
    )

    rng = random.Random(33)
    base = _gen(rng, 300)  # ~2.5 KB >> the 512-byte screen bypass
    host = _gen(rng, 200) + "\n" + base + "\n" + _gen(rng, 150)
    fs, ps = winnow_fingerprints_pos(base, 32, 32)
    fl, pl = winnow_fingerprints_pos(host, 32, 32)
    nb, nl = len(base.encode()), len(host.encode())
    ok, starts = anchor_votes(nb, nl, fs, ps, fl, pl, k=32, min_partial=75)
    assert ok and starts
    # the top anchor is the true embedding offset
    assert abs(starts[0] - host.encode().index(base.encode())) <= 64


# ---------------------------------------------------------------------------
# round-6: adversarial screen cases (ADVICE medium + VERDICT ask #4)
# ---------------------------------------------------------------------------


def test_screen_passes_verbatim_with_repeated_material(spark):
    """Misanchor escape hatch: a short (> 512 B, no bypass) VERBATIM-contained
    in the host must verify even when nearly all its gram values first occur
    SCATTERED earlier in the host — first-occurrence positions then vote
    incoherent offsets, per-anchor coverage collapses, and before round 6 the
    screen vetoed the pair so phase B's exact `in` check never ran."""
    from pyspark.sql import functions as F

    from spaczz_spark.functions.signatures import with_fused_signatures
    from spaczz_spark.operators.substring import (
        anchor_votes,
        verify_substring_pairs,
        winnow_fingerprints_pos,
    )

    rng = random.Random(61)
    # ~12 long lines; the short is their ordered concatenation (~1.3 KB)
    lines = [_gen(rng, 14) for _ in range(12)]
    short = "\n".join(lines)
    shuffled = lines[:]
    rng.shuffle(shuffled)
    # host: the SAME lines scattered early (separated by junk so the short is
    # not contained there), then filler, then the short verbatim
    scattered = ""
    for ln in shuffled:
        scattered += ln + "\n" + _gen(rng, 6) + "\n"
    host = scattered + _gen(rng, 60) + "\n" + short + "\n" + _gen(rng, 20)
    assert short in host and len(short.encode()) > 512

    # unit check: anchor_votes must pass the pair (misanchor escape hatch)
    fs, ps = winnow_fingerprints_pos(short, 32, 32)
    fl, pl = winnow_fingerprints_pos(host, 32, 32)
    ok, _ = anchor_votes(
        len(short.encode()), len(host.encode()), fs, ps, fl, pl,
        k=32, min_partial=75,
    )
    assert ok, "screen vetoed a true verbatim containment (repeated material)"

    # end-to-end: the two-phase production path must verify it as containment
    corpus = with_fused_signatures(
        spark.createDataFrame([(1, short), (2, host)], ["file_id", "content"])
        .withColumn("n_bytes", F.octet_length("content")),
        fp_k=32, fp_w=32, fp_min_bytes=100,
    )
    pairs = spark.createDataFrame([(1, 2, "substring")], ["a_id", "b_id", "stage"])
    out = verify_substring_pairs(
        pairs, corpus, min_len=100, min_partial=75
    ).collect()
    assert len(out) == 1
    assert out[0]["verified_by"] == "containment"
    assert out[0]["edit_ratio"] == 100


def test_boilerplate_prefix_outvotes_true_offset():
    """VERDICT ask #4 property: a short whose PREFIX is high-frequency
    boilerplate (repeated many times early in the host, out-voting the true
    offset) with the true edited embedding elsewhere must still verify: the
    true offset's vote cluster lands among `starts`, and coverage is taken
    over the best-covered anchor, not just starts[0]."""
    from spaczz_spark.operators.substring import (
        partial_ratio_from_positions,
        winnow_fingerprints_pos,
    )

    for seed in range(5):
        rng = random.Random(100 + seed)
        boiler = _gen(rng, 40)  # ~350 B boilerplate prefix
        unique = _gen(rng, 110)  # ~950 B unique tail
        short = boiler + "\n" + unique
        assert len(short.encode()) > 512
        # host: many early copies of the boilerplate (wrong-offset votes),
        # then the short embedded WITH edits
        early = ("\n" + _gen(rng, 5) + "\n").join([boiler] * 6)
        embedded = _spaced_edit(short, 50)
        host = early + "\n" + _gen(rng, 50) + "\n" + embedded + "\n" + _gen(rng, 30)

        sb, lb = short.encode(), host.encode()
        fs, ps = winnow_fingerprints_pos(short, 32, 32)
        fl, pl = winnow_fingerprints_pos(host, 32, 32)
        score = partial_ratio_from_positions(
            sb, lb, fs, ps, fl, pl, k=32, min_partial=75
        )
        assert score >= 75.0, f"seed {seed}: planted edited embedding missed"


def test_coverage_screen_still_rejects_boilerplate_after_round6():
    """The misanchor escape hatch must NOT weaken the screen's purpose: a
    pair sharing only a small boilerplate block (short >> shared region)
    stays rejected — its total matched coverage is small too."""
    from spaczz_spark.operators.substring import (
        anchor_votes,
        winnow_fingerprints_pos,
    )

    rng = random.Random(77)
    boiler = _gen(rng, 60)  # ~500 B shared block
    doc_a = _gen(rng, 250) + "\n" + boiler + "\n" + _gen(rng, 250)
    doc_b = _gen(rng, 300) + "\n" + boiler + "\n" + _gen(rng, 200)
    a, b = (doc_a, doc_b) if len(doc_a.encode()) <= len(doc_b.encode()) else (doc_b, doc_a)
    fs, ps = winnow_fingerprints_pos(a, 32, 32)
    fl, pl = winnow_fingerprints_pos(b, 32, 32)
    ok, _ = anchor_votes(
        len(a.encode()), len(b.encode()), fs, ps, fl, pl, k=32, min_partial=75
    )
    assert not ok


# ---------------------------------------------------------------------------
# round-6: oracle-exact partial fixture (files_substring_partial gate)
# ---------------------------------------------------------------------------


def test_partial_corpus_production_path_matches_formula(spark):
    """The production two-phase substring verify over a small
    generate_partial_corpus must output EXACTLY the planted pairs with
    edit_ratio == round(100*(n-k)/n) — the same equality the driver's
    files_substring_partial oracle checks at full fixture size (recall,
    precision, and scores in one shot)."""
    from pyspark.sql import functions as F

    from spaczz_spark.functions.signatures import with_fused_signatures
    from spaczz_spark.operators.substring import (
        substring_candidates,
        verify_substring_pairs,
    )
    from spaczz_spark.sources.corpus import generate_partial_corpus

    files, plant = generate_partial_corpus(
        n_negatives=40, n_planted=6, seed=13
    )
    f = spark.createDataFrame(files).withColumn(
        "file_key", F.concat_ws("\x1f", "repo", "path", "commit")
    )
    corpus = with_fused_signatures(
        f.select(
            F.col("file_key").alias("file_id"),
            "content",
            F.octet_length("content").alias("n_bytes"),
        ),
        fp_k=32, fp_w=32, fp_min_bytes=100,
    )
    out = verify_substring_pairs(
        substring_candidates(corpus), corpus, min_len=100, min_partial=75
    ).collect()
    got = {
        (min(r["a_id"], r["b_id"]), max(r["a_id"], r["b_id"])): r
        for r in out
    }
    expected = {
        (min(p.a_key, p.b_key), max(p.a_key, p.b_key)): round(
            100.0 * (1.0 - (2 * p.k) / (p.n + p.n))
        )
        for p in plant.itertuples(index=False)
    }
    assert set(got) == set(expected)  # recall AND precision
    for key, ratio in expected.items():
        assert got[key]["edit_ratio"] == ratio
        assert got[key]["verified_by"] == "partial"


def test_sliding_first_argmin_matches_strided_argmin():
    """The blocked O(n) windowed first-argmin (used above
    _ARGMIN_BLOCKED_MIN_N) is exactly sliding_window_view(...).argmin —
    including first-index tie-breaking on heavily repeated values, which
    is what keeps fp_positions bit-identical whichever path fires."""
    import numpy as np

    from spaczz_spark.operators.substring import _sliding_first_argmin

    rng = np.random.RandomState(7)
    for _ in range(200):
        n = int(rng.randint(33, 500))
        w = int(rng.choice([2, 3, 8, 32, 33]))
        if n <= w:
            continue
        # small alphabets force many ties inside every window
        hi = int(rng.choice([3, 10, 2**63]))
        h = rng.randint(0, hi, size=n).astype(np.uint64)
        wins = np.lib.stride_tricks.sliding_window_view(h, w)
        want = wins.argmin(axis=1) + np.arange(len(wins))
        got = _sliding_first_argmin(h, w)
        assert np.array_equal(got, want), (n, w, hi)


def test_winnow_identical_across_argmin_paths(monkeypatch):
    """Forcing the blocked path on ordinary-size documents yields exactly
    the same (values, positions) as the default strided path."""
    import numpy as np

    from spaczz_spark.operators import substring as sub

    texts = [
        ("x = %d\n" % i) * 40 + "def f_%d(): return %d\n" % (i, i) * 10
        for i in range(50)
    ]
    base = [sub.winnow_fingerprints_pos(t, 32, 32) for t in texts]
    monkeypatch.setattr(sub, "_ARGMIN_BLOCKED_MIN_N", 0)
    forced = [sub.winnow_fingerprints_pos(t, 32, 32) for t in texts]
    for (v1, p1), (v2, p2) in zip(base, forced):
        assert np.array_equal(v1, v2)
        assert np.array_equal(p1, p2)


def test_kgram_hashes_match_naive_and_pow_cache_tail():
    """r7: the rolling hash's cached power tables (and the over-cap tail
    extension) must be bit-identical to the direct windowed formula."""
    import numpy as np

    from spaczz_spark.operators import substring as S

    rng = np.random.RandomState(7)

    def naive(data: bytes, k: int) -> np.ndarray:
        arr = np.frombuffer(data, dtype=np.uint8)
        if len(arr) < k:
            arr = np.pad(arr, (0, k - len(arr)), constant_values=0)
        with np.errstate(over="ignore"):
            pows = np.empty(k, dtype=np.uint64)
            pows[0] = 1
            np.cumprod(np.full(k - 1, S._B, dtype=np.uint64), out=pows[1:])
            pows = pows[::-1].copy()
            n = len(arr) - k + 1
            h = np.zeros(n, dtype=np.uint64)
            a = arr.astype(np.uint64)
            for j in range(k):
                h += a[j : j + n] * pows[j]
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
        return h

    for size, k in [(1, 32), (31, 32), (200, 32), (5000, 16), (4096, 64)]:
        data = bytes(rng.randint(0, 256, size=size, dtype=np.uint8))
        assert (S._kgram_hashes(data, k) == naive(data, k)).all(), (size, k)

    # exceed the cache cap so the uncached tail-extension path runs
    old_cap = S._POW_CACHE_MAX
    S._POW_CACHE_MAX = 1024
    S._POW_TABLES.clear()
    try:
        data = bytes(rng.randint(0, 256, size=3000, dtype=np.uint8))
        assert (S._kgram_hashes(data, 32) == naive(data, 32)).all()
        tbl = S._pow_table(S._B, 2500)
        assert len(tbl) == 2500
        with np.errstate(over="ignore"):
            want = np.empty(2500, dtype=np.uint64)
            want[0] = 1
            np.cumprod(np.full(2499, S._B, dtype=np.uint64), out=want[1:])
        assert (tbl == want).all()
        assert len(S._POW_TABLES[int(S._B)]) <= 1024
    finally:
        S._POW_CACHE_MAX = old_cap
        S._POW_TABLES.clear()
