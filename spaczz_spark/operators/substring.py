"""Substring-duplicate stage — the ``partial_ratio`` analog (SURVEY.md §2.1 S2).

Shingle Jaccard dilutes verbatim-embedded duplicates (file A pasted inside a
10x larger file B has Jaccard ~ |A|/|B|), which is exactly the blind spot the
reference covers with ``fuzz.partial_ratio`` (best local alignment of the
shorter string; reference: ``registry/fuzzyfuncs.py:9``). At corpus scale we
cover it with **winnowed k-gram fingerprints** (Schleimer et al., MOSS):

- per document, hash all byte k-grams (k=32) with a vectorized numpy rolling
  window, then keep the minimum hash of every w-length window (w=32).
  Winnowing guarantee: any common substring of length >= w + k - 1 (= 63
  bytes) shares at least one selected fingerprint — deterministic recall for
  long verbatim overlaps, at ~2/w of the all-positions cost.
- explode fingerprints, bucket-join into candidate pairs (same cap/star skew
  guard as MinHash LSH).
- verify **two-phase**: a slim anchor-vote + coverage screen over the
  precomputed fingerprint (value, byte-offset) arrays first — no content in
  flight — then, for the surviving pairs only, a content join feeding an
  Arrow-batched UDF that does the exact containment check plus
  ``partial_ratio`` of the shorter side against the top-voted aligned
  windows. Verbatim-only verify (``min_partial=None``) skips the screen
  and runs the same UDF with no anchor windows.

Output pairs carry stage='substring' and the partial ratio as edit_ratio.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from ..functions.layout import ensure_min_partitions
from ..ratios import indel_ratio as _indel_ratio
from .lsh import pairs_from_buckets
from .verify import CHAR_KERNEL_MAX, attach_pair_sides

__all__ = [
    "substring_candidates",
    "verify_substring_pairs",
    "partial_ratio_from_positions",
    "winnow_fingerprints_pos",
]

_B = np.uint64(1099511628211)  # FNV-ish odd multiplier for the rolling hash


_B_INV = np.uint64(pow(int(_B), -1, 2**64))  # B is odd, so invertible mod 2^64

# Cached power tables for the rolling hash (r7): B^j and B^-j mod 2^64 are
# CONSTANT sequences, but the previous code re-ran both cumprods for every
# document — two O(len) passes of pure recomputation per row, in the UDF
# that profiling showed dominates the fused signature kernel. The tables
# grow on demand (same uint64 wrap-around cumprod recurrence, so values
# are bit-identical to the per-row computation) and are shared by every
# call in the worker process.
_POW_TABLES: dict[int, np.ndarray] = {}

# Cached tables are capped so one pathological multi-MB document cannot
# pin a table of its own length in every reused worker process forever
# (8 B/entry: the cap is an 8 MB ceiling per base); longer inputs compute
# their tails fresh, which is the pre-cache behavior.
_POW_CACHE_MAX = 1 << 20


def _pow_table(base: np.uint64, n: int) -> np.ndarray:
    """First ``n`` powers of ``base`` mod 2^64 (tbl[j] = base**j)."""
    key = int(base)
    tbl = _POW_TABLES.get(key)
    if tbl is None or len(tbl) < min(n, _POW_CACHE_MAX):
        size = min(
            max(n, 4096, 0 if tbl is None else 2 * len(tbl)),
            _POW_CACHE_MAX,
        )
        with np.errstate(over="ignore"):
            new = np.empty(size, dtype=np.uint64)
            new[0] = 1
            np.cumprod(np.full(size - 1, base, dtype=np.uint64), out=new[1:])
        _POW_TABLES[key] = tbl = new
    if n > len(tbl):
        # rare oversized input: extend past the cached prefix without
        # caching the tail (same recurrence, bit-identical values)
        with np.errstate(over="ignore"):
            out = np.empty(n, dtype=np.uint64)
            out[: len(tbl)] = tbl
            np.cumprod(
                np.full(n - len(tbl), base, dtype=np.uint64),
                out=out[len(tbl) :],
            )
            out[len(tbl) :] *= tbl[-1]
            # cumprod gives base^1..base^(n-len); shift by tbl[-1] =
            # base^(len-1) so out[j] = base^j exactly
        return out
    return tbl


def _kgram_hashes(data: bytes, k: int) -> np.ndarray:
    """uint64 hashes of all k-grams of ``data`` — O(len) prefix form.

    Computes exactly ``H[i] = sum_j x[i+j] * B^(k-1-j)`` (mod 2^64, then the
    murmur-style finalizer) — bit-identical to the naive windowed dot
    product — via the telescoping prefix identity

        H[i] = (S[i+k] - S[i]) * B^(i+k-1),   S[m] = sum_{j<m} x[j] * B^(-j)

    (B odd => B^(-1) exists mod 2^64; all arithmetic wraps in uint64, which
    is the modulus). Replaces the previous ``sliding_window_view`` matrix
    product, which was O(len*k) — a 32x op-count reduction at k=32 that
    shows up directly in the signatures stage (every document is hashed
    once per run).
    """
    arr = np.frombuffer(data, dtype=np.uint8)
    if len(arr) < k:
        arr = np.pad(arr, (0, k - len(arr)), constant_values=0)
    n = len(arr)
    with np.errstate(over="ignore"):
        # powers come from the shared cached tables (bit-identical values,
        # no per-row cumprod recomputation — see _pow_table)
        inv_pows = _pow_table(_B_INV, n)[:n]
        prefix = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(arr.astype(np.uint64) * inv_pows, out=prefix[1:])
        # fwd_pows[i] = B^(k-1+i): a slice of the cached B-power table
        fwd_pows = _pow_table(_B, n)[k - 1 : n]
        h = (prefix[k:] - prefix[:-k]) * fwd_pows
    # final mix so low bytes influence high bits
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    return h


def winnow_fingerprints_pos(
    text: str, k: int = 32, w: int = 32
) -> tuple[np.ndarray, np.ndarray]:
    """Winnowed fingerprints WITH their byte offsets.

    Returns ``(values, positions)``: ``values`` is the sorted-distinct
    int64 set of window minima; ``positions`` is the int32 byte offset
    (into the UTF-8 encoding) of the first selected k-gram carrying each
    value — selections never move backwards, so the smallest position
    holds the first window's minimum. Positions let the substring
    verifier compute embedding-offset votes from two documents' fingerprint
    arrays alone — no per-pair rehash of the content (see
    ``verify_substring_pairs``).
    """
    data = text.encode("utf-8", errors="ignore")
    h = _kgram_hashes(data, k)
    if len(h) <= w:
        idx = np.array([int(h.argmin())])
    elif len(h) <= _ARGMIN_BLOCKED_MIN_N:
        wins = np.lib.stride_tricks.sliding_window_view(h, w)
        # argmin picks the first minimum per window (the selected value
        # equals wins.min(axis=1))
        idx = wins.argmin(axis=1) + np.arange(len(wins))
    else:
        idx = _sliding_first_argmin(h, w)
    vals, first = np.unique(h[idx], return_index=True)
    return vals.astype(np.int64), idx[first].astype(np.int32)


# Crossover measured on the bench corpus's real k-gram hashes (interleaved
# min-of-7, pinned cores): the strided-view argmin is FASTER below ~64k
# windows (0.10ms vs 0.27ms at n=2k; parity at n=64k) because the (n, w)
# view stays cache-resident; above it the O(n) blocked scan wins and keeps
# the worst case linear (a 1 MB file is ~1M windows — O(n*w) strided argmin
# is ~30ms there and grows 32x faster than the blocked path). Typical source
# files (median ~2k k-grams) always take the strided path.
_ARGMIN_BLOCKED_MIN_N = 65536


def _sliding_first_argmin(h: np.ndarray, w: int) -> np.ndarray:
    """Index of the FIRST minimum of every length-``w`` sliding window.

    Exactly ``sliding_window_view(h, w).argmin(axis=1) + arange`` (numpy
    argmin keeps the first tie, and so does this), but O(n) instead of
    O(n*w): the classic two-block sparse-table decomposition. ``h`` is
    padded to a multiple of ``w`` with uint64 max and reshaped to
    ``(nblocks, w)``; a window starting at ``i`` is the suffix of block
    ``i // w`` from ``i`` plus the prefix of the next block through
    ``i + w - 1``, so its first-argmin is ``suffix_argmin[i]`` when
    ``suffix_min[i] <= prefix_min[i + w - 1]`` (ties go to the suffix —
    the earlier positions) else ``prefix_argmin[i + w - 1]``. The running
    first-argmin along a row is a vectorized scan: positions where the
    value drops STRICTLY below the running minimum are reset points
    (ties keep the earlier index), and ``maximum.accumulate`` over
    ``where(reset, position, 0)`` carries the last reset forward.
    """
    n = len(h)
    pad = (-n) % w
    a = np.pad(h, (0, pad), constant_values=np.uint64(0xFFFFFFFFFFFFFFFF))
    m = a.reshape(-1, w)
    cols = np.arange(w)

    # prefix (block start -> j): running min and first-argmin
    pre_min = np.minimum.accumulate(m, axis=1)
    drop = np.empty_like(m, dtype=bool)
    drop[:, 0] = True
    drop[:, 1:] = m[:, 1:] < pre_min[:, :-1]
    pre_arg = np.maximum.accumulate(np.where(drop, cols, 0), axis=1)

    # suffix (j -> block end): running min and FIRST-argmin (scan the
    # reversed row, but ties must keep the EARLIER original index, i.e.
    # the LATER reversed index — so reset on <=, not <)
    r = m[:, ::-1]
    suf_min_r = np.minimum.accumulate(r, axis=1)
    dropr = np.empty_like(r, dtype=bool)
    dropr[:, 0] = True
    dropr[:, 1:] = r[:, 1:] <= suf_min_r[:, :-1]
    suf_arg_r = np.maximum.accumulate(np.where(dropr, cols, 0), axis=1)
    suf_min = suf_min_r[:, ::-1]
    suf_arg = (w - 1) - suf_arg_r[:, ::-1]

    nwin = n - w + 1
    base = (np.arange(nwin) // w) * w
    off = np.arange(nwin) % w
    s_min = suf_min[np.arange(nwin) // w, off]
    s_arg = base + suf_arg[np.arange(nwin) // w, off]
    endpos = np.arange(nwin) + w - 1
    p_min = pre_min[endpos // w, endpos % w]
    p_arg = (endpos // w) * w + pre_arg[endpos // w, endpos % w]
    return np.where(s_min <= p_min, s_arg, p_arg)


def substring_candidates(corpus: DataFrame, *, bucket_cap: int = 64) -> DataFrame:
    """Candidate pairs sharing a winnowed fingerprint: (a_id, b_id, stage),
    one row per shared fingerprint.

    ``corpus`` must carry the precomputed ``fingerprints`` column of the
    fused signatures stage (``functions.signatures.with_fused_signatures``
    with ``fp_k``/``fp_w``/``fp_min_bytes`` set), so this stage is pure
    JVM: explode + bucket joins, no Arrow pass over content at all. The
    winnowing parameters are the column's: the fused stage stamps them into
    its metadata, where :func:`verify_substring_pairs` reads ``k``.
    Documents below ``fp_min_bytes`` carry empty arrays — tiny files share
    boilerplate k-grams and are already fully covered by the MinHash path —
    so the explode drops them.
    """
    if "fingerprints" not in corpus.columns:
        raise ValueError(
            "substring_candidates needs a precomputed `fingerprints` "
            "column; build the corpus with with_fused_signatures(fp_k=..., "
            "fp_w=..., fp_min_bytes=...)"
        )
    buckets = corpus.select("file_id", F.explode("fingerprints").alias("bucket_key"))
    return pairs_from_buckets(buckets, bucket_cap).withColumn(
        "stage", F.lit("substring")
    )


def containment_pairs(
    docs: DataFrame,
    *,
    anchor_len: int = 64,
    min_len: int = 200,
    w: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact containment join: pairs (a, b) where a's full text appears
    verbatim inside b's (and a is strictly shorter).

    Candidate plan (winnowed, scale-safe): one Arrow pass winnows each
    document of at least ``min_len`` chars (the minimum hash of every
    ``w``-length k-gram window — ~2/w of all positions). Hosts explode
    those fingerprints; each needle emits the one at its smallest byte
    offset, which is the minimum hash of its FIRST ``w`` k-grams (the
    first-minimum argmins never decrease along the text). Recall proof: if
    a is contained in b, a's k-gram sequence appears contiguously in b, so
    the host window exactly aligned with a's first ``w`` k-grams has the
    same minimum — the needle's anchor is always among the host's winnowed
    fingerprints. ``instr`` then verifies exactly, so the *output* equals
    the all-positions form (and the DuckDB oracle, which uses the naive
    every-position anchor join — different candidate plan, same perfect
    recall, same verified output) while shuffling ~w× fewer host rows:
    a 10 KB host emits ~600 fingerprints instead of ~10k anchors.
    """
    # single-file inputs scan as one partition, serializing the Arrow
    # winnowing UDF below on one task; no-op on well-partitioned inputs
    base = ensure_min_partitions(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.length(text_col).alias("len"),
        )
    )

    @F.pandas_udf("fingerprints array<bigint>, anchor bigint")
    def winnow(texts: pd.Series) -> pd.DataFrame:
        # numpy rolling hash + window minima; the JVM per-position
        # substring alternative is interpreted and ~10x slower at scale
        fps, anchors = [], []
        for t in texts:
            vals, pos = winnow_fingerprints_pos(t, anchor_len, w)
            fps.append(vals)
            anchors.append(int(vals[pos.argmin()]))
        return pd.DataFrame({"fingerprints": fps, "anchor": anchors})

    # Nondeterministic so Catalyst cannot clone the UDF into pushed-down
    # filters; materialized once (lazily, like `_doc_signatures`) so both
    # join sides read one winnowing pass per document.
    sigs = (
        base.where(F.col("len") >= min_len)
        .select("doc_id", "len", winnow.asNondeterministic()("text").alias("s"))
        .select("doc_id", "len", "s.fingerprints", "s.anchor")
        .localCheckpoint(eager=False)
    )
    needles = sigs.select(F.col("doc_id").alias("a_id"), "anchor")
    hosts = sigs.where(F.col("len") > min_len).select(
        F.col("doc_id").alias("b_id"),
        F.explode("fingerprints").alias("anchor"),
    )
    # Hosts on the left: both sides carry the checkpoint's size estimate
    # (the planner cannot see the explode's fan-out) and a tie builds the
    # right side, so a broadcast ships the needles, never the fingerprints.
    cand = (
        hosts.join(needles, "anchor")
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    sides = cand.join(
        base.select(F.col("doc_id").alias("a_id"), F.col("text").alias("a_text"),
                    F.col("len").alias("a_len")),
        "a_id",
    ).join(
        base.select(F.col("doc_id").alias("b_id"), F.col("text").alias("b_text"),
                    F.col("len").alias("b_len")),
        "b_id",
    )
    return (
        sides.where(
            (F.col("a_len") < F.col("b_len"))
            & (F.expr("instr(b_text, a_text)") > 0)
        )
        .select("a_id", "b_id")
    )


def anchor_votes(
    n_short: int,
    n_long: int,
    fp_s,
    pos_s,
    fp_l,
    pos_l,
    *,
    k: int = 32,
    min_partial: int = 75,
    max_anchors: int = 3,
) -> tuple[bool, list[int]]:
    """Anchor-vote + coverage-screen decision from two fingerprint arrays.

    Returns ``(passes, starts)``: ``starts`` are the (<= max_anchors)
    top-voted candidate window offsets of the shorter side inside the
    longer, and ``passes`` is False when the pair shares no fingerprint or
    the coverage screen rules out reaching ``min_partial`` (see
    :func:`partial_ratio_from_positions` for the screen's derivation).
    Pure array math — no content needed — which is what lets the verify
    stage screen candidate pairs BEFORE joining content onto them.
    """
    if (
        n_short == 0
        or fp_s is None
        or fp_l is None
        or len(fp_s) == 0
        or len(fp_l) == 0
    ):
        return False, []
    fp_s = np.asarray(fp_s, dtype=np.int64)
    fp_l = np.asarray(fp_l, dtype=np.int64)
    _, ia, ib = np.intersect1d(
        fp_s, fp_l, assume_unique=True, return_indices=True
    )
    if ia.size == 0:
        return False, []
    ps = np.asarray(pos_s, dtype=np.int64)[ia]
    pl = np.asarray(pos_l, dtype=np.int64)[ib]
    hi = max(n_long - n_short, 0)
    votes = np.clip(pl - ps, 0, hi)
    vals, counts = np.unique(votes, return_counts=True)
    order = np.argsort(-counts, kind="stable")
    tol = max(64, n_short >> 3)
    starts: list[int] = []
    for i in order:
        v = int(vals[i])
        if all(abs(v - s) > tol for s in starts):
            starts.append(v)
            if len(starts) == max_anchors:
                break
    if n_short > 512:
        # Coverage over the BEST-covered anchor among `starts`, not just the
        # top-voted one: a boilerplate-heavy prefix can out-vote the true
        # embedding offset, and vetoing on that noise anchor alone rejected
        # genuine pairs (round-5 ADVICE; adversarial test in
        # tests/test_substring.py::test_boilerplate_prefix_outvotes_true_offset).
        best_cov = 0
        for s in starts:
            members = np.sort(ps[np.abs(votes - s) <= tol])
            cov = int(np.minimum(np.diff(members), k).sum()) + k
            if cov > best_cov:
                best_cov = cov
        if best_cov * 100 < n_short * (min_partial - 25):
            # Misanchor escape hatch: when the short's gram VALUES also occur
            # earlier in the long side (repeated/boilerplate material), the
            # first-occurrence positions vote incoherent offsets and every
            # per-anchor cluster looks sparse — yet a verbatim containment
            # may still exist elsewhere. Position-FREE coverage over all
            # matched short grams upper-bounds any alignment's coverage; if
            # it is near-complete (within winnow-boundary slack of the whole
            # short), pass the pair so phase B's exact `in` check — which
            # needs no anchors — can decide. A truly-boilerplate pair (small
            # shared region) stays rejected: its total match is small too.
            all_members = np.sort(ps)
            total_cov = int(np.minimum(np.diff(all_members), k).sum()) + k
            if total_cov < n_short - 8 * k:
                return False, starts
    return True, starts


def _window_ratio(sb: bytes, lb: bytes, starts) -> float:
    """Best InDel ratio of ``sb`` against the windows ``lb[s : s+len(sb)]``
    for ``s`` in ``starts`` (0.0 when ``starts`` is empty).

    Above ``CHAR_KERNEL_MAX`` bytes a window is scored token-level — the
    same documented bounded-cost fallback as ``verify.make_edit_ratio_udf``.
    Stops at the first window scoring 100.
    """
    n = len(sb)
    best = 0.0
    for s in starts:
        win = lb[int(s) : int(s) + n]
        if n > CHAR_KERNEL_MAX:
            sc = _indel_ratio(sb.split(), win.split())
        else:
            sc = _indel_ratio(sb, win)
        if sc > best:
            best = sc
            if best >= 100.0:
                break
    return best


def partial_ratio_from_positions(
    sb: bytes,
    lb: bytes,
    fp_s: np.ndarray,
    pos_s: np.ndarray,
    fp_l: np.ndarray,
    pos_l: np.ndarray,
    *,
    k: int = 32,
    min_partial: int = 75,
    max_anchors: int = 3,
) -> float:
    """``partial_ratio`` of the shorter ``sb`` inside ``lb`` restricted to
    fingerprint-anchored windows — O(window), never the O(n·m) full sweep.

    Reference semantics: ``fuzz.partial_ratio`` (best InDel ratio of the
    shorter string against any same-length window of the longer; reference
    ``registry/fuzzyfuncs.py:9``). Candidates reaching this kernel share a
    winnowed k-gram fingerprint, i.e. an exact 32-byte synchronization
    point, so only the windows implied by shared-gram positions can hold
    the best local alignment of an embedded copy, and only those are
    scored. The anchor votes come from the two documents' precomputed
    winnowed fingerprint (value, byte-offset) arrays — no content rehash:

    - every shared winnowed gram votes for window start
      ``pos_long - pos_short``; within an intact shared run both documents
      select the same window-minimum grams (the MOSS guarantee), so the
      true embedding offset collects most votes, with nearby starts from
      indel drift splitting the rest;
    - a **coverage screen** skips the InDel kernel when the matched grams
      near the top-voted offset cannot plausibly support ``min_partial``:
      consecutive winnowed selections inside an intact run are <= w grams
      apart, so with k = w their [p, p+k) spans tile the run contiguously
      and ``coverage = union of spans`` undercounts the run by at most
      w+k-2 boundary bytes per run.  A pair whose coverage is far below
      the score target therefore shares only a small verbatim region
      (boilerplate snippet, not an embedded copy) and the kernel is
      skipped — this is what keeps the 100x-more-numerous
      shared-boilerplate candidates from each paying an O(n^2/64) kernel.
      The screen requires ``coverage >= n*(min_partial-25)/100`` (25
      ratio points of slack for edit damage + run boundaries) and is
      bypassed entirely for shorts <= 512 bytes, where the kernel is
      cheaper than any risk of a sparse-gram recall edge.  The planted
      embedded-with-edits fixtures gate its recall in
      tests/test_substring.py;
    - the ``max_anchors`` top-voted starts are scored with
      :func:`_window_ratio`.

    A prefix with net indel drift ``d`` shifts the optimal window by ``d``,
    which costs the anchored score at most ``200·d / (2·len(short))`` ratio
    points vs the unrestricted sweep — negligible for the light-edit
    embeddings this stage exists to catch.

    Scoring is over UTF-8 bytes (the hashes are byte k-grams, so byte
    offsets are the only consistent window coordinates); for non-ASCII
    content the normalization therefore counts bytes, not codepoints — a
    documented, deterministic choice.
    """
    passes, starts = anchor_votes(
        len(sb), len(lb), fp_s, pos_s, fp_l, pos_l,
        k=k, min_partial=min_partial, max_anchors=max_anchors,
    )
    if not passes:
        return 0.0
    return _window_ratio(sb, lb, starts)


def containment_score(
    a: str | None,
    b: str | None,
    starts,
    *,
    min_len: int = 100,
    min_partial: int | None = None,
) -> tuple[int, bool]:
    """Per-pair body of the containment UDF: ``(score, verbatim)``.

    - ``(100, True)`` when the byte-shorter side appears verbatim in the
      other (exact containment fast path, Boyer-Moore ``in``);
    - otherwise ``(round(best), False)``, ``best`` being the
      :func:`_window_ratio` of the shorter side over the anchor windows
      ``starts`` (byte offsets inside the longer side, from
      :func:`anchor_votes`), or 0 when it is below ``min_partial - 1``.
      With no anchors (verbatim-only verify) that is always 0;
    - ``(0, False)`` for a missing side or a shorter side below
      ``min_len`` bytes.

    ``min_len`` and the short/long orientation are measured in **UTF-8
    bytes**, the unit of the anchor offsets. Byte containment equals string
    containment for valid UTF-8 (self-synchronizing: a byte-aligned match
    of a sequence starting with a lead byte is a char-boundary match).
    """
    if a is None or b is None:
        return 0, False
    sb = a.encode("utf-8", "ignore")
    lb = b.encode("utf-8", "ignore")
    if len(sb) > len(lb):
        sb, lb = lb, sb
    if len(sb) < min_len:
        return 0, False
    if sb in lb:
        return 100, True
    best = _window_ratio(sb, lb, starts if starts is not None else ())
    # rapidfuzz cutoff semantics at min_partial - 1: a raw
    # (min_partial - 0.5) rounds UP to min_partial, so cutting at
    # min_partial would wrongly zero it (same guard as the InDel kernel's
    # min_r2 - 1 cutoff in verify_pairs)
    cutoff = 0 if min_partial is None else max(min_partial - 1, 0)
    return (round(best) if best >= cutoff else 0), False


def make_anchor_screen_udf(
    min_len: int = 100, min_partial: int = 75, k: int = 32,
    max_anchors: int = 3,
):
    """Screen pandas UDF: (n_bytes, fingerprints, fp_positions) x 2 sides
    -> ``struct<passes boolean, anchors array<int>>`` — NO content input.

    ``k`` is the k-gram length the fingerprints were winnowed with;
    :func:`verify_substring_pairs` passes the ``fp_k`` metadata of the
    ``fingerprints`` column.

    Runs :func:`anchor_votes` on the slim fingerprint arrays so the verify
    stage can decide which candidate pairs are worth joining ``content``
    onto at all.  On the scale2 corpus ~85% of substring candidates are
    shared-boilerplate pairs the coverage screen rejects; screening before
    the content join keeps their (multi-KB) text off the exchange and out
    of the Arrow channel entirely — the slim arrays are ~1.5 KB/pair vs
    ~7 KB/pair with content.  Anchors are byte offsets of the shorter
    (by ``n_bytes``) side inside the longer, consumed by
    :func:`make_windowed_containment_udf` after the content join.

    Verbatim-containment recall is preserved by construction: a verbatim
    pair's shared run is the whole short side, winnowed selections tile it
    (gap <= w <= k), so coverage lands far above the screen threshold.
    When most of the short's gram VALUES also occur earlier in the host
    (first-occurrence positions then vote wrong offsets), the per-anchor
    coverage collapses but the position-free total-match coverage stays
    near-complete, and :func:`anchor_votes`' misanchor escape hatch passes
    the pair through to the exact containment check. Shorts
    <= 512 bytes bypass the screen entirely. Both pathological cases
    (scattered repeated material; boilerplate prefix out-voting the true
    offset) are pinned by tests in tests/test_substring.py.
    """

    @F.pandas_udf("passes boolean, anchors array<int>")
    def screen(
        a_nb: pd.Series, b_nb: pd.Series,
        a_fp: pd.Series, a_pos: pd.Series,
        b_fp: pd.Series, b_pos: pd.Series,
    ) -> pd.DataFrame:
        passes: list[bool] = []
        anchors: list[list[int]] = []
        for na, nb, f1, p1, f2, p2 in zip(a_nb, b_nb, a_fp, a_pos, b_fp, b_pos):
            na = int(na) if na is not None else 0
            nb = int(nb) if nb is not None else 0
            if na <= nb:
                ns, nl, fs, ps, fl, pl = na, nb, f1, p1, f2, p2
            else:
                ns, nl, fs, ps, fl, pl = nb, na, f2, p2, f1, p1
            if ns < min_len:
                passes.append(False)
                anchors.append([])
                continue
            ok, starts = anchor_votes(
                ns, nl, fs, ps, fl, pl,
                k=k, min_partial=min_partial, max_anchors=max_anchors,
            )
            passes.append(ok)
            anchors.append(starts)
        return pd.DataFrame({"passes": passes, "anchors": anchors})

    return screen.asNondeterministic()


def make_windowed_containment_udf(
    min_len: int = 100, min_partial: int | None = None
):
    """pandas UDF: (content_a, content_b, anchors) -> ``struct<score int,
    verbatim boolean>``, a map of :func:`containment_score` over the rows.
    """

    @F.pandas_udf("score int, verbatim boolean")
    def containment(
        a: pd.Series, b: pd.Series, anchors: pd.Series
    ) -> pd.DataFrame:
        rows = [
            containment_score(
                s1, s2, starts, min_len=min_len, min_partial=min_partial
            )
            for s1, s2, starts in zip(a, b, anchors)
        ]
        return pd.DataFrame(rows, columns=["score", "verbatim"]).astype(
            {"score": "int32", "verbatim": "bool"}
        )

    # single ArrowEvalPython per pair: without the marker the filter + the
    # two projections below would each clone the kernel expression
    return containment.asNondeterministic()


def verify_substring_pairs(
    pairs: DataFrame,
    corpus: DataFrame,
    *,
    min_len: int = 100,
    min_partial: int | None = None,
    content_df: DataFrame | None = None,
) -> DataFrame:
    """Keep candidate pairs where one side is contained in the other.

    With the default ``min_partial=None`` only *verbatim* containment
    verifies (score 100, ``verified_by='containment'``). With
    ``min_partial`` set (the production pipeline passes ``min_r2``),
    candidates that fail exact containment are scored with the
    fingerprint-anchored ``partial_ratio`` kernel — the reference's S2
    semantics for a file pasted into a larger file *then lightly edited*
    (reference ``registry/fuzzyfuncs.py:9``) — and kept at
    ``score >= min_partial`` with ``verified_by='partial'``.

    Schema-aligned with verify.verify_pairs output.

    One plan for both modes (mirroring ``verify.verify_pairs``'s
    slim/kernel split):

    - with ``min_partial`` set, the corpus must carry the signatures
      stage's ``fingerprints``/``fp_positions``/``n_bytes`` columns, and
      ``fingerprints`` its ``fp_k`` metadata (the k-gram length the
      screen scores with; it survives parquet checkpoints). Only those
      slim arrays are joined first and screened with
      :func:`anchor_votes` — ~85% of candidates on the scale2 corpus are
      shared-boilerplate pairs rejected here — so the multi-KB text of
      rejected pairs never crosses the exchange or the Arrow channel;
    - with ``min_partial=None`` there is no screen and every pair carries
      an empty anchor list; fingerprints are not needed;
    - the (surviving) pairs then join ``content`` once and run
      :func:`make_windowed_containment_udf`: the exact containment check,
      plus the InDel kernel over the anchor windows.

    ``content_df``: optional separate (file_id, content) source for the
    content join — the pipeline passes its ``normalized`` table so the
    signatures checkpoint need not carry a second copy of the text.
    """
    threshold = 100 if min_partial is None else min(min_partial, 100)
    if min_partial is None:
        anchored = pairs.withColumn(
            "anchors", F.array().cast(ArrayType(IntegerType()))
        )
    else:
        slim_cols = ["n_bytes", "fingerprints", "fp_positions"]
        missing = [c for c in slim_cols if c not in corpus.columns]
        k = None if missing else corpus.schema["fingerprints"].metadata.get("fp_k")
        if k is None:
            raise ValueError(
                f"verify_substring_pairs(min_partial={min_partial}) needs "
                f"the precomputed {missing or 'fp_k metadata of fingerprints'}; "
                "build the corpus with with_fused_signatures(fp_k=..., "
                "fp_w=..., fp_min_bytes=...) and octet_length(content) as "
                "n_bytes"
            )
        screen = make_anchor_screen_udf(min_len, min_partial, int(k))
        anchored = (
            attach_pair_sides(pairs, corpus, slim_cols)
            .withColumn(
                "s",
                screen(
                    "a_n_bytes", "b_n_bytes",
                    "a_fingerprints", "a_fp_positions",
                    "b_fingerprints", "b_fp_positions",
                ),
            )
            .where(F.col("s.passes"))
            .select("a_id", "b_id", "stage", F.col("s.anchors").alias("anchors"))
        )
    texts = content_df if content_df is not None else corpus
    joined = attach_pair_sides(anchored, texts, ["content"])
    udf = make_windowed_containment_udf(min_len, min_partial)
    return (
        joined.withColumn("r", udf("a_content", "b_content", "anchors"))
        .where(F.col("r.score") >= threshold)
        .select(
            "a_id",
            "b_id",
            "stage",
            F.lit(None).cast("double").alias("jaccard"),
            F.col("r.score").alias("edit_ratio"),
            F.when(F.col("r.verbatim"), F.lit("containment"))
            .otherwise(F.lit("partial"))
            .alias("verified_by"),
        )
    )
