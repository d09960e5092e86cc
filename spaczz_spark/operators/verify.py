"""Exact verification of candidate pairs (SURVEY.md §2.2 P2 analog).

Mirrors the reference's optimize/verify phase (reference:
``_search/phrasesearcher.py:79-177``): every LSH candidate is re-scored with
exact measures and gated by ``min_r2`` / ``jaccard_min``; the ``thresh``
skip ("already good enough -> don't optimize", ``phrasesearcher.py:120``)
becomes the sha256 fast path — byte-identical contents short-circuit to
ratio 100 without touching the Python kernel.

Measures per pair:
- ``jaccard``      exact Jaccard of the hashed shingle sets — pure JVM
  (``array_intersect`` plus size arithmetic, see :func:`shingle_jaccard`),
  no Python.
- ``edit_ratio``   the reference's InDel similarity (S1), computed in an
  Arrow-batched pandas UDF with the bit-parallel LCS kernel. Because the
  kernel is O(len²/64) it is only invoked for pairs that pass a cheap
  Jaccard floor; everything else is decided by Jaccard alone. Long files
  fall back to token-level InDel (documented, deterministic).

A pair is verified when ``jaccard >= jaccard_min`` OR
``edit_ratio >= min_r2`` (the reference's `min_r2` default 75 with
`min_r=75`; ``phrasesearcher.py:290-297``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ratios import indel_ratio, levenshtein_ratio

__all__ = [
    "edit_ratio_score",
    "make_edit_ratio_udf",
    "attach_pair_sides",
    "shingle_jaccard",
    "verify_pairs",
]

# Above this many characters the char-level InDel kernel switches to
# token-level (whitespace tokens) — same family of measure, bounded cost.
CHAR_KERNEL_MAX = 8192

# Operating bound of the char-level Levenshtein kernel. The numpy row DP is
# exact but quadratic, and unlike the InDel path the length-gap prefilter
# cannot save two SIMILAR-length huge files — so above this many characters
# the kernel switches to token-level Levenshtein (whitespace tokens, same
# integer ratio formula, numpy-coded rows) to bound per-pair cost, mirroring
# the InDel fallback. The bound sits above every committed oracle fixture's
# max content length (files_small max 13,070 — asserted at fixture-gen time
# in scripts/make_fixtures.py), so the DuckDB `levenshtein()` mirror in the
# oracle SQL is exercised only where the char kernel runs; at 32 KiB the
# worst-case numpy DP is ~1e9 cell ops (~1-2 s), the documented ceiling.
LEV_CHAR_KERNEL_MAX = 32768

# Kernel-band rows per Python task. Every Python task pays a fixed cost
# whatever its input: `bench_extra.py pytask` on a 4-core host, local[4],
# timed 16 one-row pandas-UDF tasks at 0.79-1.19 s against 0.07-0.08 s for
# the same stage JVM-only, i.e. 0.18-0.28 s per Python task with workers
# reused; a plain UDF and mapInPandas cost the same within noise. 32 rows
# amortize it (an A/B against 128 kept 32: the batch pipeline's ~126-row
# band then still spreads over 4 tasks); large bands still spread over 4
# tasks per core (see _kernel_pairs).
ROWS_PER_PYTHON_TASK = 32


def edit_ratio_score(
    s1: str | None, s2: str | None, min_r: int = 0, func: str = "indel"
) -> int:
    """Per-pair body of the edit-ratio UDF: integer edit ratio with the
    reference's rounding, 0 for a missing side or a score below ``min_r``.

    ``func`` picks the kernel:

    - ``"indel"`` (default) — the reference's InDel similarity (S1,
      reference ``registry/fuzzyfuncs.py:9``); above ``CHAR_KERNEL_MAX``
      chars it scores whitespace tokens instead (bounded cost, same
      family).
    - ``"levenshtein"`` — plain unit-cost Levenshtein as an integer
      percentage (``ratios.levenshtein_ratio``): the one kernel every
      ANSI-SQL engine mirrors bit-for-bit, which is what makes the full
      pipeline DuckDB-oracle-checkable. Above ``LEV_CHAR_KERNEL_MAX``
      chars it scores whitespace tokens instead (same integer formula
      over token edits).

    Both kernels skip pairs whose *length gap alone* already caps the
    ratio below ``min_r``, measured in the unit the kernel scores (chars
    or tokens). InDel: LCS <= min(l1, l2), so ratio <= 200*min/(l1+l2).
    Levenshtein: d >= |l1 - l2|, so ratio <= (200*(m-|Δ|)+m)//(2m); the
    char-level form is mirrored as a plain integer predicate in the SQL
    oracle.
    """
    if func not in ("indel", "levenshtein"):
        raise ValueError(f"unknown edit-ratio kernel {func!r}")
    if s1 is None or s2 is None:
        return 0
    t1, t2 = s1, s2
    if func == "levenshtein":
        if max(len(s1), len(s2)) > LEV_CHAR_KERNEL_MAX:
            t1, t2 = s1.split(), s2.split()
        m = max(len(t1), len(t2))
        gap = abs(len(t1) - len(t2))
        if m and min_r and (200 * (m - gap) + m) // (2 * m) < min_r:
            return 0
        return round(levenshtein_ratio(t1, t2, score_cutoff=min_r))
    if max(len(s1), len(s2)) > CHAR_KERNEL_MAX:
        t1, t2 = s1.split(), s2.split()
    # substring-family candidates in the jaccard band often have a big
    # length disparity; don't run the O(len^2/64) kernel on them
    l1, l2 = len(t1), len(t2)
    if min_r and 200 * min(l1, l2) < min_r * (l1 + l2):
        return 0
    return round(indel_ratio(t1, t2, score_cutoff=min_r))


def make_edit_ratio_udf(min_r: int = 0, func: str = "indel"):
    """pandas UDF (string, string) -> int, a map of
    :func:`edit_ratio_score` over the rows."""
    if func not in ("indel", "levenshtein"):
        raise ValueError(f"unknown edit-ratio kernel {func!r}")

    @F.pandas_udf("int")
    def edit_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [edit_ratio_score(s1, s2, min_r, func) for s1, s2 in zip(a, b)],
            dtype="int32",
        )

    # The kernel IS deterministic; the marker only removes the optimizer's
    # freedom to duplicate the expression — without it, a filter + a
    # projection both referencing the column each get their own
    # ArrowEvalPython and the O(len²/64) kernel runs TWICE per pair
    # (observed in the plan audit).
    return edit_ratio.asNondeterministic()


def attach_pair_sides(
    pairs: DataFrame, corpus: DataFrame, cols: list[str]
) -> DataFrame:
    """Join per-file columns onto both sides of an (a_id, b_id) pair table.

    Two hash joins on file_id; at scale the corpus side is pre-bucketed by
    file_id so both joins co-locate (see plans.pipeline for the
    repartition strategy).
    """
    a_side = corpus.select(
        F.col("file_id").alias("a_id"), *[F.col(c).alias(f"a_{c}") for c in cols]
    )
    b_side = corpus.select(
        F.col("file_id").alias("b_id"), *[F.col(c).alias(f"b_{c}") for c in cols]
    )
    return pairs.join(a_side, "a_id").join(b_side, "b_id")


def shingle_jaccard(inter: Column, n_a: Column, n_b: Column) -> Column:
    """Exact Jaccard of two DISTINCT-element shingle sets from their
    intersection size and set sizes: ``inter / (n_a + n_b - inter)``.

    The signature UDF makes shingle arrays distinct (``np.unique``), so the
    union size is plain integer arithmetic — one ``array_intersect`` hash
    pass per pair and no second set build (the slim verify phase went
    30s -> 16s at local[1] on a 140k-pair profile corpus; same exact ints,
    so bit-identical doubles). Token-free documents have empty sets: 0/0
    is defined as 0.0 rather than an ANSI divide-by-zero abort.

    ``inter`` appears twice, so pass a column reference to an
    already-projected intersection size, not the ``array_intersect``
    expression itself.
    """
    union = n_a + n_b - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def verify_pairs(
    pairs: DataFrame,
    corpus: DataFrame,
    *,
    min_r2: int = 75,
    jaccard_min: float = 0.7,
    jaccard_floor: float = 0.2,
    ratio_func: str = "indel",
    content_df: DataFrame | None = None,
) -> DataFrame:
    """Exactly score candidate pairs and keep the verified ones.

    Returns (a_id, b_id, stage, jaccard, edit_ratio, verified_by) where
    verified_by in ('sha', 'jaccard', 'edit_ratio').

    ``corpus`` must carry (file_id, content, content_sha256, shingles,
    n_shingles) — the shingle arrays must be distinct-element (the
    signature UDFs guarantee this), which is what lets the union size be
    computed arithmetically instead of via a second hash-set pass.

    Two-phase plan (the verify join is the pipeline's widest shuffle, and
    its scaling is bounded by bytes-in-flight, not CPU):

    1. **slim phase** — the pair sides join only (sha256, shingles); sha
       equality and exact Jaccard decide most pairs without ``content``
       ever crossing an exchange. The slim scored table is localCheckpointed
       once so the two consumers below don't re-evaluate the join (at
       warehouse scale this intermediate would be a catalog checkpoint).
    2. **kernel phase** — only pairs in the ``[jaccard_floor, jaccard_min)``
       band (plus empty-shingle pairs: token-free files share the sentinel
       MinHash, and their 0/0 Jaccard is defined as 0.0 rather than an ANSI
       abort) join ``content`` and enter the Arrow InDel kernel — typically
       a small fraction of candidates, so the wide payload and the Python
       boundary both shrink by that factor. The band is spread round-robin
       over one task per ``ROWS_PER_PYTHON_TASK`` rows (at most 4 per
       core), so building the result runs one job: the band's row count,
       which also materializes the slim table.

    ``content_df`` optionally names a separate (file_id, content) source
    for the kernel phase — the pipeline passes its ``normalized`` table so
    the signatures checkpoint does not have to carry (write + re-read) a
    second copy of the corpus text.
    """
    scored = _score_pairs_slim(
        pairs, corpus, jaccard_min=jaccard_min, jaccard_floor=jaccard_floor
    )
    return _decided_pairs(scored, jaccard_min=jaccard_min).unionByName(
        _kernel_pairs(
            scored, content_df if content_df is not None else corpus,
            min_r2=min_r2, ratio_func=ratio_func,
        )
    )


def _score_pairs_slim(
    pairs: DataFrame,
    corpus: DataFrame,
    *,
    jaccard_min: float = 0.7,
    jaccard_floor: float = 0.2,
) -> DataFrame:
    """Slim phase: sha + Jaccard scoring with no ``content`` in flight.

    Returns the localCheckpointed (a_id, b_id, stage, jaccard, sha_eq,
    kernel_band) table both downstream passes of :func:`verify_pairs`
    consume.
    """
    slim = attach_pair_sides(
        pairs, corpus, ["content_sha256", "n_shingles", "shingles"]
    )

    sha_eq = F.col("a_content_sha256") == F.col("b_content_sha256")
    isz = F.col("isz")
    union_sz = F.col("a_n_shingles") + F.col("b_n_shingles") - isz
    return (
        slim.withColumn(
            "isz", F.size(F.array_intersect("a_shingles", "b_shingles"))
        )
        .withColumn(
            "jaccard",
            F.when(sha_eq, F.lit(1.0)).otherwise(
                shingle_jaccard(isz, F.col("a_n_shingles"), F.col("b_n_shingles"))
            ),
        )
        .withColumn("sha_eq", sha_eq)
        .withColumn(
            "kernel_band",
            ~sha_eq
            & (F.col("jaccard") < jaccard_min)
            & ((F.col("jaccard") >= jaccard_floor) | (union_sz == 0)),
        )
        .select("a_id", "b_id", "stage", "jaccard", "sha_eq", "kernel_band")
        # Lazy checkpoint: both consumers (_decided_pairs, _kernel_pairs)
        # evaluate the slim join exactly once — the checkpointed RDD is
        # persisted on first computation and later jobs read the stored
        # blocks. The first computation is _kernel_pairs' band count,
        # which the driver needs to size the kernel stage.
        .localCheckpoint(eager=False)
    )


def _decided_pairs(scored: DataFrame, *, jaccard_min: float = 0.7) -> DataFrame:
    """Pairs the slim phase already decided (sha equality or high Jaccard)."""
    return scored.where(
        F.col("sha_eq") | (F.col("jaccard") >= jaccard_min)
    ).select(
        "a_id",
        "b_id",
        "stage",
        "jaccard",
        F.when(F.col("sha_eq"), F.lit(100)).cast("int").alias("edit_ratio"),
        F.when(F.col("sha_eq"), F.lit("sha")).otherwise("jaccard")
        .alias("verified_by"),
    )


def _kernel_tasks(rows: int, parallelism: int) -> int:
    """Tasks for a kernel band of ``rows`` pairs: one per
    ``ROWS_PER_PYTHON_TASK`` rows, at least 1, at most 4 per core."""
    return min(max(-(-rows // ROWS_PER_PYTHON_TASK), 1), 4 * parallelism)


def _kernel_pairs(
    scored: DataFrame,
    corpus: DataFrame,
    *,
    min_r2: int = 75,
    ratio_func: str = "indel",
) -> DataFrame:
    """Kernel phase: the undecided band joins ``content`` and runs the
    Arrow edit-ratio kernel."""
    # min_r2 - 1 is the kernel's score_cutoff: every row the post-round
    # filter below could keep still comes back exact (a raw 74.6 rounds UP
    # to 75, so cutting at 75 would wrongly zero it — cutting at 74 cannot),
    # while sub-cutoff rows short-circuit (indel: rapidfuzz cutoff
    # semantics; levenshtein: the length-gap bound skips the DP entirely)
    edit_udf = make_edit_ratio_udf(max(min_r2 - 1, 0), func=ratio_func)
    kept = scored.where(F.col("kernel_band"))
    band = attach_pair_sides(
        kept.select("a_id", "b_id", "stage", "jaccard"), corpus, ["content"]
    )
    # The content join leaves the band partitioned by its join key, so
    # pairs sharing one big host file pile into the same partition — and
    # per-pair kernel cost varies ~quadratically with length, so that one
    # partition becomes the straggler that caps the stage's core scaling.
    # A round-robin repartition spreads the heavy pairs evenly; the shuffle
    # moves only the band subset (a small fraction of candidates). The
    # spread is sized by the band's rows, because every Python task pays a
    # fixed start-up cost whatever its input: a 17-row band in 16 tasks
    # spent more on task start-up than on the kernel. The driver needs the
    # count now to size the stage; the count job also materializes the
    # lazily checkpointed slim table, which both consumers read anyway.
    sc = band.sparkSession.sparkContext
    band = band.repartition(_kernel_tasks(kept.count(), sc.defaultParallelism))
    return (
        band.withColumn("edit_ratio", edit_udf("a_content", "b_content"))
        .where(F.col("edit_ratio") >= min_r2)
        .select(
            "a_id", "b_id", "stage", "jaccard", "edit_ratio",
            F.lit("edit_ratio").alias("verified_by"),
        )
    )
