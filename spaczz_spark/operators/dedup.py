"""Standalone dedup operators over generic document tables.

These expose the pipeline's machinery as single-call DataFrame operators a
training-data pipeline would use directly on a ``documents(doc_id, text)``
table (driver testdata shape). Each has an ANSI-SQL-expressible contract so
the DuckDB oracle can verify it exactly:

- exact_duplicates / fingerprint_duplicates: one window on sha256(text) /
  on the normalization fingerprint (one shared group plan)
- ngram_jaccard_pairs: brute-force token-shingle Jaccard via an exploded
  equi-join (the verification measure itself; selective because k-token
  shingles are rare across non-duplicates)
- minhash_neardup_pairs: shingle -> MinHash -> LSH banding -> exact Jaccard
  verify; at the default band config the candidate recall at the verify
  threshold is > 1 - 1e-7, so the verified output equals the brute-force
  oracle deterministically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.layout import ensure_min_partitions
from ..functions.signatures import (
    SHINGLE_SEP,
    TOKEN_PATTERN,
    with_fused_signatures,
)
from ..functions.text import doc_fingerprint
from .lsh import minhash_candidates
from .verify import attach_pair_sides, shingle_jaccard

__all__ = [
    "exact_duplicates",
    "fingerprint_duplicates",
    "shingle_strings",
    "ngram_jaccard_pairs",
    "minhash_neardup_pairs",
]


def _duplicate_groups(docs: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Groups of documents sharing ``key``: (group_id, doc_id, group_size).

    group_id = min doc_id of the group; only groups with >1 member returned.
    One window exchange on the key: min and count over the group, no
    aggregate joined back and no member array.
    """
    keyed = docs.select(F.col(id_col).alias("doc_id"), key.alias("key"))
    group = Window.partitionBy("key")
    return keyed.select(
        F.min("doc_id").over(group).alias("group_id"),
        "doc_id",
        F.count(F.lit(1)).over(group).alias("group_size"),
    ).where(F.col("group_size") > 1)


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents (same sha256):
    (group_id, doc_id, group_size), group_id = min doc_id of the group."""
    return _duplicate_groups(docs, F.sha2(F.col(text_col), 256), id_col)


def fingerprint_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Formatting-insensitive duplicate groups via the normalization
    fingerprint (md5 of lower-cased, whitespace-collapsed, trimmed text);
    same output shape as :func:`exact_duplicates`."""
    return _duplicate_groups(docs, doc_fingerprint(F.col(text_col)), id_col)


def shingle_strings(toks: Column, k: int = 5) -> Column:
    """Distinct token k-shingle strings from a *materialized* token-array
    column: Spark evaluates lambda bodies interpreted, and an inline
    argument expression would be re-evaluated once per element."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                SHINGLE_SEP, *[F.get(toks, i + j - 1) for j in range(k)]
            ),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    k: int = 5,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All document pairs with token-k-shingle Jaccard >= threshold.

    Exact (no LSH): explode shingles, equi-join on the shingle, count
    intersections, compute |A∩B| / (|A| + |B| - |A∩B|). The exploded join is
    the classic set-similarity-join plan; k-token shingles keep the join
    selective. Output: (a_id, b_id, jaccard).
    """
    sh = ensure_min_partitions(docs).select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(
            F.lower(text_col), F.lit(TOKEN_PATTERN), 0
        ).alias("_toks"),
    ).select(
        "doc_id", F.explode(shingle_strings(F.col("_toks"), k)).alias("shingle")
    )
    # materialized once (r7): `sh` feeds the per-doc sizes aggregate AND
    # both sides of the self-join; the interpreted tokenize+shingle
    # transform is the expensive part and ran once per consumer subtree.
    # LAZY so the persist happens inside the consuming job (no extra
    # serial job at operator-call time). Footprint note: the exploded
    # string table is ~k x the corpus text — comparable to ONE of the two
    # shuffle copies this operator's self-join writes anyway, and this
    # operator is the documented brute-force/oracle path (minhash LSH is
    # the scale path).
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "a_id", "n": "na"}), "a_id")
        .join(sizes.withColumnsRenamed({"doc_id": "b_id", "n": "nb"}), "b_id")
        .withColumn(
            "jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )


def _doc_signatures(
    docs: DataFrame, k: int, num_perm: int, seed: int,
    id_col: str, text_col: str,
) -> DataFrame:
    # single-file inputs scan as ONE partition and would serialize the
    # signature UDF on one task; no-op on well-partitioned inputs
    base = ensure_min_partitions(
        docs.select(
            F.col(id_col).alias("file_id"), F.col(text_col).alias("content")
        )
    )
    # fused single-pass UDF: one ArrowEvalPython node (no chained-runner
    # deadlock shape, shingles cross the Arrow boundary once — see
    # functions.signatures.make_fused_signature_udf). Materialized once:
    # the candidate + verify consumers reference this table up to 7 times,
    # and the nondeterministic UDF marker blocks exchange/subtree reuse, so
    # each reference would re-run the full Arrow signature pass over the
    # corpus. Lazy, like every intermediate the driver does not need at
    # once: computed inside the first job that consumes it. This is the
    # standalone-operator analog of the pipeline's committed `signatures`
    # checkpoint. Content is dropped first — no consumer of the signature
    # table needs it, so the raw text never enters the footprint.
    return with_fused_signatures(base, k, num_perm, seed).drop(
        "content"
    ).localCheckpoint(eager=False)


def _verify_jaccard(
    pairs: DataFrame, sigs: DataFrame, threshold: float
) -> DataFrame:
    # No sha-equality short-circuit (unlike the pipeline's verify):
    # token-free docs have empty shingle sets and score 0.0 even when
    # identical, so they never pass the threshold. The brute-force
    # shingle_strings path (and its DuckDB oracle) gives such docs one
    # empty-string shingle instead, so the two operators differ on them.
    sides = attach_pair_sides(pairs, sigs, ["n_shingles", "shingles"])
    jaccard = shingle_jaccard(
        F.col("isz"), F.col("a_n_shingles"), F.col("b_n_shingles")
    )
    return (
        sides.withColumn(
            "isz", F.size(F.array_intersect("a_shingles", "b_shingles"))
        )
        .withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    *,
    k: int = 5,
    threshold: float = 0.6,
    num_perm: int = 128,
    bands: int = 64,
    rows: int = 2,
    seed: int = 42,
    bucket_cap: int = 512,
    star_cap: int = 100_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, exactly verified.

    Contract: identical output to :func:`ngram_jaccard_pairs` at the same
    (k, threshold) — LSH only prunes the candidate space; with (64, 2)
    banding the miss probability at Jaccard 0.6 is (1 - 0.36)^64 < 4e-13 —
    except for token-free documents: :func:`ngram_jaccard_pairs` (and its
    DuckDB oracle) gives each one a single empty-string shingle, so two
    token-free docs pair with Jaccard 1.0, while here their shingle sets
    are empty and score 0.0, so they never pair (see ``_verify_jaccard``).

    Caveat: buckets larger than ``star_cap`` degrade to linear star
    expansion (pair-level output is then a subset; the transitive clusters
    are still complete after connected components). The default is high
    enough that this operator keeps brute-force pair equality on any corpus
    whose largest single LSH bucket is < ``star_cap`` docs; lower it only
    when trading pair completeness for skew protection.
    """
    sigs = _doc_signatures(docs, k, num_perm, seed, id_col, text_col)
    cand = minhash_candidates(sigs, bands, rows, bucket_cap, star_cap=star_cap)
    return _verify_jaccard(cand.select("a_id", "b_id").distinct(), sigs, threshold)
