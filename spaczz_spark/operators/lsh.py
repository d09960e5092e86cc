"""LSH candidate generation: MinHash banding and SimHash bit-blocking.

This stage plays the role of the reference's cheap ``min_r1`` scan gate
(reference: ``_search/phrasesearcher.py:179-226`` — high-recall candidate
pass before expensive verification). The banding config ``(bands, rows)``
with ``bands*rows == num_perm`` controls the recall curve
``P(candidate | s) = 1 - (1 - s^rows)^bands``; the default (64, 2) keeps
recall > 0.9999 down to Jaccard 0.4, intentionally recall-heavy — false
candidates are killed by the verify stage, mirroring the reference's
low-min_r1 philosophy.

Scale design:
- bands are packed JVM-side (``xxhash64`` over signature slices) and
  ``posexplode``d — one shuffle on the band key.
- **skew**: buckets larger than ``bucket_cap`` would contribute O(n²) pairs
  (a 10k-member boilerplate bucket is 5e7 pairs). Exact-duplicate collapse
  upstream (group by sha256, keep one representative) removes identical-file
  pileups; residual oversized buckets fall back to star expansion
  (min-member -> others, linear) instead of all-pairs — connected components
  downstream restores the transitive clustering.
- AQE (adaptive skew-join splitting) is expected ON in the session config.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.signatures import pack_band_keys

__all__ = ["minhash_candidates", "simhash_candidates", "pairs_from_buckets"]


def pairs_from_buckets(
    buckets: DataFrame,
    bucket_cap: int = 64,
    id_col: str = "file_id",
    n_salt: int = 16,
    star_cap: int = 4096,
    dedup: bool = True,
    payload_col: str | None = None,
) -> DataFrame:
    """Enumerate candidate pairs from (bucket_key, file_id) rows.

    Three tiers by bucket size (skew handling, north-rule salting):
    - <= bucket_cap: all-pairs within the bucket.
    - (bucket_cap, star_cap]: **salted** all-pairs — the left side is
      tagged ``salt = pmod(xxhash64(id), n_salt)``, the right side is
      replicated once per salt value, and the join key becomes
      (bucket, salt): the same complete pair set, but the hot key is
      spread over ``n_salt`` partitions instead of one straggler.
    - > star_cap: quadratic enumeration is no longer acceptable
      (n·(n-1)/2 pairs); fall back to linear star expansion around the
      min member — connected components downstream restores the
      transitive clustering. (Exact-duplicate collapse upstream makes
      this tier rare: it fires only for near-identical-but-not-equal
      mega-families.)

    ``payload_col`` optionally carries a per-id column through the
    enumeration so callers can filter pairs without re-joining the id
    table twice (SimHash's exact hamming check); output then includes
    ``a_pl``/``b_pl``. The payload must be functionally determined by
    the id.

    Returns distinct (a_id, b_id) with a_id < b_id.
    """
    if payload_col:
        ids = pairs_from_buckets(
            buckets, bucket_cap, id_col, n_salt, star_cap, dedup
        )
        # materialized once: referenced by BOTH side-joins below, and the
        # distinct is itself a shuffle of the whole exploded bucket table —
        # without the checkpoint it ran twice (same nondeterministic-
        # upstream reuse blocker as `sized` below)
        pl = buckets.select(
            F.col(id_col).alias("fid"), F.col(payload_col).alias("pl")
        ).distinct().localCheckpoint()
        return (
            ids.join(
                pl.select(F.col("fid").alias("a_id"), F.col("pl").alias("a_pl")),
                "a_id",
            ).join(
                pl.select(F.col("fid").alias("b_id"), F.col("pl").alias("b_pl")),
                "b_id",
            )
        )
    w = Window.partitionBy("bucket_key")
    sized = buckets.select(
        "bucket_key",
        F.col(id_col).alias("fid"),
        F.count(F.lit(1)).over(w).alias("bsize"),
        F.min(id_col).over(w).alias("bmin"),
    )
    # Materialize the sized table ONCE (r7 measurement): the three tier
    # subtrees reference `sized` five times (small self-join x2, mid x2,
    # large), and when the upstream contains a nondeterministic expression
    # (every signature UDF is marked asNondeterministic to stop Catalyst
    # double-eval) the subtrees are never canonically equal, so exchange
    # reuse CANNOT fire and the whole explode->shuffle->window pipeline —
    # including the Arrow signature UDF in the standalone operators — ran
    # once per tier reference (7 ArrowEvalPython nodes in the
    # doc_minhash_neardup plan, 5 Window sorts per bucket source in the
    # pipeline candidates stage). One localCheckpoint replaces five
    # recomputations; the slim (bucket_key, fid, bsize, bmin) schema keeps
    # the materialized footprint small at any scale (~32 B/row).
    sized = sized.localCheckpoint()

    small = sized.where(F.col("bsize").between(2, bucket_cap))
    small_pairs = (
        small.alias("a")
        .join(small.alias("b"), "bucket_key")
        .where(F.col("a.fid") < F.col("b.fid"))
        .select(F.col("a.fid").alias("a_id"), F.col("b.fid").alias("b_id"))
    )

    mid = sized.where(
        (F.col("bsize") > bucket_cap) & (F.col("bsize") <= star_cap)
    )
    mid_a = mid.select(
        "bucket_key",
        F.col("fid").alias("a_fid"),
        F.pmod(F.xxhash64("fid"), F.lit(n_salt)).alias("salt"),
    )
    mid_b = mid.select(
        "bucket_key",
        F.col("fid").alias("b_fid"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<bigint>"))
        .alias("salt"),
    )
    mid_pairs = (
        mid_a.join(mid_b, ["bucket_key", "salt"])
        .where(F.col("a_fid") < F.col("b_fid"))
        .select(F.col("a_fid").alias("a_id"), F.col("b_fid").alias("b_id"))
    )

    large_pairs = (
        sized.where(F.col("bsize") > star_cap)
        .where(F.col("fid") != F.col("bmin"))
        .select(F.col("bmin").alias("a_id"), F.col("fid").alias("b_id"))
    )

    out = small_pairs.unionByName(mid_pairs).unionByName(large_pairs)
    # callers that union several candidate sources and groupBy afterwards
    # pass dedup=False to avoid paying this shuffle once per source
    return out.distinct() if dedup else out


def minhash_candidates(
    sig_df: DataFrame,
    bands: int = 64,
    rows: int = 2,
    bucket_cap: int = 64,
    dedup: bool = True,
    star_cap: int = 4096,
) -> DataFrame:
    """Candidate pairs from MinHash LSH banding: (a_id, b_id, stage).

    ``sig_df`` needs (file_id, minhash). One explode + one shuffle on the
    band bucket key. Every banded row goes through the bucket-sizing
    window; singleton buckets are dropped after it (``bsize >= 2``), before
    the tier joins.
    """
    banded = sig_df.select(
        "file_id",
        F.explode(pack_band_keys(bands, rows)).alias("bucket_key"),
    )
    return pairs_from_buckets(
        banded, bucket_cap, dedup=dedup, star_cap=star_cap
    ).withColumn("stage", F.lit("minhash"))


def simhash_candidates(
    sig_df: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int = 64,
    dedup: bool = True,
) -> DataFrame:
    """Candidate pairs with SimHash hamming distance <= max_hamming.

    Pigeonhole blocking: the 64-bit signature is split into
    ``max_hamming + 1`` blocks; any pair within the hamming budget must agree
    exactly on at least one block, so grouping by (block index, block value)
    has perfect recall. Pairs are then exactly filtered with
    ``bit_count(a ^ b)`` JVM-side.
    """
    n_blocks = max_hamming + 1
    block_bits = 64 // n_blocks
    mask = (1 << block_bits) - 1

    block_keys = [
        F.xxhash64(
            F.lit(i),
            F.shiftright(F.col("simhash"), i * block_bits).bitwiseAND(F.lit(mask)),
        )
        for i in range(n_blocks)
    ]
    blocks = sig_df.select(
        "file_id",
        "simhash",
        F.explode(F.array(*block_keys)).alias("bucket_key"),
    )
    # the simhash rides through the enumeration as a payload so the exact
    # hamming check is a filter on the pair row itself — no re-join of the
    # pair set against the signature table (was two joins pre-round-6)
    pairs = pairs_from_buckets(
        blocks, bucket_cap, dedup=dedup, payload_col="simhash"
    )
    return (
        pairs.where(
            F.bit_count(F.col("a_pl").bitwiseXOR(F.col("b_pl"))) <= max_hamming
        )
        .select("a_id", "b_id")
        .withColumn("stage", F.lit("simhash"))
    )
