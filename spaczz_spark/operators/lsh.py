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
- one pair enumerator (``pairs_from_buckets``) under every bucket source
  (MinHash bands, SimHash blocks, substring fingerprints, hyperplane ANN):
  one salted all-pairs self-join plus a star projection. It returns raw
  pairs, one row per bucket a pair shares; each consumer deduplicates
  once, where its pair sets meet (the pipeline's one aggregate over all
  candidate sources, the streaming probe's one ``distinct``, the pair-set
  operators' own ``distinct``).
- **skew**: a bucket larger than ``bucket_cap`` is salted — its join key is
  split ``N_SALT`` ways so one hot bucket is not one straggler task. Above
  ``star_cap`` all-pairs would be O(n²) (a 10k-member boilerplate bucket
  is 5e7 pairs); such buckets fall back to star expansion (min-member ->
  others, linear) — connected components downstream restores the
  transitive clustering. Exact-duplicate collapse upstream (group by
  sha256, keep one representative) removes identical-file pileups first.
- AQE (adaptive skew-join splitting) is expected ON in the session config.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.signatures import pack_band_keys
from .verify import attach_pair_sides

__all__ = ["minhash_candidates", "simhash_candidates", "pairs_from_buckets"]


# salt fan-out for buckets above ``bucket_cap``: a hot bucket's pairs are
# spread over this many (bucket_key, salt) join keys
N_SALT = 16


def pairs_from_buckets(
    buckets: DataFrame,
    bucket_cap: int = 64,
    star_cap: int = 4096,
) -> DataFrame:
    """Enumerate candidate pairs from (bucket_key, file_id) rows.

    One window sizes every bucket, then two projections of the sized
    table (skew handling, north-rule salting):
    - 2 <= size <= max(bucket_cap, star_cap): **salted** all-pairs in one
      self-join. Each bucket gets a salt count ``ns`` (1 up to
      ``bucket_cap``, ``N_SALT`` above it); the left side is tagged
      ``salt = pmod(xxhash64(id), ns)``, the right side is replicated once
      per salt value, and the join key is (bucket, salt). Every pair meets
      exactly once, and a hot key is spread over ``N_SALT`` partitions
      instead of one straggler; with ``ns = 1`` this is a plain self-join.
    - > star_cap: quadratic enumeration is no longer acceptable
      (n·(n-1)/2 pairs); fall back to linear star expansion around the
      min member — connected components downstream restores the
      transitive clustering. (Exact-duplicate collapse upstream makes
      this tier rare: it fires only for near-identical-but-not-equal
      mega-families.) With ``bucket_cap > star_cap`` a bucket can hit
      both; its star edges repeat some of its pairs.

    Returns (a_id, b_id) with a_id < b_id, one row per bucket the pair
    shares (per pair of bucket rows, if a bucket repeats an id): not
    deduplicated, so the caller pays one distinct where its sources meet.
    """
    w = Window.partitionBy("bucket_key")
    sized = buckets.select(
        "bucket_key",
        F.col("file_id").alias("fid"),
        F.count(F.lit(1)).over(w).alias("bsize"),
        F.min("file_id").over(w).alias("bmin"),
    )
    # Materialize the sized table once: the all-pairs join (both sides)
    # and the star projection reference `sized` three times, and with a
    # nondeterministic expression upstream (every signature UDF is marked
    # asNondeterministic) the subtrees never compare equal, so exchange
    # reuse cannot fire and the explode->shuffle->window pipeline would run
    # once per reference. The checkpoint is lazy, like every intermediate
    # whose result the driver does not need at once: it is computed inside
    # the job that first consumes it (AQE still runs the window's
    # shuffle-map stage when it plans the checkpoint), and its other
    # references read the stored blocks. The slim (bucket_key, fid, bsize,
    # bmin) schema keeps the footprint small (~32 B/row).
    sized = sized.localCheckpoint(eager=False)

    enum = sized.where(
        F.col("bsize").between(2, max(bucket_cap, star_cap))
    ).withColumn(
        "ns",
        F.when(F.col("bsize") <= bucket_cap, F.lit(1)).otherwise(F.lit(N_SALT)),
    )
    side_a = enum.select(
        "bucket_key",
        F.col("fid").alias("a_id"),
        F.pmod(F.xxhash64("fid"), F.col("ns")).alias("salt"),
    )
    side_b = enum.select(
        "bucket_key",
        F.col("fid").alias("b_id"),
        F.explode(F.sequence(F.lit(0), F.col("ns") - 1).cast("array<bigint>"))
        .alias("salt"),
    )
    all_pairs = (
        side_a.join(side_b, ["bucket_key", "salt"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )

    star_pairs = (
        sized.where(F.col("bsize") > star_cap)
        .where(F.col("fid") != F.col("bmin"))
        .select(F.col("bmin").alias("a_id"), F.col("fid").alias("b_id"))
    )

    return all_pairs.unionByName(star_pairs)


def minhash_candidates(
    sig_df: DataFrame,
    bands: int = 64,
    rows: int = 2,
    bucket_cap: int = 64,
    star_cap: int = 4096,
) -> DataFrame:
    """Candidate pairs from MinHash LSH banding: (a_id, b_id, stage), one
    row per shared band.

    ``sig_df`` needs (file_id, minhash). One explode + one shuffle on the
    band bucket key. Every banded row goes through the bucket-sizing
    window; singleton buckets are dropped after it (``bsize >= 2``), before
    the pair join.
    """
    banded = sig_df.select(
        "file_id",
        F.explode(pack_band_keys(bands, rows)).alias("bucket_key"),
    )
    return pairs_from_buckets(banded, bucket_cap, star_cap).withColumn(
        "stage", F.lit("minhash")
    )


def simhash_candidates(
    sig_df: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int = 64,
) -> DataFrame:
    """Candidate pairs with SimHash hamming distance <= max_hamming, one
    row per shared block.

    Pigeonhole blocking: the 64-bit signature is split into
    ``max_hamming + 1`` blocks; any pair within the hamming budget must agree
    exactly on at least one block, so grouping by (block index, block value)
    has perfect recall. Each pair side is then joined to its simhash in
    ``sig_df`` and exactly filtered with ``bit_count(a ^ b)`` JVM-side; the
    pipeline passes its committed signatures table, so each side is a
    column-pruned scan.
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
        "file_id", F.explode(F.array(*block_keys)).alias("bucket_key")
    )
    pairs = pairs_from_buckets(blocks, bucket_cap)
    return (
        attach_pair_sides(pairs, sig_df, ["simhash"])
        .where(
            F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash")))
            <= max_hamming
        )
        .select("a_id", "b_id")
        .withColumn("stage", F.lit("simhash"))
    )
