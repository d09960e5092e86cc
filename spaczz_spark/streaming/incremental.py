"""Incremental (streaming) near-duplicate detection.

The reference is strictly batch (one Doc per call); the engine's streaming
analog answers "a new batch of files arrived — which are duplicates of the
existing corpus (or of each other)?" without recomputing the corpus:

- the **signature store** (checkpointed signatures table) is the streaming
  state; it only ever appends.
- each micro-batch runs inside ``foreachBatch``: normalize -> signatures
  -> MinHash LSH bucket join over store + batch, kept where a pair touches
  the batch -> exact verify -> append verified pairs and the batch's
  signatures. There is no separate exact-dup probe: byte-identical files
  share every band, so they become candidates, and verify's sha fast path
  decides them.

This is the Iceberg incremental-read pattern (new snapshot -> process delta)
expressed with Structured Streaming's file source in the sandbox. State is
bounded by the signature store, not executor memory — no
``applyInPandasWithState`` needed because the join state is a table, which
is what survives at 10^12-file scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.signatures import normalize, with_fused_signatures
from ..operators.lsh import minhash_candidates
from ..operators.verify import verify_pairs
from ..plans.config import DedupConfig

__all__ = ["IncrementalDedup"]

# The signature store holds only what the MinHash candidates and
# verify_pairs read: every later batch scans it.
STORE_COLUMNS = (
    "file_id", "content_sha256", "content", "shingles", "n_shingles", "minhash",
)


class IncrementalDedup:
    """foreachBatch incremental dedup against an append-only signature store."""

    def __init__(self, spark: SparkSession, config: DedupConfig, store_root: str):
        self.spark = spark
        self.config = config
        self.store_root = store_root
        self.sig_path = os.path.join(store_root, "signatures")
        self.pairs_path = os.path.join(store_root, "verified_pairs")
        os.makedirs(store_root, exist_ok=True)

    # -- state ---------------------------------------------------------------
    def _existing_signatures(self) -> DataFrame | None:
        # every committed append leaves the committer's _SUCCESS marker, so
        # its absence means "no store yet"; a store that exists but cannot
        # be read raises instead of deduplicating against nothing
        if not os.path.exists(os.path.join(self.sig_path, "_SUCCESS")):
            return None
        # stores written before the column set shrank carry extra columns
        return self.spark.read.parquet(self.sig_path).select(*STORE_COLUMNS)

    def _signature_cols(self, files: DataFrame) -> DataFrame:
        cfg = self.config
        # fused single-pass signature UDF — same kernels (bit-identical
        # signatures) as the batch pipeline, one ArrowEvalPython node
        return with_fused_signatures(
            normalize(files), cfg.shingle_k, cfg.num_perm, cfg.seed
        ).select(*STORE_COLUMNS)

    # -- core ----------------------------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> DataFrame:
        """Process one micro-batch of new files; returns new verified pairs."""
        cfg = self.config
        # materialized once: referenced by the candidate join, the verify
        # joins, the batch-id semi-join and the final append, and the
        # nondeterministic UDF marker blocks subtree reuse, so each
        # reference would re-run the Arrow signature UDF. Lazy, like every
        # intermediate the driver does not need at once: computed inside
        # the `verified` job below, read back by the append.
        new_sigs = self._signature_cols(batch).localCheckpoint(eager=False)
        existing = self._existing_signatures()
        corpus = (
            new_sigs if existing is None else existing.unionByName(new_sigs)
        )
        # candidates restricted to pairs touching the new batch: bucket join
        # over the union, then ONE semi-join of the pair endpoints on the
        # batch's ids (a semi join ignores duplicate keys), then one
        # distinct for the pairs that share several bands or have both
        # endpoints in the batch
        cand = minhash_candidates(corpus, cfg.bands, cfg.rows, cfg.bucket_cap)
        touching = (
            cand.withColumn("file_id", F.explode(F.array("a_id", "b_id")))
            .join(new_sigs.select("file_id"), "file_id", "left_semi")
            .drop("file_id")
            .distinct()
        )
        verified = verify_pairs(
            touching, corpus,
            min_r2=cfg.min_r2, jaccard_min=cfg.jaccard_min,
            jaccard_floor=cfg.jaccard_floor, ratio_func=cfg.ratio_func,
        )
        # Eager, because the append below must not start before `verified`
        # is final: `corpus` lazily reads sig_path, so appending first
        # double-counts the batch if the parquet read re-lists files (task
        # retry, metadata refresh) — the join would then see each new file
        # on both sides.
        verified = verified.localCheckpoint()
        # append state + results
        verified.write.mode("append").parquet(self.pairs_path)
        new_sigs.write.mode("append").parquet(self.sig_path)
        return verified

    # -- streaming wiring ------------------------------------------------------
    def start(self, input_path: str, schema, checkpoint: str, **reader_opts):
        """Start a file-source stream over ``input_path`` (new parquet files
        are micro-batches) feeding :meth:`process_batch`."""
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", reader_opts.pop("maxFilesPerTrigger", 4))
            .parquet(input_path)
        )
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid) and None
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
