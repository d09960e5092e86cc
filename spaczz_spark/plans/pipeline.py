"""The resumable dedup pipeline DAG (SURVEY.md §3.1 Spark lifecycle).

Stage graph (each ``->`` a committed, resumable checkpoint; the exact
collapse is a slim recomputed view over ``normalized``, not a commit):

    files (Iceberg/parquet)
      -> normalized      file_id = xxhash64(repo,path,commit), sha256 invariant
      ·· exact collapse  group identical sha256 -> one representative
                         (kills quadratic LSH buckets from boilerplate BEFORE
                         they exist; the removed members rejoin via star edges)
      -> signatures      shingles + MinHash-128 / SimHash-64 + winnowed
                         fingerprints (one fused pandas UDF)
      -> candidate_pairs MinHash banding ∪ SimHash blocking ∪ winnowed
                         substring fingerprints (skew-capped bucket joins)
      -> verified_pairs  cascade: sha fast path / exact Jaccard (JVM) / InDel
                         kernel (gated pandas UDF) on the set-similarity
                         candidates, then containment / partial on the
                         substring candidates they left; one row per pair
      -> components      large-star/small-star CC + final assignment with
                         provenance (M5/M9 semantics)

Scale notes (10^12-file design):
- every stage output is partitioned/bucketable by file_id (stable hash id);
  on Iceberg the tables are bucket(file_id) so verify-joins and CC
  iterations co-locate.
- the only all-to-all exchanges are the LSH bucket joins (keyed on band
  hash, capped per bucket) and the pair-verification content join; both run
  under AQE with skew-join splitting.
- nothing ever collects to the driver except per-stage counters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.signatures import normalize, with_fused_signatures
from ..operators.components import attach_components, connected_components
from ..operators.lsh import minhash_candidates, simhash_candidates
from ..operators.substring import substring_candidates, verify_substring_pairs
from ..operators.verify import verify_pairs
from ..sources.catalog import CheckpointCatalog
from .config import DedupConfig

__all__ = ["DedupPipeline", "recommended_session"]


def recommended_session(
    app: str = "spaczz-dedup",
    master: str = "local[*]",
    shuffle_partitions: int = 32,
) -> SparkSession:
    """SparkSession with the engine's recommended scale configuration."""
    return (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local/small-SF tuning: stage outputs are tens of MB; the 128MB
        # default packs them into 1 read partition and serializes UDF
        # stages. openCost >= maxPartitionBytes => one file per partition.
        # (On a real cluster with TB inputs leave these at defaults.)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "8m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # collect_list/collect_set plan as ObjectHashAggregate: the
        # components stage's provenance collect_set("stage") per file_id
        # and the ANN / ruler-provenance groupings. Spark's default
        # fallback limit (128 keys per partition) demotes them to
        # sort-based aggregation almost at once on file_id-keyed inputs
        # and re-pays a sort per aggregate. 4M keys/partition is ~100MB
        # worst case.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            "4000000",
        )
        # local mode: driver == executor. 16g is right for sf<=0.1 workloads;
        # a bigger heap (24g) only pays off on the 280k-file scaling corpus,
        # where GC pressure on the pair-verify join breaks wall-clock scaling
        # — and it measurably REGRESSES small/JVM-heavy queries 2-4x. So the
        # default stays 16g and the scaling harness (scripts/run_scaling.sh)
        # opts into 24g via SPARK_GRAFT_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .getOrCreate()
    )


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: DedupConfig,
        checkpoint_root: str,
        use_iceberg: bool = False,
    ):
        self.spark = spark
        self.config = config
        self.catalog = CheckpointCatalog(spark, checkpoint_root, use_iceberg)
        self.metrics: dict[str, int | float | str] = {}
        self._input_fp = ""

    # -- stages ---------------------------------------------------------------

    @staticmethod
    def input_fingerprint(files: DataFrame) -> str:
        """Identity of the input dataset, folded into every checkpoint
        manifest: resuming with the same config but a *different* input must
        rebuild (metadata-only — file listing + per-file (size, mtime) +
        schema; for in-memory inputs the plan's ``semanticHash`` stands in
        for the file list).

        File-backed inputs (parquet) and ``createDataFrame`` over pandas,
        which Spark plans as a local relation hashed by its rows, are the
        resumable ones: equal rows resume, different rows rebuild.
        ``createDataFrame`` over a Python list or an RDD plans as a
        ``LogicalRDD``, whose hash follows the RDD object, so such an input
        gets a new fingerprint on every call and always rebuilds.

        Size/mtime are included so rewriting data IN PLACE under identical
        file names (external table update, manual fixture edit) changes the
        fingerprint and forces a rebuild instead of a silent stale resume.
        Statting goes through the Hadoop FileSystem API (works for any
        scheme Spark can read); a path that cannot be statted contributes
        its name only.
        """
        import hashlib

        paths = sorted(files.inputFiles())
        if paths:
            spark = files.sparkSession
            jvm = spark.sparkContext._jvm
            hconf = spark.sparkContext._jsc.hadoopConfiguration()
            lines = []
            for p in paths:
                try:
                    jpath = jvm.org.apache.hadoop.fs.Path(p)
                    st = jpath.getFileSystem(hconf).getFileStatus(jpath)
                    lines.append(
                        f"{p}\t{st.getLen()}\t{st.getModificationTime()}"
                    )
                except Exception:
                    lines.append(p)
            basis = "\n".join(lines)
        else:
            basis = str(files.semanticHash())
        basis += "\n" + files.schema.simpleString()
        return hashlib.sha256(basis.encode()).hexdigest()[:16]

    def _stage(self, name: str, build) -> DataFrame:
        """Resume-or-build one checkpointed stage; either way ``{name}_rows``
        reports the committed row count from the stage's manifest."""
        import time

        h = self.config.config_hash()
        committed = self.catalog.read_if_valid(name, h, self._input_fp)
        if committed is not None:
            self.metrics[f"{name}_resumed"] = 1
        else:
            t0 = time.time()
            # label every job of this stage (guide §1.5) — any job build()
            # runs and the write job all carry the stage name in the UI /
            # REST API, which is what the profiling harness groups wall
            # time by
            self.spark.sparkContext.setJobDescription(f"stage:{name}")
            try:
                committed = self.catalog.write(
                    name, build(), h, input_fingerprint=self._input_fp
                )
            finally:
                self.spark.sparkContext.setJobDescription(None)
            self.metrics[f"{name}_sec"] = round(time.time() - t0, 2)
        manifest = self.catalog.manifest(name) or {}
        self.metrics[f"{name}_rows"] = manifest.get("rows", -1)
        return committed

    def run(self, files: DataFrame) -> DataFrame:
        """Execute (or resume) the full pipeline; returns the final
        (repo, path, commit, lang, file_id, content_sha256, component_id,
        stage provenance) assignment table."""
        cfg = self.config
        self._input_fp = self.input_fingerprint(files)

        # N files: every consumer reads them as N partitions on its map side
        n_parts = self.spark.sparkContext.defaultParallelism
        norm = self._stage(
            "normalized",
            lambda: normalize(files).repartition(n_parts, "file_id"),
        )

        # ---- exact collapse (sha256 groups -> representatives) -------------
        # one window exchange: only (sha, file_id) crosses it; content
        # stays in place until the signature join. NOT a separate
        # checkpoint: it is a slim window over the committed `normalized`
        # table, recomputed on resume — one fewer commit/read round-trip
        # per run (the per-run orchestration constant is what bounds
        # scaling efficiency at small corpus sizes).
        with_rep = norm.select(
            "file_id",
            F.min("file_id")
            .over(Window.partitionBy("content_sha256"))
            .alias("rep_id"),
        )
        reps = norm.join(
            with_rep.where(F.col("file_id") == F.col("rep_id")).select("file_id"),
            "file_id",
            "left_semi",
        )

        # ---- signatures -----------------------------------------------------
        def build_signatures():
            # ONE Arrow pass over content for every per-row signature
            # (shingles + winnowed fingerprints + MinHash + SimHash): a
            # single ArrowEvalPython node, so content serializes to Python
            # once, shingles cross the boundary once, the candidate stage
            # downstream is pure JVM explode/join work — and the
            # two-runner deadlock a chain of signature UDFs could hit
            # cannot form (see make_fused_signature_udf).
            #
            # Layout (r7, guide §2.3 "shuffle keys and metadata instead of
            # payloads"): the file_id repartition happens HERE, on the slim
            # input (sha + content), not on the 3-5x fatter UDF output
            # (shingles + minhash + fingerprints: 169 MB shuffled for a
            # 31 MB corpus at bench size). `content` itself is not
            # checkpointed twice: the verify stages join text from the
            # committed `normalized` table instead (content_df below).
            pre = reps.select(
                "file_id", "content_sha256", "content", "n_bytes"
            ).repartition(n_parts, "file_id")
            return with_fused_signatures(
                pre, cfg.shingle_k, cfg.num_perm, cfg.seed,
                cfg.substring_k, cfg.substring_w, cfg.substring_min_len,
            ).select(
                "file_id", "content_sha256", "n_bytes",
                "shingles", "n_shingles", "fingerprints", "fp_positions",
                "minhash", "simhash",
            )

        signatures = self._stage("signatures", build_signatures)
        # slim content source for the verify stages' kernel/phase-B joins
        # (pair ids are rep ids, a subset of normalized's file_ids)
        content_df = norm.select("file_id", "content")

        # ---- candidates (three sources, ONE resumable checkpoint) ----------
        def build_candidates():
            # Each source's sized bucket table is checkpointed lazily
            # (operators/lsh.py): all three are materialized inside the
            # stage's write job. Building them runs only what AQE needs to
            # plan each checkpoint, its window's shuffle-map stage.
            mh = minhash_candidates(signatures, cfg.bands, cfg.rows, cfg.bucket_cap)
            sh = simhash_candidates(signatures, cfg.max_hamming, cfg.bucket_cap)
            sub = substring_candidates(signatures, bucket_cap=cfg.bucket_cap)
            # The sources return one row per shared bucket; ONE aggregate
            # over their union keeps one row per (pair, kind): a
            # set-similarity row, minhash taking precedence over simhash
            # (M4: union of match sources), and a substring row. The
            # substring row is NOT folded into the other — a pair can
            # band-collide in MinHash (likely even at Jaccard ~0.25), fail
            # Jaccard/edit verification there, and still be a true
            # verbatim-containment duplicate that only the containment
            # verifier can accept. Both rows survive; the verify cascade
            # runs the substring verifier only on the pairs the
            # set-similarity verifier left.
            return (
                mh.unionByName(sh)
                .unionByName(sub)
                .groupBy("a_id", "b_id", F.col("stage") == "substring")
                .agg(F.min("stage").alias("stage"))
                .select("a_id", "b_id", "stage")
            )

        candidates = self._stage("candidate_pairs", build_candidates)

        # ---- verification ---------------------------------------------------
        def build_verified():
            # Cascade: the cheapest verifier that accepts a pair decides it
            # (the reference's "already good enough -> don't optimize").
            # verify_pairs decides the set-similarity rows, most of them
            # by sha or Jaccard in the JVM; the Python substring verifier
            # sees only the substring rows it left. The two outputs are
            # disjoint and each holds one row per pair, so their union
            # needs no best-record reconciliation. Lazy checkpoint: the
            # edit-ratio UDF is nondeterministic, so the anti-join's
            # second reference would otherwise run the kernel again.
            v1 = verify_pairs(
                candidates.where(F.col("stage") != "substring"),
                signatures,
                min_r2=cfg.min_r2,
                jaccard_min=cfg.jaccard_min,
                jaccard_floor=cfg.jaccard_floor,
                ratio_func=cfg.ratio_func,
                content_df=content_df,
            ).localCheckpoint(eager=False)
            v2 = verify_substring_pairs(
                candidates.where(F.col("stage") == "substring").join(
                    v1.select("a_id", "b_id"), ["a_id", "b_id"], "left_anti"
                ),
                signatures,
                min_len=cfg.substring_min_len,
                # S2 semantics: edited near-containment scores like the
                # reference's partial_ratio, gated at min_r2; the
                # oracle-exact config disables it (not SQL-expressible)
                min_partial=cfg.min_r2 if cfg.substring_partial else None,
                content_df=content_df,
            )
            return v1.unionByName(v2)

        verified = self._stage("verified_pairs", build_verified)

        # ---- components ------------------------------------------------------
        def build_components():
            # referenced by both the CC edge union and the provenance
            # union; lazy, so computed once in its first consuming job (CC
            # round 1), read back by the stage write job
            exact_edges = (
                with_rep.where(F.col("file_id") != F.col("rep_id"))
                .select(
                    F.col("rep_id").alias("a_id"),
                    F.col("file_id").alias("b_id"),
                    F.lit("exact").alias("stage"),
                    F.lit(1.0).alias("jaccard"),
                    F.lit(100).alias("edit_ratio"),
                    F.lit("sha").alias("verified_by"),
                )
                .localCheckpoint(eager=False)
            )
            edges = verified.select("a_id", "b_id").unionByName(
                exact_edges.select("a_id", "b_id")
            )
            labels, iters = connected_components(edges)
            self.metrics["cc_iterations"] = iters
            assigned = attach_components(
                norm.select("repo", "path", "commit", "lang", "file_id",
                            "content_sha256"),
                labels,
            )
            # provenance (M9): which stages joined this component, best ratios
            prov = (
                verified.unionByName(exact_edges)
                .select(
                    F.explode(F.array("a_id", "b_id")).alias("file_id"),
                    "stage", "jaccard", "edit_ratio",
                )
                .groupBy("file_id")
                .agg(
                    F.collect_set("stage").alias("stages"),
                    F.max("jaccard").alias("max_jaccard"),
                    F.max("edit_ratio").alias("max_edit_ratio"),
                )
            )
            return assigned.join(prov, "file_id", "left")

        return self._stage("components", build_components)

    # -- metrics (M8) ----------------------------------------------------------

    def pair_recall(
        self, components: DataFrame, truth_pairs: DataFrame
    ) -> float:
        """Fraction of planted duplicate pairs assigned to one component.

        ``truth_pairs`` has (a_key, b_key) where key = repo\\x1f path\\x1f commit.
        """
        keyed = components.withColumn(
            "file_key",
            F.concat_ws("\x1f", "repo", "path", "commit"),
        ).select("file_key", "component_id")
        t = (
            truth_pairs.join(
                keyed.withColumnsRenamed(
                    {"file_key": "a_key", "component_id": "a_comp"}
                ),
                "a_key",
            )
            .join(
                keyed.withColumnsRenamed(
                    {"file_key": "b_key", "component_id": "b_comp"}
                ),
                "b_key",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(F.col("a_comp") == F.col("b_comp"), 1).otherwise(0)
                ).alias("hit"),
            )
            .collect()[0]
        )
        n, hit = int(t["n"]), int(t["hit"] or 0)
        recall = hit / n if n else 1.0
        self.metrics["truth_pairs"] = n
        self.metrics["truth_pairs_recalled"] = hit
        self.metrics["pair_recall"] = recall
        return recall

    def pair_prf(
        self,
        components: DataFrame,
        truth_pairs: DataFrame,
        truth_components: DataFrame,
    ) -> dict[str, float]:
        """Precision/recall/F1 of predicted same-component pairs vs planted
        truth (M8 analog of the reference's ``get_ner_prf`` scoring,
        reference: ``pipeline/spaczzruler.py:50-64``).

        Recall is over the directly planted pairs; precision judges every
        predicted co-clustered pair against truth *component* co-membership
        (transitively implied pairs inside a planted cluster are correct).
        Neither pair set is built: a component of n files predicts
        C(n, 2) pairs, and the correct ones are the C(n, 2) of each
        (component, truth component) group. ``truth_components`` holds one
        row per ``file_key``, as ``generate_corpus`` writes it; a file
        without one counts as predicted only.
        """
        keyed = components.withColumn(
            "file_key", F.concat_ws("\x1f", "repo", "path", "commit")
        ).select("file_key", "component_id")
        n_pred = _pairs_within(keyed, "component_id")
        n_correct = _pairs_within(
            keyed.join(
                truth_components.select("file_key", "component_key"),
                "file_key",
            ),
            "component_id", "component_key",
        )
        precision = n_correct / n_pred if n_pred else 1.0
        recall = self.pair_recall(components, truth_pairs)
        f1 = (
            2 * precision * recall / (precision + recall)
            if precision + recall
            else 0.0
        )
        out = {"precision": precision, "recall": recall, "f1": f1,
               "predicted_pairs": n_pred, "correct_pairs": n_correct}
        self.metrics.update({f"pair_{k}": v for k, v in out.items()})
        return out

    def sha_invariant_holds(self, files: DataFrame, components: DataFrame) -> bool:
        """Per-row invariant: sha256(content) of the input equals the
        sha256 carried through every stage into the final assignment."""
        lhs = normalize(files).select("file_id", "content_sha256")
        mismatches = (
            lhs.join(
                components.select(
                    "file_id", F.col("content_sha256").alias("out_sha")
                ),
                "file_id",
            )
            .where(F.col("content_sha256") != F.col("out_sha"))
            .count()
        )
        missing = lhs.count() - components.count()
        self.metrics["sha_mismatches"] = mismatches
        self.metrics["rows_missing"] = missing
        return mismatches == 0 and missing == 0


def _pairs_within(df: DataFrame, *keys: str) -> int:
    """Σ C(n, 2) over the groups of ``keys``: how many unordered row pairs
    share a group, counted without building them."""
    n = F.col("count")
    twice = df.groupBy(*keys).count().agg(F.sum(n * (n - 1))).first()[0]
    return int(twice or 0) // 2
