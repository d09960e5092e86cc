#!/usr/bin/env python
"""spark-submit entry point for the dedup pipeline (north rule launch shape).

Production:
    spark-submit --py-files dist/spaczz_spark.zip jobs/dedup.py \
        --input <iceberg table or parquet path> \
        --checkpoint <path> [--config run_config.json] [--iceberg]

Sandbox smoke:
    python jobs/dedup.py --input fixtures/files_tiny/files.parquet \
        --checkpoint /tmp/ckpt
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# Python workers spawned by the JVM import the package by path too
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet path or (with --iceberg) table name")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--config", default=None, help="run config JSON path")
    ap.add_argument("--iceberg", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--truth-pairs", default=None,
                    help="optional planted-truth pairs parquet for recall")
    args = ap.parse_args()

    from spaczz_spark.plans.config import DedupConfig
    from spaczz_spark.plans.pipeline import DedupPipeline, recommended_session

    cfg = DedupConfig.from_json(args.config) if args.config else DedupConfig()
    if args.master:
        spark = recommended_session(master=args.master)
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("spaczz-dedup").getOrCreate()

    files = (
        spark.read.table(args.input) if args.iceberg
        else spark.read.parquet(args.input)
    )
    pipe = DedupPipeline(spark, cfg, args.checkpoint, use_iceberg=args.iceberg)
    components = pipe.run(files)

    if args.truth_pairs:
        truth = spark.read.parquet(args.truth_pairs)
        pipe.pair_recall(components, truth)
    pipe.sha_invariant_holds(files, components)

    manifest = {"config_hash": cfg.config_hash(), "metrics": pipe.metrics}
    with open(os.path.join(args.checkpoint, "run_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True, default=str)
    print(json.dumps(manifest, sort_keys=True, default=str))


if __name__ == "__main__":
    main()
