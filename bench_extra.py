#!/usr/bin/env python
"""Extra measurement harness for the optimization round (guide §1).

NOT the driver bench — bench.py stays frozen. This script isolates:

  stages   — per-stage walls of the flagship DedupPipeline on the bench
             corpus (fresh checkpoint dir, warm session, repeats, min)
  noop     — per-query noop-sink walls for the bench query set (repeats);
             BX_ONLY=a,b runs those entries of queries.QUERIES instead
             (with bench.py's tuning where bench.py substitutes one)
  pytask   — fixed cost of one Python task: one-row-per-task stages through
             a pandas UDF vs the same stage JVM-only, at 1, 4 and 16 tasks;
             re-derives operators.verify.ROWS_PER_PYTHON_TASK on a new host

Physical plans live in EXPLAIN.md (scripts/explain_audit.py).

Usage: python bench_extra.py stages|noop|pytask
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# module level: pandas_udf resolves the pytask UDF's (string) type hints
# in this module's globals
import pandas as pd

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def session():
    from spaczz_spark.plans.pipeline import recommended_session

    s = recommended_session(
        app="spaczz-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def bench_files_path() -> str:
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_fixtures import make

    path = os.path.join(REPO, "fixtures", "files_bench")
    if not os.path.exists(os.path.join(path, "files.parquet")):
        make("bench")
    return os.path.join(path, "files.parquet")


def run_pipeline_with_stages(spark, files_path):
    from pyspark.sql import functions as F

    from spaczz_spark.plans.config import DedupConfig
    from spaczz_spark.plans.pipeline import DedupPipeline

    ckpt = tempfile.mkdtemp(prefix="spaczz_bx_")
    try:
        files = spark.read.parquet(files_path)
        n = files.count()
        t0 = time.time()
        pipe = DedupPipeline(spark, DedupConfig(), ckpt)
        comps = pipe.run(files)
        t1 = time.time()
        comps.select(F.count(F.lit(1)), F.countDistinct("component_id")).collect()
        m = {k: v for k, v in pipe.metrics.items() if k.endswith("_sec")}
        m["final_collect_sec"] = round(time.time() - t1, 2)
        m["cc_iterations"] = pipe.metrics.get("cc_iterations", -1)
        m["total_sec"] = round(time.time() - t0, 2)
        m["n_files"] = n
        return m
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def cmd_stages():
    spark = session()
    files_path = bench_files_path()
    reps = int(os.environ.get("BX_REPEATS", "3"))
    runs = []
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"bx stages repeat {i}")
        runs.append(run_pipeline_with_stages(spark, files_path))
        print(json.dumps(runs[-1]), flush=True)
    best = min(runs, key=lambda m: m["total_sec"])
    print(json.dumps({"best": best, "all_total": [m["total_sec"] for m in runs]}))


def _bench_queries(spark, only=None):
    """Same query set + impl substitutions as bench.py; ``only`` names any
    ``queries.QUERIES`` entries to run instead of that set."""
    from spaczz_spark import queries as Q

    def _bench_emb_topk_ann(spark, sf_dir):
        from spaczz_spark.operators.ann import lsh_cosine_topk

        emb = Q._emb(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
        return lsh_cosine_topk(emb, k=5, n_bits=4, n_tables=32, n_probes=2)

    def _bench_emb_ivf_ann(spark, sf_dir):
        from spaczz_spark.operators.ann import ivf_cosine_topk

        emb = Q._emb(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
        return ivf_cosine_topk(emb, k=5, n_cells=16, n_probe=8, seed=42)

    impls = {
        "emb_topk_ann": _bench_emb_topk_ann,
        "emb_ivf_ann": _bench_emb_ivf_ann,
    }
    names = [
        "doc_minhash_neardup", "doc_ngram_jaccard", "doc_quality",
        "events_windowed", "events_sessions", "tpch_q1",
        "emb_topk_ann", "emb_ivf_ann", "doc_ruler", "media_decode",
        "files_neardup_pairs", "files_substring_pairs", "files_components",
    ]
    return [(n, impls.get(n, Q.QUERIES[n])) for n in only or names]


def cmd_noop():
    spark = session()
    reps = int(os.environ.get("BX_REPEATS", "3"))
    only = os.environ.get("BX_ONLY")
    walls: dict[str, list[float]] = {}
    qs = _bench_queries(spark, only.split(",") if only else None)
    for _ in range(reps):
        for name, fn in qs:
            spark.sparkContext.setJobDescription(f"bx noop {name}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            walls.setdefault(name, []).append(round(time.time() - t0, 3))
    out = {n: {"min": min(w), "all": w} for n, w in walls.items()}
    print(json.dumps(out, indent=1))


def cmd_pytask():
    """Wall of an n-task stage with one row per task, with and without a
    pandas UDF; the difference per wave of ``CPUS`` tasks is what one
    Python task costs beyond its JVM work (workers are reused)."""
    from pyspark.sql import functions as F

    spark = session()
    reps = int(os.environ.get("BX_REPEATS", "5"))

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    def wall(n: int, python: bool) -> float:
        df = spark.range(0, n, 1, numPartitions=n)
        col = plus_one("id") if python else F.col("id") + 1
        t0 = time.time()
        df.select(col.alias("x")).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    wall(16, True)  # start the Python workers
    for n in (1, 4, 16):
        jvm = min(wall(n, False) for _ in range(reps))
        py = min(wall(n, True) for _ in range(reps))
        per_task = round((py - jvm) / -(-n // CPUS), 3)
        print(json.dumps({
            "tasks": n, "jvm_s": round(jvm, 3), "python_s": round(py, 3),
            "per_python_task_s": per_task,
        }), flush=True)
    print(json.dumps({"cpus": CPUS, "per_python_task_s": per_task}))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "stages"
    if mode == "stages":
        cmd_stages()
    elif mode == "noop":
        cmd_noop()
    elif mode == "pytask":
        cmd_pytask()
    else:
        raise SystemExit(f"unknown mode {mode}")
