#!/usr/bin/env python3
"""Dedup benchmark: seeded workloads through the public entry points
``DedupPipeline.run`` and ``IncrementalDedup.process_batch`` on
``local[<nproc>]`` with the engine's default session
(``recommended_session``).

Run from the repository root:

    python3 perfbench/run.py --workload batch_corpus --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the same workload with spans around each layer's public
functions plus Spark's monitoring REST API and prints the per-layer
metrics. Human-readable lines go first; the last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. Any failed
operation or correctness check prints its reason and exits with code 1.
Everything the run writes stays under ``.perfbench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procprobe  # noqa: E402
import stats  # noqa: E402
import tracing as tr  # noqa: E402

# -- workload shapes -----------------------------------------------------------
# Sized so one run takes about a minute on a 4-core host: at these sizes a
# pipeline iteration costs 9-14 s almost regardless of input size (per-job
# overhead dominates), the cold first one 20-25 s, and a micro-batch 3.5-5 s.
#
# batch_corpus: the ROADMAP bench shape (generate_corpus(20000,
# boilerplate_cluster=500)) scaled down, plus a small near-duplicate family
# the exact-sha collapse cannot remove. Warm-up iterations run the same
# input and are left out of every metric.
BATCH_BASES = 1000
BATCH_BOILERPLATE = 30
BATCH_FAMILY = 40
BATCH_WARMUP_ITERS = 1
BATCH_MIN_ITERS = 2
# incremental_batches: every generated file is ingested, in a seeded shuffle:
# the first ones form the base store, built during set-up by one
# process_batch call that is also the warm-up; the rest arrive as
# closed-loop micro-batches of INC_BATCH_FILES, all timed.
INC_BASES = 1000
INC_BATCH_FILES = 100
INC_SECONDS_PER_BATCH = 4  # timed batches: max(INC_MIN_BATCHES, seconds // 4)
INC_MIN_BATCHES = 5

STAGE_LABELS = {
    "normalized": "stage:normalized",
    "signatures": "stage:signatures",
    "candidates": "stage:candidate_pairs",
    "verify": "stage:verified_pairs",
    "components": "stage:components",
}
INC_LABEL = "stage:incremental"
PROBE_LABEL = "trace:probe"


class CheckFailed(Exception):
    """A correctness check of the benchmark failed."""


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    # the engine's default session: no heap override
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get(
        "PYTHONPATH", "")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


def content_bytes(files) -> int:
    return int(files["content"].map(lambda s: len(s.encode())).sum())


def write_table(df, path: str) -> str:
    df.to_parquet(path, index=False, row_group_size=2048)
    return path


def start_session():
    from spaczz_spark.plans.pipeline import recommended_session

    spark = recommended_session(app="spaczz-perfbench",
                                master=f"local[{cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started has
    exited."""
    from pyspark import SparkContext

    started = set(procprobe.tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits when stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while True:
        alive = {p for p in started if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 10
        time.sleep(0.1)


# -- result ---------------------------------------------------------------------


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"FAILED: {what}", flush=True)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)
            print(f"CHECK FAILED: {what}", flush=True)


def score_same_every_time(res: Result, scores: list[dict]) -> dict:
    """Recall and precision must not change between iterations of a run."""
    keys = {(s["recall"], s["precision"]) for s in scores}
    res.check(len(keys) == 1, f"recall/precision differ between iterations: "
              f"{sorted(keys)}")
    return scores[0]


# -- batch_corpus -----------------------------------------------------------------


def batch_corpus(args, work: str, res: Result) -> tuple[dict, dict]:
    from spaczz_spark.plans.config import DedupConfig
    from spaczz_spark.plans.pipeline import DedupPipeline
    from spaczz_spark.sources.corpus import generate_corpus

    bundle = generate_corpus(n_files=BATCH_BASES, seed=args.seed,
                             boilerplate_cluster=BATCH_BOILERPLATE,
                             near_family=BATCH_FAMILY)
    n_files = len(bundle.files)
    in_bytes = content_bytes(bundle.files)
    cfg = DedupConfig()
    info = {"files": n_files, "content_bytes": in_bytes}

    t0 = time.perf_counter()
    spark = start_session()
    try:
        files_path = write_table(bundle.files, os.path.join(work, "files.parquet"))
        files = spark.read.parquet(files_path)
        if files.count() != n_files:
            raise CheckFailed("staged input lost rows")
        truth_pairs = spark.read.parquet(write_table(
            bundle.truth_pairs, os.path.join(work, "truth_pairs.parquet")))
        truth_components = spark.read.parquet(write_table(
            bundle.truth_components,
            os.path.join(work, "truth_components.parquet")))
        setup_s = time.perf_counter() - t0

        for w in range(BATCH_WARMUP_ITERS):
            ckpt = os.path.join(work, f"warm{w}")
            t = time.perf_counter()
            DedupPipeline(spark, cfg, ckpt).run(files)
            info[f"warmup{w}_s"] = time.perf_counter() - t
            shutil.rmtree(ckpt, ignore_errors=True)

        rest = tr.SparkRest(spark) if args.trace else None
        tracer = tr.Tracer()
        walls = {False: [], True: []}
        cpus, stored, scores, layer_rows = [], [], [], []
        loop_start = time.perf_counter()
        i = 0
        while True:
            # a traced run alternates untraced and traced iterations
            traced = bool(args.trace) and i % 2 == 1
            res.attempted += 1
            ckpt = os.path.join(work, f"ckpt{i}")
            # isolate the iteration: fresh checkpoint dir, nothing cached
            spark.catalog.clearCache()
            try:
                before = rest.last_job_id() if traced else None
                tracer.trace_id = f"iter{i}"
                cpu0 = procprobe.tree_cpu_s()
                t = time.perf_counter()
                pipe = DedupPipeline(spark, cfg, ckpt)
                if traced:
                    with tracer:
                        comps = pipe.run(files)
                else:
                    comps = pipe.run(files)
                wall = time.perf_counter() - t
                cpu = procprobe.tree_cpu_s() - cpu0
                if traced:
                    labels, jobs = rest.collect(before)
                ckpt_bytes = dir_bytes(ckpt)
                t = time.perf_counter()
                if not pipe.sha_invariant_holds(files, comps):
                    raise CheckFailed(
                        f"sha invariant: {pipe.metrics['sha_mismatches']} "
                        f"mismatches, {pipe.metrics['rows_missing']} rows missing")
                prf = pipe.pair_prf(comps, truth_pairs, truth_components)
                info["check_s"] = info.get("check_s", 0) + time.perf_counter() - t
            except Exception as e:  # one failed iteration; keep measuring
                traceback.print_exc()
                res.fail(f"iteration {i}: {type(e).__name__}: {e}")
            else:
                walls[traced].append(wall)
                scores.append(prf)
                if traced:
                    layer_rows.append(batch_layers(
                        pipe, labels, jobs, tracer.of(tracer.trace_id),
                        wall, n_files, ckpt_bytes))
                else:
                    cpus.append(cpu)
                    stored.append(ckpt_bytes)
                print(f"iteration {i}{' traced' if traced else ''}: "
                      f"{wall:.3f} s, cpu {cpu:.1f} s, "
                      f"recall {prf['recall']:.4f}, "
                      f"precision {prf['precision']:.4f}", flush=True)
            finally:
                shutil.rmtree(ckpt, ignore_errors=True)
            i += 1
            if (i >= BATCH_MIN_ITERS
                    and time.perf_counter() - loop_start >= args.seconds):
                break
        info["loop_s"] = time.perf_counter() - loop_start
        peak_rss = procprobe.tree_peak_rss_mb()
    finally:
        t = time.perf_counter()
        stop_session(spark)
        info["stop_s"] = time.perf_counter() - t

    if not walls[False] or (args.trace and not walls[True]):
        raise CheckFailed("no iteration of each kind completed")
    score = score_same_every_time(res, scores)
    if args.trace:
        per_layer = median_rows(layer_rows)
        per_layer.update(memory_layers(peak_rss))
        per_layer["trace.overhead_frac"] = 1 - stats.ratio(
            stats.median(walls[False]), stats.median(walls[True]))
        return per_layer, info
    p50 = stats.median(walls[False])
    return {
        "files_per_s": stats.ratio(n_files, p50),
        "cpu_s_per_kfile": stats.median([c / n_files * 1000 for c in cpus]),
        "batch_latency_p50_s": p50,
        "pair_recall": score["recall"],
        "pair_precision": score["precision"],
        "setup_s": setup_s,
        "stored_bytes_per_input_byte": stats.ratio(stats.median(stored), in_bytes),
    }, {**info, "iterations": len(walls[False]), "latencies_s": walls[False]}


def batch_layers(pipe, labels, jobs, spans, wall, n_files, ckpt_bytes) -> dict:
    m = pipe.metrics
    lab = {k: labels.get(v, tr.LabelStats()) for k, v in STAGE_LABELS.items()}
    cand, verified = m["candidate_pairs_rows"], m["verified_pairs_rows"]
    row = zero_layers()
    row.update({
        "normalized.wall_s": m["normalized_sec"],
        "signatures.wall_s": m["signatures_sec"],
        "signatures.task_s": lab["signatures"].task_s,
        "signatures.python_bytes_in": lab["signatures"].python_bytes_in,
        "signatures.python_bytes_out": lab["signatures"].python_bytes_out,
        "signatures.task_skew": lab["signatures"].task_skew,
        "candidates.wall_s": m["candidate_pairs_sec"],
        "candidates.task_s": lab["candidates"].task_s,
        "candidates.minhash_s": tr.span_seconds(spans, "minhash_candidates"),
        "candidates.simhash_s": tr.span_seconds(spans, "simhash_candidates"),
        "candidates.substring_s": tr.span_seconds(spans, "substring_candidates"),
        "candidates.shuffle_bytes": lab["candidates"].shuffle_bytes,
        "candidates.spill_bytes": lab["candidates"].spill_bytes,
        "candidates.pairs": cand,
        "candidates.pairs_per_file": stats.ratio(cand, n_files),
        "verify.wall_s": m["verified_pairs_sec"],
        "verify.task_s": lab["verify"].task_s,
        "verify.shuffle_bytes": lab["verify"].shuffle_bytes,
        "verify.python_bytes_in": lab["verify"].python_bytes_in,
        "verify.pairs": verified,
        "verify.yield": stats.ratio(verified, cand),
        "components.wall_s": m["components_sec"],
        "components.task_s": lab["components"].task_s,
        "components.cc_iterations": m["cc_iterations"],
        "components.jobs": lab["components"].jobs,
        "catalog.write_s": tr.span_seconds(spans, "CheckpointCatalog.write"),
        "catalog.bytes_written": ckpt_bytes,
    })
    row.update(unit_layers(labels, jobs, wall))
    row.update({f"{k}.self_s": v for k, v in tr.self_times(spans).items()})
    return row


def unit_layers(labels, jobs, wall) -> dict:
    """plans.pipeline: scheduling over one timed unit (iteration or batch)."""
    mine = {k: v for k, v in labels.items() if k != PROBE_LABEL}
    task_s = sum(v.task_s for v in mine.values())
    return {
        "pipeline.jobs": sum(v.jobs for v in mine.values()),
        "pipeline.tasks": sum(v.tasks for v in mine.values()),
        "pipeline.idle_core_frac": 1 - stats.ratio(task_s, wall * cores()),
    }


def zero_layers() -> dict:
    """Every per-layer metric at 0: a layer the workload never calls."""
    return {m["name"]: 0 for m in load_spec()["per_layer"]}


def memory_layers(peak_rss: dict) -> dict:
    return {"memory.peak_rss_mb": peak_rss["total"],
            "memory.jvm_peak_rss_mb": peak_rss["jvm"],
            "memory.python_peak_rss_mb": peak_rss["python"]}


def median_rows(rows: list[dict]) -> dict:
    return {k: stats.median([r[k] for r in rows]) for k in rows[0]}


# -- incremental_batches -----------------------------------------------------------


def incremental_batches(args, work: str, res: Result) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from spaczz_spark.functions.signatures import normalize
    from spaczz_spark.plans.config import DedupConfig
    from spaczz_spark.plans.pipeline import DedupPipeline
    from spaczz_spark.sources.corpus import generate_corpus
    from spaczz_spark.streaming.incremental import IncrementalDedup

    bundle = generate_corpus(n_files=INC_BASES, seed=args.seed)
    order = list(range(len(bundle.files)))
    random.Random(args.seed).shuffle(order)
    shuffled = bundle.files.iloc[order].reset_index(drop=True)
    n_batches = max(INC_MIN_BATCHES, args.seconds // INC_SECONDS_PER_BATCH)
    n_base = len(shuffled) - n_batches * INC_BATCH_FILES
    if n_base < INC_BATCH_FILES:
        raise CheckFailed(f"--seconds {args.seconds} asks for more batches "
                          "than the corpus holds")
    in_bytes = content_bytes(shuffled)
    cfg = DedupConfig()
    info = {"files": len(shuffled), "base_files": n_base,
            "timed_batches": n_batches, "content_bytes": in_bytes}

    t0 = time.perf_counter()
    spark = start_session()
    try:
        base_path = write_table(shuffled.iloc[:n_base],
                                os.path.join(work, "base.parquet"))
        batch_paths = [
            write_table(
                shuffled.iloc[n_base + b * INC_BATCH_FILES:
                              n_base + (b + 1) * INC_BATCH_FILES],
                os.path.join(work, f"batch{b:03d}.parquet"))
            for b in range(n_batches)
        ]
        batches = [spark.read.parquet(p) for p in batch_paths]
        truth_pairs = spark.read.parquet(write_table(
            bundle.truth_pairs, os.path.join(work, "truth_pairs.parquet")))
        truth_components = spark.read.parquet(write_table(
            bundle.truth_components,
            os.path.join(work, "truth_components.parquet")))
        store = os.path.join(work, "store")
        inc = IncrementalDedup(spark, cfg, store)
        spark.sparkContext.setJobDescription(INC_LABEL)
        inc.process_batch(spark.read.parquet(base_path), 0)
        spark.sparkContext.setJobDescription(None)
        setup_s = time.perf_counter() - t0

        rest = tr.SparkRest(spark) if args.trace else None
        tracer = tr.Tracer()
        probe = {}

        def count_candidates(pairs, *_args, **_kwargs):
            sc = spark.sparkContext
            sc.setJobDescription(PROBE_LABEL)
            probe["candidates"] = pairs.count()
            sc.setJobDescription(INC_LABEL)

        tracer.hooks["spaczz_spark.streaming.incremental.verify_pairs"] = (
            count_candidates)
        walls = {False: [], True: []}
        rates = {False: [], True: []}
        cpus, layer_rows = [], []
        loop_start = time.perf_counter()
        for b, batch in enumerate(batches):
            traced = bool(args.trace) and b % 2 == 1
            res.attempted += 1
            try:
                before = rest.last_job_id() if traced else None
                tracer.trace_id = f"batch{b}"
                spark.sparkContext.setJobDescription(INC_LABEL)
                cpu0 = procprobe.tree_cpu_s()
                t = time.perf_counter()
                if traced:
                    with tracer:
                        verified = inc.process_batch(batch, b + 1)
                else:
                    verified = inc.process_batch(batch, b + 1)
                wall = time.perf_counter() - t
                cpu = procprobe.tree_cpu_s() - cpu0
                spark.sparkContext.setJobDescription(None)
                if traced:
                    labels, jobs = rest.collect(before)
                    spark.sparkContext.setJobDescription(PROBE_LABEL)
                    n_verified = verified.count()
                    spark.sparkContext.setJobDescription(None)
            except Exception as e:
                traceback.print_exc()
                raise CheckFailed(f"batch {b}: {type(e).__name__}: {e}") from e
            walls[traced].append(wall)
            rates[traced].append(INC_BATCH_FILES / wall)
            if traced:
                row = zero_layers()
                lab = labels.get(INC_LABEL, tr.LabelStats())
                spans = tracer.of(tracer.trace_id)
                row.update({
                    "candidates.minhash_s": tr.span_seconds(
                        spans, "minhash_candidates"),
                    "incremental.batch_task_s": lab.task_s,
                    "incremental.jobs_per_batch": lab.jobs,
                    "incremental.append_s": lab.write_s,
                    "incremental.candidates_per_batch": probe["candidates"],
                    "incremental.verified_per_batch": n_verified,
                })
                row.update(unit_layers(labels, jobs, wall))
                row.update({f"{k}.self_s": v
                            for k, v in tr.self_times(spans).items()})
                layer_rows.append(row)
            else:
                cpus.append(cpu)
            print(f"batch {b}{' traced' if traced else ''}: {wall:.3f} s, "
                  f"cpu {cpu:.1f} s", flush=True)
        info["loop_s"] = time.perf_counter() - loop_start
        peak_rss = procprobe.tree_peak_rss_mb()

        # correctness: the store holds every ingested file exactly once
        score_start = time.perf_counter()
        sigs = spark.read.parquet(inc.sig_path)
        got = sigs.agg(F.count(F.lit(1)).alias("n"),
                       F.countDistinct("file_id").alias("d")).collect()[0]
        if not (got["n"] == got["d"] == len(shuffled)):
            raise CheckFailed(f"signature store has {got['n']} rows, "
                              f"{got['d']} distinct ids, expected {len(shuffled)}")
        # score against the full planted truth: connected components of
        # every verified pair the batches produced (a few thousand edges,
        # so a union-find in this process), judged by DedupPipeline.pair_prf
        every_file = spark.read.parquet(base_path, *batch_paths)
        keys = normalize(every_file).select("repo", "path", "commit",
                                            "file_id").collect()
        edges = spark.read.parquet(inc.pairs_path).select("a_id", "b_id")
        root = components_of(edges.collect())
        comps = spark.createDataFrame(
            [(r["repo"], r["path"], r["commit"], root(r["file_id"]))
             for r in keys],
            "repo string, path string, commit string, component_id long")
        scorer = DedupPipeline(spark, cfg, os.path.join(work, "score"))
        score = scorer.pair_prf(comps, truth_pairs, truth_components)
        info["score_s"] = time.perf_counter() - score_start
        print(f"store: {got['n']} files; recall {score['recall']:.4f}, "
              f"precision {score['precision']:.4f}", flush=True)
    finally:
        t = time.perf_counter()
        stop_session(spark)
        info["stop_s"] = time.perf_counter() - t

    info.update({"latencies_s": walls[False]})
    if args.trace:
        per_layer = median_rows(layer_rows)
        per_layer.update(memory_layers(peak_rss))
        per_layer["incremental.store_rows"] = got["n"]
        per_layer["trace.overhead_frac"] = 1 - stats.ratio(
            stats.median(rates[True]), stats.median(rates[False]))
        return per_layer, info
    tail = stats.tail_percentile(walls[False])
    info["tail"] = (f"p{tail[0]:.0f} = {tail[1]:.3f} s" if tail else
                    f"none: {len(walls[False])} batches, a tail needs > 10")
    return {
        "files_per_s": stats.median(rates[False]),
        "cpu_s_per_kfile": stats.median(
            [c / INC_BATCH_FILES * 1000 for c in cpus]),
        "batch_latency_p50_s": stats.median(walls[False]),
        "pair_recall": score["recall"],
        "pair_precision": score["precision"],
        "setup_s": setup_s,
        "stored_bytes_per_input_byte": stats.ratio(dir_bytes(store), in_bytes),
    }, info


def components_of(edges) -> callable:
    """Union-find over (a_id, b_id) rows; returns file_id -> component id
    (the smallest file_id of the component)."""
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return root


WORKLOADS = {
    "batch_corpus": batch_corpus,
    "incremental_batches": incremental_batches,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    work_root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(work_root, str(os.getpid()))
    res = Result()
    try:
        prepare_environment(work)
        import spaczz_spark  # noqa: F401  (fails outside a full checkout)

        values, info = WORKLOADS[args.workload](args, work, res)
    except CheckFailed as e:
        res.fail(str(e))
        values, info = {}, {}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
    res.attempted = max(res.attempted, 1)

    print(f"workload {args.workload}, seed {args.seed}, local[{cores()}], "
          f"trace {args.trace}: {json.dumps(info)}")
    metrics = {}
    for m in wanted:
        if m["name"] in values:
            v = float(values[m["name"]])
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"  {m['name']} = {v} {m['unit']}")
        elif values:
            res.check(False, f"metric {m['name']} was not measured")
    print(f"  error_rate = {res.failed / res.attempted} "
          f"({res.failed} failed of {res.attempted})")
    correct = not res.problems
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
