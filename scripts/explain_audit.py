#!/usr/bin/env python
"""Capture `.explain(formatted)` for the engine's key plans into EXPLAIN.md.

The audit answers the scale questions per operator: are filters/projections
pushed into the parquet scan, which joins broadcast, where the exchanges
are, and how wide the whole-stage-codegen spans run (higher-order
functions such as transform/aggregate/zip_with never join a span: Spark
runs them interpreted).
"""

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def stage_plan(spark, files, root, name):
    """The DataFrame the pipeline commits as stage ``name``: the pipeline
    runs over ``files`` (checkpoints under ``root``) until that write,
    which is captured instead of executed."""
    from spaczz_spark.plans.config import DedupConfig
    from spaczz_spark.plans.pipeline import DedupPipeline

    class Captured(Exception):
        pass

    pipe = DedupPipeline(spark, DedupConfig(), root)
    commit, captured = pipe.catalog.write, {}

    def write(stage, df, *args, **kwargs):
        if stage == name:
            captured["df"] = df
            raise Captured
        return commit(stage, df, *args, **kwargs)

    pipe.catalog.write = write
    try:
        pipe.run(files)
    except Captured:
        return captured["df"]
    raise RuntimeError(f"the pipeline never committed {name}")


def executed_tree(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def one_aggregate_over_union(df) -> str:
    """Fails unless the physical plan has exactly one aggregate (a partial
    + final pair) with the sources' Union directly below it (further
    Unions, each source's all-pairs + star projection, sit deeper)."""
    tree = executed_tree(df)
    aggs = [i for i, line in enumerate(tree) if "Aggregate(" in line]
    unions = [i for i, line in enumerate(tree) if line.endswith("Union")]
    if len(aggs) != 2 or not unions or unions[0] < aggs[-1]:
        raise SystemExit(
            f"candidate_pairs: expected one aggregate over the Union, got "
            f"{len(aggs)} aggregate nodes:\n" + "\n".join(tree)
        )
    return ("Verified by the script: 2 aggregate nodes (partial + final), "
            "the Union of the sources below them.")


def cascade_without_window(df) -> str:
    """Fails unless the verify cascade plans as a plain union: no Window,
    exactly one LeftAnti join on (a_id, b_id) (substring candidates minus
    the set-similarity verifier's output), and no edit-ratio
    ArrowEvalPython, i.e. the kernel runs inside the lazy checkpoint the
    plan scans, not again above it."""
    tree = executed_tree(df)
    anti = [line for line in tree if "LeftAnti" in line]
    problems = []
    if any(re.search(r"\bWindow\b", line) for line in tree):
        problems.append("a Window node")
    if len(anti) != 1 or not re.search(
        r"\[a_id#\d+L, b_id#\d+L\], \[a_id#\d+L, b_id#\d+L\], LeftAnti",
        anti[0],
    ):
        problems.append(f"{len(anti)} LeftAnti joins, want one on (a_id, b_id)")
    if any("ArrowEvalPython" in line and "edit_ratio(" in line
           for line in tree):
        problems.append("the edit-ratio kernel above the checkpoint scan")
    if problems:
        raise SystemExit(
            "verified_pairs: " + "; ".join(problems) + ":\n" + "\n".join(tree)
        )
    return ("Verified by the script: no Window node, one LeftAnti join on "
            "(a_id, b_id), no edit-ratio ArrowEvalPython.")


def main():
    from pyspark.sql import functions as F

    from spaczz_spark import queries as Q
    from spaczz_spark.functions.signatures import (
        normalize,
        pack_band_keys,
        with_fused_signatures,
    )
    from spaczz_spark.operators.components import _large_star, _small_star
    from spaczz_spark.operators.lsh import minhash_candidates
    from spaczz_spark.operators.verify import verify_pairs
    from spaczz_spark.plans.pipeline import recommended_session

    spark = recommended_session(app="explain-audit", master="local[4]",
                                shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"

    sections = []

    files = Q._files(spark, sf)
    sig = with_fused_signatures(normalize(files))
    banded = sig.select(
        "file_id", F.explode(pack_band_keys(64, 2)).alias("bucket_key")
    )
    sections.append((
        "MinHash band rows — the input of the bucket-sizing window "
        "(normalize -> fused signature UDF -> band explode)",
        "Check: exactly ONE ArrowEvalPython node computes every per-row "
        "signature (a chained shingle->minhash/simhash UDF pair would be "
        "two pipelined Python runners per task - the deadlock shape); the "
        "band keys are packed JVM-side; scan reads only the needed columns.",
        grab(banded),
    ))
    # minhash_candidates checkpoints the sized (bucket_key, fid, bsize,
    # bmin) window table lazily; this plan is the pair join and star
    # projection over it
    cand = minhash_candidates(sig)
    sections.append((
        "MinHash LSH candidates — one salted all-pairs join over the sized "
        "table",
        "Check: the signature UDF + explode + exchange + window run ONCE: "
        "the sized table is checkpointed lazily, so no job materializes it "
        "before its first consumer (AQE still runs the window's "
        "shuffle-map stage when it plans the checkpoint). The window plan "
        "beat a grouped-array aggregation 2.4-3.7x at scale4, see "
        "BENCH/profile_candidates_scale4.json. This plan reads the "
        "checkpointed RDD (Scan ExistingRDD) at every reference instead of "
        "recomputing the window subtree, and has exactly ONE join: the "
        "all-pairs self-join on (bucket_key, salt), whose b side is the "
        "Generate of the salt sequence (1 salt up to bucket_cap, N_SALT "
        "above). Buckets above star_cap bypass the join as a star "
        "projection unioned after it.",
        grab(cand),
    ))

    verified = verify_pairs(cand.withColumn("stage", F.lit("minhash")), sig)
    sections.append((
        "Pair verification (sha fast path + exact Jaccard + gated InDel UDF)",
        "Check: the pair side broadcasts against both corpus joins "
        "(BroadcastHashJoin); jaccard/array ops stay in codegen; one "
        "ArrowEvalPython for the masked InDel kernel. The kernel band's "
        "round-robin Exchange is sized by its rows: one task per "
        "ROWS_PER_PYTHON_TASK rows, at most 4 per core, and "
        "SinglePartition when one task holds the band. Building this plan "
        "runs one job, the band's row count. This sf0.01 band holds about "
        "1,600 rows, so it spreads over the cap: RoundRobinPartitioning(16) "
        "at local[4].",
        grab(verified),
    ))

    from spaczz_spark.operators.substring import (
        substring_candidates,
        verify_substring_pairs,
    )

    sigf = with_fused_signatures(
        normalize(files), fp_k=32, fp_w=32, fp_min_bytes=100
    )
    subv = verify_substring_pairs(
        substring_candidates(sigf), sigf, min_partial=75
    )
    sections.append((
        "Two-phase substring verify (anchor screen before the content join)",
        "Check: phase A joins only (n_bytes, fingerprints, fp_positions) "
        "and its ArrowEvalPython screen feeds the Filter; the content "
        "joins sit ABOVE that filter, so rejected pairs never ship text; "
        "exactly two ArrowEvalPython nodes (screen, windowed kernel).",
        grab(subv),
    ))

    with tempfile.TemporaryDirectory() as root:
        cand_plan = stage_plan(spark, files, root, "candidate_pairs")
        sections.append((
            "candidate_pairs stage — one aggregate over the three-source "
            "union",
            "Check: the MinHash, SimHash and substring sources are unioned "
            "raw (one row per shared bucket) and deduplicated ONCE: a "
            "single partial + final aggregate pair on (a_id, b_id, stage = "
            "'substring') above the Union (SortAggregate: min over the "
            "string stage), and no other aggregate in the stage. "
            + one_aggregate_over_union(cand_plan),
            grab(cand_plan),
        ))
        # resumes normalized + signatures, commits candidate_pairs
        ver_plan = stage_plan(spark, files, root, "verified_pairs")
        sections.append((
            "verified_pairs stage — the verify cascade",
            "Check: the set-similarity verifier's output is a lazy "
            "checkpoint (Scan ExistingRDD, read twice): once as the first "
            "branch of the Union and once as the right side of the ONE "
            "LeftAnti join that leaves the substring verifier only the "
            "substring candidates it did not accept (planned as a sort-"
            "merge join: the checkpoint has no size statistics until it "
            "runs, so AQE decides on a broadcast). The two branches are "
            "disjoint and one row per pair, so the plan ends in a plain "
            "Union: no Window and no exchange to pick a best record. The "
            "only ArrowEvalPython nodes are the substring verifier's "
            "(anchor screen, windowed containment kernel). "
            + cascade_without_window(ver_plan),
            grab(ver_plan),
        ))

    sections.append((
        "TPC-H-style aggregation (tpch_q1)",
        "Check: PushedFilters/ReadSchema prune the lineitem scan to the six "
        "needed columns; partial_ + final HashAggregate (map-side combine); "
        "single Exchange on the group keys.",
        grab(Q.q_tpch_q1(spark, sf)),
    ))

    sections.append((
        "Top customers (broadcast dimension join + top-k)",
        "Check: customer joins as BroadcastHashJoin (explicit broadcast); "
        "TakeOrderedAndProject instead of a global sort.",
        grab(Q.q_top_customers(spark, sf)),
    ))

    sections.append((
        "Embedding top-k (JVM dot products + per-query window)",
        "Check: BroadcastNestedLoopJoin with the small query side "
        "broadcast; each side is L2-normalized BELOW the join in three "
        "Projects - cast, then `norm` once per row, then the divide, whose "
        "lambda references `norm#` and holds no zip_with - so a pair costs "
        "one dot product via zip_with/aggregate, JVM-side but interpreted "
        "(higher-order functions are CodegenFallback; no Python in the "
        "scoring path); rank via one window Exchange.",
        grab(Q.q_emb_topk(spark, sf)),
    ))

    sections.append((
        "Exact dedup groups (one window on sha256)",
        "Check: sha2 computed in the scan projection; ONE hash Exchange on "
        "the key and a partition-local Sort feed a Window computing "
        "min(doc_id) and count per group; no aggregate, no member array, "
        "no explode, no global sort (so no range Exchange); no Python.",
        grab(Q.q_doc_exact_dups(spark, sf)),
    ))

    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 3)], "u long, v long")
    sections.append((
        "Connected components round (_small_star(_large_star(edges)))",
        "Check: each star takes its per-node minimum with ONE window "
        "Exchange (large star on u over both orientations, from one "
        "Generate; small star on greatest(u, v)), and the round closes "
        "with the distinct's hash aggregate: three Exchanges, no join, no "
        "union.",
        grab(_small_star(_large_star(edges))),
    ))

    sections.append((
        "Multiprobe LSH top-k ANN (emb_topk_ann)",
        "Check: corpus and query sides each pass through ONE "
        "ArrowEvalPython (the one hyperplane-key UDF: no probes on the "
        "corpus side, n_probes on the query side). Broadcast-sized corpora "
        "(r7): the grouped inverted index (bucket -> members) broadcasts, "
        "only the slim probe rows shuffle (repartition by query_id), "
        "per-query array_distinct dedupes with no pair-level exchange, "
        "and the rank window is fed either by the query_id layout or (as "
        "here, at audit scale) by a broadcast of the whole candidate "
        "table, with WindowGroupLimit pruning to k rows per partition "
        "before the rank Exchange. Above the broadcast budget the former "
        "shuffle join on the bucket key is kept (no broadcast of the "
        "corpus, no nested-loop cross); the gate is a row count of the "
        "corpus ids. Exact cosine is scored JVM-side (interpreted "
        "zip_with/aggregate) on vectors normalized once per row.",
        grab(Q.q_emb_topk_ann(spark, sf)),
    ))

    sections.append((
        "Distributed ruler (fused match+resolve UDF, doc_ruler)",
        "Check: ONE ArrowEvalPython doing both the match kernel fan-out "
        "and the M4/M5 conflict resolution per doc - no resolution "
        "shuffle at all (the explicit repartition is the only Exchange); "
        "scan reads only (doc_id, text).",
        grab(Q.q_doc_ruler(spark, sf)),
    ))

    sections.append((
        "Winnowed containment join (files_substring_pairs)",
        "Check: one Python evaluation per document - a single "
        "nondeterministic winnowing UDF runs inside the lazy checkpoint, "
        "so no ArrowEvalPython appears here and both join sides read the "
        "checkpoint (Scan ExistingRDD): the needle side keeps ONE anchor "
        "per doc and is the broadcast build side, the host side explodes "
        "winnowed fingerprints (~2/w of positions); equi-join on the "
        "anchor hash; instr verification after the id joins.",
        grab(Q.q_files_substring_pairs(spark, sf)),
    ))

    out = [
        "# EXPLAIN audit — key physical plans (generated by "
        "scripts/explain_audit.py)",
        "",
        "Regenerate with `python scripts/explain_audit.py` after plan-"
        "affecting changes.",
        "",
    ]
    for title, check, plan in sections:
        out.append(f"## {title}\n")
        out.append(f"_{check}_\n")
        out.append("```\n" + plan.strip() + "\n```\n")
    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md", len(sections), "sections")


if __name__ == "__main__":
    main()
