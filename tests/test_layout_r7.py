"""Regression tests for the round-7 layout/plan optimizations.

These pin the *structural* properties the r7 wins depend on, so a future
refactor cannot silently undo them:

- ensure_min_partitions spreads single-partition inputs and is a strict
  no-op (same object) on well-partitioned ones;
- the ANN top-k broadcast-index plan returns exactly the shuffle plan's
  rows (candidate-set equality is the whole correctness argument); each
  test forces both plans by setting ``ANN_BROADCAST_INDEX_BYTES`` above
  and below the corpus row-count gate;
- the pipeline's signatures checkpoint carries no `content` column (text
  is checkpointed once, in `normalized`), yet verify still resolves
  content for its kernel/phase-B joins.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_ensure_min_partitions_spreads_and_noops(spark):
    from spaczz_spark.functions.layout import ensure_min_partitions

    single = spark.range(100).coalesce(1)
    out = ensure_min_partitions(single)
    assert (
        out.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )
    assert out.count() == 100
    wide = spark.range(100).repartition(64)
    assert ensure_min_partitions(wide) is wide


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(11)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)])
        for i in range(120)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lsh_topk_broadcast_plan_equals_shuffle_plan(emb_df):
    import spaczz_spark.operators.ann as ann

    kw = dict(k=4, n_bits=3, n_tables=8, n_probes=2, seed=7)
    saved = ann.ANN_BROADCAST_INDEX_BYTES
    try:
        ann.ANN_BROADCAST_INDEX_BYTES = 1 << 30
        broadcast_rows = _rows(ann.lsh_cosine_topk(emb_df, **kw))
        ann.ANN_BROADCAST_INDEX_BYTES = 0
        shuffle_rows = _rows(ann.lsh_cosine_topk(emb_df, **kw))
    finally:
        ann.ANN_BROADCAST_INDEX_BYTES = saved
    assert broadcast_rows == shuffle_rows and len(broadcast_rows) > 0


def test_ivf_topk_broadcast_plan_equals_shuffle_plan(emb_df):
    import spaczz_spark.operators.ann as ann

    kw = dict(k=4, n_cells=6, n_probe=3, seed=7, sample_size=200)
    saved = ann.ANN_BROADCAST_INDEX_BYTES
    try:
        ann.ANN_BROADCAST_INDEX_BYTES = 1 << 30
        broadcast_rows = _rows(ann.ivf_cosine_topk(emb_df, **kw))
        ann.ANN_BROADCAST_INDEX_BYTES = 0
        shuffle_rows = _rows(ann.ivf_cosine_topk(emb_df, **kw))
    finally:
        ann.ANN_BROADCAST_INDEX_BYTES = saved
    assert broadcast_rows == shuffle_rows and len(broadcast_rows) > 0


def test_signatures_checkpoint_is_content_less(spark, tiny_files, tmp_path):
    from spaczz_spark.plans.config import DedupConfig
    from spaczz_spark.plans.pipeline import DedupPipeline

    pipe = DedupPipeline(spark, DedupConfig(), str(tmp_path / "ckpt"))
    out = pipe.run(tiny_files)
    assert out.count() == tiny_files.count()
    manifest = pipe.catalog.manifest("signatures")
    assert manifest is not None
    assert "content:string" not in manifest["schema"], manifest["schema"]
    # text is checkpointed exactly once — in normalized
    norm = pipe.catalog.manifest("normalized")
    assert "content:string" in norm["schema"]
    # and verify still produced kernel/substring-verified pairs end-to-end
    verified = spark.read.parquet(str(tmp_path / "ckpt" / "verified_pairs"))
    assert verified.where(F.col("verified_by") != "sha").count() > 0
