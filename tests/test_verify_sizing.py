"""The edit-ratio kernel's Python stage is sized by its band rows."""

import io
import random
from contextlib import redirect_stdout
from hashlib import sha256

import pytest

from spaczz_spark.operators import verify
from spaczz_spark.operators.verify import ROWS_PER_PYTHON_TASK, verify_pairs


def _band_corpus(spark, n_files):
    """Files whose every pair has shingle Jaccard 0.5 (inside the default
    [0.2, 0.7) kernel band) and contents edited by varying amounts, so the
    kernel keeps some pairs and drops others."""
    rng = random.Random(11)
    base = [rng.choice("abcdefgh ") for _ in range(300)]
    rows = []
    for i in range(n_files):
        text = list(base)
        for p in rng.sample(range(len(text)), (i * 13) % 150):
            text[p] = rng.choice("xyz")
        content = "".join(text)
        shingles = list(range(10)) + [1000 * (i + 1) + j for j in range(10)]
        rows.append((
            i, content, sha256(content.encode()).hexdigest(),
            shingles, len(shingles),
        ))
    corpus = spark.createDataFrame(
        rows,
        "file_id long, content string, content_sha256 string, "
        "shingles array<long>, n_shingles int",
    )
    pairs = spark.createDataFrame(
        [(a, b, "minhash") for a in range(n_files) for b in range(a + 1, n_files)],
        "a_id long, b_id long, stage string",
    )
    return pairs, corpus


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _spread(tasks: int) -> str:
    # Spark plans a round-robin repartition to one task as SinglePartition
    part = "SinglePartition" if tasks == 1 else f"RoundRobinPartitioning({tasks})"
    return f"Exchange {part}, REPARTITION_BY_NUM"


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("band", ["below_one_task", "above_the_cap"])
def test_kernel_spread_follows_band_rows(spark, monkeypatch, band):
    dp = spark.sparkContext.defaultParallelism
    if band == "below_one_task":
        n_files, tasks = 6, 1  # 15 pairs
        assert n_files * (n_files - 1) // 2 < ROWS_PER_PYTHON_TASK
    else:
        n_files = 2
        while n_files * (n_files - 1) // 2 <= 4 * dp * ROWS_PER_PYTHON_TASK:
            n_files += 1
        tasks = 4 * dp
    pairs, corpus = _band_corpus(spark, n_files)

    got = verify_pairs(pairs, corpus)
    assert _spread(tasks) in _plan(got)
    rows = _sorted_rows(got)

    # reference: the former fixed spread of 4 tasks per core
    monkeypatch.setattr(verify, "_kernel_tasks", lambda rows, dp: 4 * dp)
    ref = verify_pairs(pairs, corpus)
    assert _spread(4 * dp) in _plan(ref)
    assert rows == _sorted_rows(ref)
    # every pair went through the kernel, and it kept some but not all
    kinds = {r[-1] for r in rows}
    assert kinds == {"edit_ratio"}, kinds
    assert 0 < len(rows) < pairs.count()
