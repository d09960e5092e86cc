"""Bit-identity of the fused single-pass signature UDF against the composed
per-row reference (shingle -> MinHash/SimHash -> fingerprint, each step
computed on its own in numpy).

The pipeline/streaming/dedup signature stages run ONE ArrowEvalPython node
(``with_fused_signatures``): a chain of shingle -> MinHash/SimHash UDFs
could deadlock at scale (two pipelined Python runners per task, both
socket directions full; see ``make_fused_signature_udf``'s docstring). The
fused kernel batch-vectorizes tokenization and reuses buffers, so these
tests pin every signature column, row by row, to the plain per-row
arithmetic it must reproduce: blake2b-64 token hashes, a uint64 k-gram
fold, ``np.unique``, multiply-shift MinHash, bit-vote SimHash, and
``winnow_fingerprints_pos`` behind the fingerprint byte gate. The corpus
exercises the edge rows (empty content, fewer tokens than k, non-ASCII,
below/above the fingerprint min-bytes gate).
"""

import hashlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spaczz_spark.functions.signatures import (
    TOKEN_PATTERN,
    minhash_coefficients,
    with_fused_signatures,
)
from spaczz_spark.operators.substring import winnow_fingerprints_pos

EDGE_ROWS = [
    ("empty", ""),
    ("null_like", " \n\t "),
    ("one_token", "x"),
    ("two_tokens", "if x"),
    ("nonascii", "def café(α, β): return α + β\n" * 8),
    ("short_under_fp_gate", "return 1 + 2"),
    ("tiny_assignment", "x=1"),
] + [
    # repeated bodies of growing length straddle the 100-byte gate
    (f"repeated_{i}",
     ("def f%d():\n    return query_big_table(%d)\n" % (i, i)) * (i + 1))
    for i in range(8)
]

_TOKEN_RE = re.compile(TOKEN_PATTERN)
_FOLD = np.uint64(0x9E3779B97F4A7C15)
_BITS = np.arange(64, dtype=np.uint64)


def reference_signatures(text, k=3, num_perm=128, seed=42, fp=None):
    """Per-row signatures computed the plain way, one document at a time."""
    toks = _TOKEN_RE.findall(text.lower()) if text else []
    if toks:
        h = np.array(
            [
                int.from_bytes(
                    hashlib.blake2b(t.encode(), digest_size=8).digest(),
                    "little",
                )
                for t in toks
            ],
            dtype=np.uint64,
        )
        # k-gram fold; documents with fewer than k tokens fold all of them
        width = min(len(h), k)
        m = len(h) - width + 1
        acc = h[:m].copy()
        for j in range(1, width):
            acc = acc * _FOLD + h[j : j + m]
        shingles = np.unique(acc).astype(np.int64)
        s = shingles.astype(np.uint64)
        a, b = minhash_coefficients(num_perm, seed)
        minhash = (s[:, None] * a[None, :] + b[None, :]).min(axis=0)
        bits = (s[:, None] >> _BITS[None, :]) & np.uint64(1)
        votes = 2 * bits.astype(np.int64).sum(axis=0) - len(s)
        simhash = (
            ((votes > 0).astype(np.uint64) << _BITS)
            .sum(dtype=np.uint64)
            .astype(np.int64)
        )
        out = {
            "shingles": list(shingles),
            "minhash": list(minhash.astype(np.int64)),
            "simhash": int(simhash),
        }
    else:
        out = {
            "shingles": [],
            "minhash": [np.iinfo(np.int64).max] * num_perm,
            "simhash": 0,
        }
    out["n_shingles"] = len(out["shingles"])
    if fp is not None:
        fp_k, fp_w, fp_min_bytes = fp
        if text and len(text.encode("utf-8", errors="ignore")) >= fp_min_bytes:
            vals, pos = winnow_fingerprints_pos(text, fp_k, fp_w)
        else:
            vals, pos = [], []
        out["fingerprints"] = list(vals)
        out["fp_positions"] = list(pos)
    return out


@pytest.fixture(scope="module")
def sig_input(spark, tiny_files):
    base = tiny_files.select(
        F.xxhash64("repo", "path", "commit").alias("file_id"), "content"
    )
    edges = spark.createDataFrame(
        pd.DataFrame(
            {"file_id": range(len(EDGE_ROWS)),
             "content": [c for _, c in EDGE_ROWS]}
        )
    )
    return base.unionByName(edges)


def _assert_matches_reference(fused, cols, fp=None):
    rows = fused.select("file_id", "content", *cols).collect()
    assert len(rows) > len(EDGE_ROWS)
    for r in rows:
        want = reference_signatures(r["content"], fp=fp)
        for c in cols:
            got = r[c]
            if isinstance(got, list):
                got = list(got)
            assert got == want[c], f"{c} differs for file_id={r['file_id']}"


def test_fused_equals_composed_with_fingerprints(sig_input):
    cols = [
        "shingles", "n_shingles", "minhash", "simhash",
        "fingerprints", "fp_positions",
    ]
    fused = with_fused_signatures(sig_input, 3, 128, 42, 32, 32, 100)
    _assert_matches_reference(fused, cols, fp=(32, 32, 100))


def test_fused_equals_composed_without_fingerprints(sig_input):
    cols = ["shingles", "n_shingles", "minhash", "simhash"]
    fused = with_fused_signatures(sig_input, 3, 128, 42)
    _assert_matches_reference(fused, cols)
    assert "fingerprints" not in fused.columns


def test_fused_fingerprint_metadata_survives(sig_input):
    """The substring stage reads its winnowing params from the column
    metadata (verify_substring_pairs scores with its fp_k) — the fused path
    must stamp them identically."""
    fused = with_fused_signatures(sig_input, 3, 128, 42, 32, 32, 100)
    meta = fused.schema["fingerprints"].metadata
    assert (meta["fp_k"], meta["fp_w"], meta["fp_min_bytes"]) == (32, 32, 100)


def test_fused_single_python_eval_node(sig_input):
    """The whole point: ONE ArrowEvalPython node in the physical plan, even
    with every signature column projected."""
    fused = with_fused_signatures(sig_input, 3, 128, 42, 32, 32, 100).select(
        "file_id", "shingles", "minhash", "simhash", "fingerprints"
    )
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_partial_fingerprint_params_rejected_eagerly(sig_input):
    """ADVICE r6: a partial (fp_k, fp_w, fp_min_bytes) set must fail at
    plan-build time, not deep inside the executor UDF."""
    with pytest.raises(ValueError, match="must be set together"):
        with_fused_signatures(sig_input, 3, 128, 42, fp_k=32)
    with pytest.raises(ValueError, match="must be set together"):
        with_fused_signatures(sig_input, 3, 128, 42, fp_k=32, fp_w=32)
