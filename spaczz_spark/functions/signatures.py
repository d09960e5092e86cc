"""Normalization and the fused per-row signature kernel.

Design (SURVEY.md §2.2 P1 / §4.2):

- **normalize**: pure JVM column expressions — ``file_id = xxhash64(repo,
  path, commit)`` (stable, resume-safe; never ``monotonically_increasing_id``),
  ``content_sha256 = sha2(content, 256)`` (the per-row invariant demanded by
  BASELINE.json's input_hint).
- **signatures**: ONE Arrow-batched pandas UDF
  (:func:`make_fused_signature_udf`) turns ``content`` into every per-row
  signature in a single Python pass: token k-shingles (blake2b-64 token
  hashes folded into uint64 k-gram hashes, made distinct with
  ``np.unique``), MinHash-128 (multiply-shift permutations in uint64
  wrap-around arithmetic, odd multipliers, seeded deterministically),
  SimHash-64 (per-bit majority vote) and, optionally, winnowed substring
  fingerprints with their byte offsets. A row's signature is a pure
  function of (content, config), which is what makes checkpoints
  resumable and the pipeline's output reproducible.

The scan->verify split mirrors the reference's cheap-gate-then-verify design
(reference: ``_search/phrasesearcher.py:46-48,195-201`` — ``min_r1`` scan
before ``_optimize``): MinHash/LSH is the recall-oriented scan, exact
Jaccard/edit-ratio the verify.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

__all__ = [
    "TOKEN_PATTERN",
    "SHINGLE_SEP",
    "normalize",
    "minhash_coefficients",
    "with_fused_signatures",
    "pack_band_keys",
]

# One token per code identifier / number / operator char. Kept deliberately
# RE2/Java/DuckDB-portable so the DuckDB correctness oracle can reproduce the
# exact same token stream.
TOKEN_PATTERN = r"[a-z0-9_]+|[^a-z0-9_\s]"
SHINGLE_SEP = "\x1f"

_LITTLE_ENDIAN = sys.byteorder == "little"


def normalize(files: DataFrame) -> DataFrame:
    """Add stable ids and the sha256 per-row invariant column.

    ``file_id`` is content-address-stable: recomputing it on resume or on a
    different cluster layout yields identical ids (no
    monotonically_increasing_id anywhere in the engine).
    """
    return files.withColumns(
        {
            "file_id": F.xxhash64("repo", "path", "commit"),
            "content_sha256": F.sha2("content", 256),
            "n_bytes": F.octet_length("content"),
        }
    )


def minhash_coefficients(num_perm: int = 128, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic multiply-shift permutation coefficients (a odd, b any)."""
    rng = np.random.RandomState(seed)
    # draw in two 32-bit halves to build uint64 deterministically
    def draw(n):
        hi = rng.randint(0, 2**32, size=n, dtype=np.uint64)
        lo = rng.randint(0, 2**32, size=n, dtype=np.uint64)
        return (hi << np.uint64(32)) | lo

    a = draw(num_perm) | np.uint64(1)  # odd multipliers
    b = draw(num_perm)
    return a, b


def make_fused_signature_udf(
    k: int = 3,
    num_perm: int = 128,
    seed: int = 42,
    fp_k: int | None = None,
    fp_w: int | None = None,
    fp_min_bytes: int | None = None,
):
    """Fully-fused pandas UDF: content -> every per-row signature in ONE
    Arrow pass (shingles, MinHash-128, SimHash-64, and — when ``fp_k`` is
    set — winnowed substring fingerprints + byte positions).

    Why one pass instead of a chain of UDFs (shingles in one, MinHash and
    SimHash in the next — the round-5 shape):

    1. **Deadlock.** A chain compiles to TWO chained ArrowEvalPython nodes
       inside one stage. Spark 4's PythonRunner services each worker
       socket from the task thread with a selector; with two pipelined
       runners per task the thread can end up select()-ing on the
       downstream worker while BOTH workers are blocked in
       ``tcp_sendmsg`` (their 4 MB socket send buffers full) and the
       upstream's output goes undrained — observed live on the 560k-file
       corpus (stage stuck 20+ min at 0 CPU, jstack:
       ``BasePythonRunner$ReaderInputStream.read`` epoll-wait; both
       pyspark.daemon workers in ``sk_stream_wait_memory``). Shingle
       arrays are the fattest per-row payload in the engine, so this
       stage is exactly where the buffers fill. One ArrowEvalPython node
       = one worker per task = the cycle cannot form.
    2. **Boundary bytes.** Chained, the shingle array crosses the
       JVM<->Python boundary three times (out of the shingle UDF, back in
       for MinHash and SimHash). Fused it crosses once — at 100 TB the
       shingle stream is the dominant Arrow traffic, so this is a ~2x cut
       in serialization for the signature stage.

    ``tests/test_fused_signatures.py`` pins every output column, row by
    row, against a per-row numpy reference of the same arithmetic.

    Memory note (ADVICE r6): the batch kernel materializes the whole Arrow
    batch's token stream (token lists + the flattened array fed to
    ``pd.factorize``) before processing. That is sized for the pipeline's
    1024-row ``arrow.maxRecordsPerBatch`` default; if the batch cap is
    ever raised substantially for this stage, chunk the factorize step or
    expect a per-worker memory cliff on large files.
    """
    import hashlib
    import re as _re

    from pyspark.sql.types import IntegerType, StructField, StructType

    token_re = _re.compile(TOKEN_PATTERN)
    A = np.uint64(0x9E3779B97F4A7C15)
    a_co, b_co = minhash_coefficients(num_perm, seed)
    with_fp = fp_k is not None
    if with_fp:
        from ..operators.substring import winnow_fingerprints_pos

    fields = [
        StructField("shingles", ArrayType(LongType())),
        StructField("minhash", ArrayType(LongType())),
        StructField("simhash", LongType()),
    ]
    if with_fp:
        fields += [
            StructField("fingerprints", ArrayType(LongType())),
            StructField("fp_positions", ArrayType(IntegerType())),
        ]
    out_type = StructType(fields)

    @F.pandas_udf(out_type)
    def fused_signature(content: pd.Series) -> pd.DataFrame:
        blake2b = hashlib.blake2b

        empty = np.array([], dtype=np.int64)
        empty32 = np.array([], dtype=np.int32)
        mh_empty = np.full(num_perm, np.iinfo(np.int64).max, dtype=np.int64)
        bit_idx = np.arange(64, dtype=np.uint64)

        # batch-vectorized token hashing: tokenize every row, factorize the
        # whole batch's token stream once (C-speed), blake2b only the
        # UNIQUE tokens, then gather — replaces ~1M per-token dict lookups
        # per batch with one factorize + a few thousand hashes. Values are
        # bit-identical to the per-row path (same blake2b per token).
        tok_lists = [
            token_re.findall(t.lower()) if t else [] for t in content
        ]
        lens = np.fromiter(
            (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
        )
        total = int(lens.sum())
        if total:
            flat: list[str] = []
            for t in tok_lists:
                flat.extend(t)
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            uh = np.fromiter(
                (
                    int.from_bytes(
                        blake2b(u.encode(), digest_size=8).digest(), "little"
                    )
                    for u in uniques
                ),
                dtype=np.uint64,
                count=len(uniques),
            )
            all_h = uh[codes]
        offsets = np.zeros(len(content) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])

        sh_out, mh_out, fp_out, pos_out = [], [], [], []
        sim_out = np.zeros(len(content), dtype=np.int64)
        # one MinHash work buffer reused across the batch (r7): the
        # (n_shingles, num_perm) product matrix was reallocated per row —
        # multi-MB mallocs per document dominated the kernel in profiling.
        # Values are bit-identical (same uint64 wrap-around multiply-add).
        mh_buf = np.empty((0, num_perm), dtype=np.uint64)
        for i, text in enumerate(content):
            n = int(lens[i])
            if n == 0:
                sh_out.append(empty)
                mh_out.append(mh_empty)
            else:
                h = all_h[offsets[i] : offsets[i + 1]]
                if n < k:
                    acc = h[:1].copy()
                    for j in range(1, n):
                        acc = acc * A + h[j : j + 1]
                else:
                    m = n - k + 1
                    acc = h[:m].copy()
                    for j in range(1, k):
                        acc = acc * A + h[j : j + m]
                # distinct shingles reinterpreted as Spark's signed longs;
                # MinHash and SimHash run over the same uint64 values
                sh = np.unique(acc).astype(np.int64)
                sh_out.append(sh)
                s = sh.astype(np.uint64)
                ns = len(s)
                if mh_buf.shape[0] < ns:
                    mh_buf = np.empty((ns, num_perm), dtype=np.uint64)
                hashed = mh_buf[:ns]
                np.multiply(s[:, None], a_co[None, :], out=hashed)
                hashed += b_co[None, :]
                mh_out.append(hashed.min(axis=0).astype(np.int64))
                # SimHash bit matrix via unpackbits over the little-endian
                # byte view — 8x less memory traffic than the 64-wide
                # uint64 shift matrix, identical bit values (bit j of s
                # lands in column j exactly as with (s >> j) & 1). The
                # byte-view trick assumes native little-endian; any other
                # host keeps the endian-independent shift kernel so
                # signatures stay identical across architectures.
                if _LITTLE_ENDIAN:
                    bits_m = np.unpackbits(
                        s.view(np.uint8).reshape(ns, 8), axis=1,
                        bitorder="little",
                    )
                    votes = 2 * bits_m.sum(axis=0, dtype=np.int64) - ns
                else:  # pragma: no cover - non-x86 fallback
                    bits_m = (s[:, None] >> bit_idx[None, :]) & np.uint64(1)
                    votes = 2 * bits_m.astype(np.int64).sum(axis=0) - ns
                sig_bits = (votes > 0).astype(np.uint64)
                sim_out[i] = (
                    (sig_bits << bit_idx).sum(dtype=np.uint64).astype(np.int64)
                )
            if with_fp:
                if (
                    text
                    and len(text.encode("utf-8", errors="ignore"))
                    >= fp_min_bytes
                ):
                    vals, pos = winnow_fingerprints_pos(text, fp_k, fp_w)
                    fp_out.append(vals)
                    pos_out.append(pos)
                else:
                    fp_out.append(empty)
                    pos_out.append(empty32)
        cols = {"shingles": sh_out, "minhash": mh_out, "simhash": sim_out}
        if with_fp:
            cols["fingerprints"] = fp_out
            cols["fp_positions"] = pos_out
        return pd.DataFrame(cols)

    # asNondeterministic stops CollapseProject from inlining the struct into
    # its field references and re-running the UDF per extracted field (same
    # Catalyst double-eval guard as the InDel kernel in operators/verify.py)
    return fused_signature.asNondeterministic()


def with_fused_signatures(
    df: DataFrame,
    k: int = 3,
    num_perm: int = 128,
    seed: int = 42,
    fp_k: int | None = None,
    fp_w: int | None = None,
    fp_min_bytes: int | None = None,
) -> DataFrame:
    """Add all signature columns via the single-pass fused UDF (see
    :func:`make_fused_signature_udf`). With ``fp_k`` set, also adds
    ``fingerprints`` (with the winnowing-parameter metadata, whose ``fp_k``
    ``verify_substring_pairs`` reads) and ``fp_positions``.

    The three fingerprint knobs travel together: a partial set would only
    fail deep inside the executor UDF (TypeError on a None comparison), so
    it is rejected eagerly here (ADVICE r6).
    """
    fp_args = (fp_k, fp_w, fp_min_bytes)
    if any(v is not None for v in fp_args) and not all(
        v is not None for v in fp_args
    ):
        raise ValueError(
            "fp_k, fp_w and fp_min_bytes must be set together "
            f"(got fp_k={fp_k}, fp_w={fp_w}, fp_min_bytes={fp_min_bytes})"
        )
    udf = make_fused_signature_udf(k, num_perm, seed, fp_k, fp_w, fp_min_bytes)
    cols = {
        "shingles": F.col("_sig.shingles"),
        "n_shingles": F.size("_sig.shingles"),
        "minhash": F.col("_sig.minhash"),
        "simhash": F.col("_sig.simhash"),
    }
    if fp_k is not None:
        cols["fingerprints"] = F.col("_sig.fingerprints").alias(
            "fingerprints",
            metadata={
                "fp_k": fp_k, "fp_w": fp_w, "fp_min_bytes": fp_min_bytes,
            },
        )
        cols["fp_positions"] = F.col("_sig.fp_positions")
    return df.withColumn("_sig", udf("content")).withColumns(cols).drop("_sig")


def pack_band_keys(bands: int, rows: int) -> Column:
    """``array<long>`` of per-band keys: xxhash64 over each band's slice of
    the minhash signature (JVM-side; ready for posexplode)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda band: F.xxhash64(band, F.slice("minhash", band * rows + 1, rows)),
    )
