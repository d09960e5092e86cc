"""Similarity search over embedding columns (array<float>).

Spark analog of the reference's vector-similarity searcher (SURVEY.md §2.1
S6 — ``SimilaritySearcher.compare`` = cosine of pooled vectors,
``similaritysearcher.py:26-54``), generalized to table scale:

- ``cosine_topk``        exact brute-force top-k neighbors (the baseline):
  a broadcast cross-join of the query set against the corpus with the dot
  product computed JVM-side (``aggregate(zip_with(...))`` — interpreted
  higher-order functions, no Python), then a per-query window top-k.
- ``cosine_neardup_pairs`` exact all-pairs cosine >= threshold (self-join
  form of the same plan). Both exact operators are DuckDB-oracle-gated
  (``queries.q_emb_topk`` / ``q_emb_neardup``).
- ``lsh_cosine_pairs`` / ``lsh_cosine_topk`` the scale paths:
  random-hyperplane LSH — sign-bit keys computed in one vectorized numpy
  pandas UDF, multi-table bucket join, exact cosine re-verification.
  Verified output ⊆ exact output with tunable recall (more tables/narrower
  bands -> higher recall).
- ``ivf_cosine_topk``    inverted-file top-k over trained centroids.

All cosine arithmetic is done on L2-normalized vectors so the dot product
IS the cosine. ``_normalized`` projects each row's norm once, in its own
Project below the division, so the per-element divide does not recompute
it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.layout import ensure_min_partitions
from .lsh import pairs_from_buckets

__all__ = [
    "dot",
    "cosine_topk",
    "cosine_neardup_pairs",
    "lsh_cosine_pairs",
    "lsh_cosine_topk",
    "train_ivf_centroids",
    "ivf_cosine_topk",
]


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<double|float> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _normalized(docs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, nvec): the double-cast vector divided by its L2 norm (zero
    vectors pass through unchanged). ``norm`` is projected on its own and
    referenced twice below, so CollapseProject keeps it out of the
    ``transform`` lambda: one O(dim) norm per row, not one per element.
    The array cast is a codegen'd ``Cast`` and the norm a single
    ``aggregate`` (``acc + x * x``, the same left-to-right double sum as
    ``dot(v, v)``), so only two interpreted higher-order passes touch each
    element."""
    v = docs.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    sq = F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)
    norm = F.col("norm")
    return v.withColumn("norm", F.sqrt(sq)).select(
        "vec_id",
        F.when(norm > 0, F.transform("v", lambda x: x / norm))
        .otherwise(F.col("v"))
        .alias("nvec"),
    )


def _query_side(queries: DataFrame, query_id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qvec): the normalized query vectors."""
    return _normalized(queries, query_id_col, vec_col).withColumnsRenamed(
        {"vec_id": "query_id", "nvec": "qvec"}
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, cosine) rows; ties broken
    by neighbor id for determinism."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _score_topk(cand: DataFrame, q: DataFrame, c: DataFrame, k: int) -> DataFrame:
    """Exact cosine of every (query_id, neighbor_id) candidate, then the
    per-query top-k — the tail of both approximate top-k operators."""
    scored = (
        cand.join(q, "query_id")
        .join(c.withColumnsRenamed({"vec_id": "neighbor_id"}), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot("nvec", "qvec"), 6).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


def _pair_sides(n: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The a and b sides of a pair join over normalized vectors."""
    return (
        n.withColumnsRenamed({"vec_id": "a_id", "nvec": "a_vec"}),
        n.withColumnsRenamed({"vec_id": "b_id", "nvec": "b_vec"}),
    )


def _threshold_pairs(joined: DataFrame, threshold: float) -> DataFrame:
    """(a_id, b_id, cosine) of joined pair rows with cosine >= threshold."""
    return (
        joined.withColumn("cosine", F.round(dot("a_vec", "b_vec"), 6))
        .where(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )


def _dim(df: DataFrame, vec_col: str) -> int:
    """Vector width, read from the first row."""
    return int(df.select(F.size(vec_col).alias("d")).first()["d"])


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: broadcast the (small) query side against the corpus — a map-side
    nested-loop with JVM-side dot products, no shuffle of the corpus — then
    one shuffle for the per-query top-k window. Ties broken by neighbor id
    for determinism. Output: (query_id, neighbor_id, cosine, rank).
    Pass ``exclude_self=False`` when the query table's ids live in a
    different namespace than the corpus ids (an id collision is then an
    unrelated vector, not a self-match).
    """
    c = _normalized(corpus, id_col, vec_col)
    q = _query_side(queries, query_id_col, vec_col)
    join_cond = (
        F.col("vec_id") != F.col("query_id") if exclude_self else F.lit(True)
    )
    scored = c.join(F.broadcast(q), join_cond).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot("nvec", "qvec"), 6).alias("cosine"),
    )
    return _rank_topk(scored, k)


def cosine_neardup_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (embedding near-dup baseline).

    O(n²) dot products — correct at any scale but quadratic; use
    :func:`lsh_cosine_pairs` for large corpora. The self-join broadcasts one
    side when small enough (AQE decides). Output: (a_id, b_id, cosine).
    """
    a, b = _pair_sides(_normalized(docs, id_col, vec_col))
    return _threshold_pairs(a.join(b, F.col("a_id") < F.col("b_id")), threshold)


# Corpora whose inverted index (~16 B per (key, id) entry, entries_per_row
# entries per corpus row) is below this many bytes broadcast their grouped
# index in the top-k candidate stage instead of shuffle-joining exploded
# bucket rows — see lsh_cosine_topk. The value mirrors the order of
# magnitude of Spark's own broadcast threshold reasoning.
ANN_BROADCAST_INDEX_BYTES = 32 << 20


def _index_fits_broadcast(
    corpus: DataFrame, id_col: str, entries_per_row: int
) -> bool:
    """Gate the broadcast-index plan on the size of the INDEX (rows x
    entries_per_row x ~16 B per (key, id) entry), not the raw corpus bytes
    — a low-dim corpus can be small on disk while its multi-table inverted
    index is large, and vice versa. The row count is one job over the id
    column (a metadata scan on parquet)."""
    rows = corpus.select(id_col).count()
    return rows * entries_per_row * 16 <= ANN_BROADCAST_INDEX_BYTES


def _vector_matrix(vecs: pd.Series, dim: int) -> np.ndarray:
    """(batch, dim) float64 matrix of an Arrow batch of vectors; a null
    vector becomes a zero row."""
    return np.stack(
        [np.asarray(v, dtype=np.float64) if v is not None else
         np.zeros(dim) for v in vecs]
    )


def _mix_table_keys(keys: np.ndarray, n_tables: int) -> np.ndarray:
    """Mix the table index into per-table keys so buckets from different
    tables never collide. ``keys`` has shape (..., n_tables)."""
    return keys * np.int64(n_tables + 1) + np.arange(n_tables, dtype=np.int64)


def make_hyperplane_probe_udf(dim: int, n_bits: int = 8, n_tables: int = 16,
                              seed: int = 42, n_probes: int = 2):
    """pandas UDF: embedding -> array of n_tables*(1+n_probes) bucket keys.

    One numpy matmul per Arrow batch against a deterministic (dim,
    n_tables*n_bits) Gaussian hyperplane matrix (same ``seed`` -> same
    buckets on both join sides); sign bits packed per table into an int64
    key. With ``n_probes=0`` this is the plain one-key-per-table sketch the
    indexed side uses.

    Multiprobe LSH (Lv et al., VLDB'07): besides each table's base bucket,
    probe the buckets reached by flipping the ``n_probes`` sign bits whose
    hyperplane margin is smallest (the bits most likely to disagree between
    true neighbors). Probing multiplies only the *query* side's keys — the
    corpus keeps one key per table — so recall rises without growing the
    indexed side, which is what matters when the corpus is 10^12 rows and
    the query set is small.
    """
    planes = np.random.RandomState(seed).standard_normal(
        (dim, n_tables * n_bits)
    )
    weights = (1 << np.arange(n_bits, dtype=np.int64))
    n_probes = min(n_probes, n_bits)

    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def probe(vecs: pd.Series) -> pd.Series:
        mat = _vector_matrix(vecs, dim)
        proj = (mat @ planes).reshape(len(mat), n_tables, n_bits)
        keys = ((proj > 0) * weights[None, None, :]).sum(axis=2).astype(np.int64)
        all_keys = [keys]
        if n_probes:
            # per (row, table): bit indices ordered by |margin| ascending
            order = np.argsort(np.abs(proj), axis=2)
            for pi in range(n_probes):
                flip = order[:, :, pi].astype(np.int64)
                all_keys.append(keys ^ (np.int64(1) << flip))
        stacked = np.stack(all_keys, axis=2)  # (batch, tables, 1+probes)
        mixed = _mix_table_keys(stacked.transpose(0, 2, 1), n_tables)
        return pd.Series(list(mixed.reshape(len(mat), -1)))

    return probe


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    *,
    k: int = 10,
    n_bits: int = 8,
    n_tables: int = 16,
    n_probes: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via multiprobe hyperplane LSH.

    The scale path for :func:`cosine_topk` (which is O(|corpus|·|queries|)
    brute force): the corpus is sketched once into ``n_tables`` sign-bucket
    keys, each query probes its base bucket plus ``n_probes`` low-margin
    bit-flips per table, candidates are the bucket-join union, and exact
    cosine + a per-query window picks the top k. Emitted neighbors are
    exactly scored, so results are a subset of the exact top-k's candidate
    universe — recall (fraction of true top-k recovered) is tuned by
    (n_bits, n_tables, n_probes): fewer bits = bigger buckets = higher
    recall & cost; more tables/probes = higher recall at linear (table) or
    query-side-only (probe) cost.

    Plan shape at 10^12-row scale: one narrow sketch stage per side, one
    shuffle on the bucket key (AQE skew-join handles hot buckets), one
    shuffle for the per-query top-k window. Nothing is broadcast and the
    corpus is never crossed with itself.

    Output: (query_id, neighbor_id, cosine, rank) — possibly fewer than k
    rows per query when recall misses. ``exclude_self`` (default: only when
    the corpus queries itself) drops query_id == neighbor_id rows; with a
    separate query table the ids live in different namespaces, so an
    accidental id collision must NOT suppress a real neighbor.
    """
    if exclude_self is None:
        exclude_self = queries is None
    q_src = corpus if queries is None else queries
    dim = _dim(corpus, vec_col)

    c = _normalized(corpus, id_col, vec_col)
    q = _query_side(q_src, query_id_col or id_col, vec_col)
    sketch = make_hyperplane_probe_udf(dim, n_bits, n_tables, seed, 0)
    probe = make_hyperplane_probe_udf(dim, n_bits, n_tables, seed, n_probes)
    c_buckets = c.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(sketch("nvec")).alias("bucket_key"),
    )
    q_buckets = q.select(
        "query_id", F.explode(probe("qvec")).alias("bucket_key")
    )
    if _index_fits_broadcast(corpus, id_col, n_tables):
        # Broadcast-index plan (r7, guide §3.1/§2.4): with a dense bucket
        # config the exploded bucket join emits tables*(1+probes)*|bucket|
        # rows per query (24.5M rows for 2,000 vectors at the production
        # tuning) and the pair-level distinct then shuffles them — pure
        # overhead when the whole inverted index fits in a broadcast.
        # Instead: group the corpus side ONCE into (bucket_key, members),
        # broadcast it, repartition only the slim probe rows by query_id
        # (a few MB), and dedupe per query with array_distinct — the
        # candidate SET is provably identical (union over probed buckets'
        # members), no pair-level row ever crosses an exchange, and the
        # query_id hash layout is reused by the top-k window below (no
        # further exchange). Large corpora keep the shuffle plan.
        cb_g = c_buckets.groupBy("bucket_key").agg(
            F.collect_list("neighbor_id").alias("members")
        )
        par = corpus.sparkSession.sparkContext.defaultParallelism
        cand = (
            q_buckets.repartition(par, "query_id")
            .join(F.broadcast(cb_g), "bucket_key")
            .groupBy("query_id")
            .agg(
                F.array_distinct(
                    F.flatten(F.collect_list("members"))
                ).alias("ns")
            )
            .select("query_id", F.explode("ns").alias("neighbor_id"))
        )
    else:
        cand = (
            q_buckets.join(c_buckets, "bucket_key")
            .select("query_id", "neighbor_id")
            .distinct()
        )
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    return _score_topk(cand, q, c, k)


def lsh_cosine_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.95,
    n_bits: int = 16,
    n_tables: int = 8,
    seed: int = 42,
    bucket_cap: int = 1024,
    star_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via random-hyperplane LSH + exact cosine verify.

    Recall at cosine s: 1 - (1 - p^n_bits)^n_tables with
    p = 1 - arccos(s)/π; at s=0.95 and (16 bits, 8 tables) ≈ 0.97.
    Every emitted pair is exactly verified, so precision is exact.

    ``star_cap`` passes through to :func:`pairs_from_buckets`: buckets
    larger than it degrade to linear star expansion (losing non-star
    pairs). Callers relying on the recall-by-config equality argument
    (e.g. the ``emb_lsh_ann`` oracle) must raise BOTH caps above the
    corpus size, otherwise the probabilistic recall bound silently stops
    holding for mega-buckets.
    """
    sketch = make_hyperplane_probe_udf(
        _dim(docs, vec_col), n_bits, n_tables, seed, 0
    )
    # single-file inputs scan as one partition, serializing the sketch UDF
    n = _normalized(ensure_min_partitions(docs), id_col, vec_col)
    buckets = n.select(
        F.col("vec_id").alias("file_id"),
        F.explode(sketch("nvec")).alias("bucket_key"),
    )
    cand = pairs_from_buckets(buckets, bucket_cap, star_cap).distinct()
    a, b = _pair_sides(n)
    return _threshold_pairs(cand.join(a, "a_id").join(b, "b_id"), threshold)


def train_ivf_centroids(
    docs: DataFrame,
    n_cells: int = 64,
    *,
    sample_size: int = 20_000,
    n_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train spherical-kmeans IVF centroids on a bounded sample.

    The standard IVF recipe: the coarse quantizer is trained driver-side on
    a BOUNDED sample (collect is capped at ``sample_size`` rows regardless
    of corpus size — this is the one legitimate driver-side step in the
    index build), then broadcast for distributed assignment. The sample is
    a seeded RANDOM sample, not first-N: on a corpus sorted/clustered by
    source or language, ``limit`` alone would train every centroid on one
    region of the space and recall would collapse elsewhere. The sample is
    drawn by ordering on a seeded hash of the id and taking the top
    ``sample_size`` — an exactly-uniform deterministic permutation prefix
    that Spark executes as per-partition top-N + driver merge (no full
    sort, no extra count job; ``df.sample(fraction)`` would need a count
    and its first-N prefix is still partition-order biased). Deterministic
    given (seed, input data). Returns an L2-normalized (n_cells, dim)
    float64 matrix.
    """
    n = _normalized(docs, id_col, vec_col)
    sample = [
        np.asarray(r["nvec"], dtype=np.float64)
        for r in (
            n.orderBy(F.xxhash64(F.col("vec_id").cast("string"), F.lit(seed)))
            .limit(sample_size)
            .collect()
        )
    ]
    mat = np.stack(sample)
    rng = np.random.RandomState(seed)
    n_cells = min(n_cells, len(mat))
    centroids = mat[rng.choice(len(mat), size=n_cells, replace=False)]
    for _ in range(n_iters):
        assign = (mat @ centroids.T).argmax(axis=1)
        for c in range(n_cells):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        norms = np.linalg.norm(centroids, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        centroids = centroids / norms
    return centroids


def _make_cell_udf(centroids: np.ndarray, n_probe: int = 1):
    """pandas UDF: normalized vector -> its top-``n_probe`` centroid ids."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        sims = _vector_matrix(vecs, centroids.shape[1]) @ centroids.T
        if n_probe == 1:
            best = sims.argmax(axis=1).astype(np.int32)
            return pd.Series([[int(b)] for b in best])
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return cells


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    *,
    k: int = 10,
    n_cells: int = 64,
    n_probe: int = 4,
    sample_size: int = 20_000,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via an IVF (inverted-file) index.

    The second scale path next to :func:`lsh_cosine_topk` (task brief: "an
    IVF or LSH-bucketed variant"): corpus vectors are assigned to their
    nearest coarse centroid (one cell each — the inverted lists), queries
    probe their ``n_probe`` nearest cells, and only vectors in probed cells
    are exactly scored. Recall is controlled by (n_cells, n_probe):
    expected candidate fraction ≈ n_probe/n_cells of the corpus per query.

    Plan shape: one broadcast-sized centroid matrix inside two pandas UDFs,
    one equi-join on the cell id (the inverted-list lookup — shuffles only
    probed cells), exact cosine JVM-side, one window for the top-k.

    ``exclude_self`` follows :func:`lsh_cosine_topk`: self-matches are
    dropped only in corpus-queries-itself mode (or when explicitly asked).
    """
    if exclude_self is None:
        exclude_self = queries is None
    q_src = corpus if queries is None else queries
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_cells, sample_size=sample_size, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    c = _normalized(corpus, id_col, vec_col)
    q = _query_side(q_src, query_id_col or id_col, vec_col)
    assign_udf = _make_cell_udf(centroids, 1)
    probe_udf = _make_cell_udf(centroids, n_probe)
    c_cells = c.select(
        F.col("vec_id").alias("neighbor_id"),
        F.get(assign_udf("nvec"), 0).alias("cell"),
    )
    q_cells = q.select("query_id", F.explode(probe_udf("qvec")).alias("cell"))
    if _index_fits_broadcast(corpus, id_col, 1):
        # Broadcast-inverted-lists plan (r7): the cell join has at most
        # n_cells distinct keys, so the shuffle plan caps parallelism at
        # n_cells and is skew-prone (hot cells). When the corpus fits the
        # broadcast budget, group the inverted lists once (n_cells rows),
        # broadcast them, and repartition only the slim probe rows by
        # query_id — cells are disjoint (one per corpus vector) and probes
        # are distinct, so exploding members reproduces exactly the same
        # candidate rows with no pair-level exchange; the query_id layout
        # is reused by the top-k window (no further exchange).
        cc_g = c_cells.groupBy("cell").agg(
            F.collect_list("neighbor_id").alias("members")
        )
        par = corpus.sparkSession.sparkContext.defaultParallelism
        cand = (
            q_cells.repartition(par, "query_id")
            .join(F.broadcast(cc_g), "cell")
            .select("query_id", F.explode("members").alias("neighbor_id"))
        )
    else:
        cand = q_cells.join(c_cells, "cell")
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    return _score_topk(cand.select("query_id", "neighbor_id"), q, c, k)
