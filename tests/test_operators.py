"""Unit tests for standalone operators: dedup, ANN, matcher, text, multimodal."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spaczz_spark.functions.text import (
    doc_fingerprint,
    make_lang_id_udf,
    quality_score,
    token_count,
    word_stats,
)
from spaczz_spark.operators.ann import cosine_neardup_pairs, cosine_topk, lsh_cosine_pairs
from spaczz_spark.operators.components import attach_components, connected_components
from spaczz_spark.operators.dedup import (
    exact_duplicates,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
)
from spaczz_spark.operators.matcher import Pattern, match_patterns, ruler
from spaczz_spark.operators.multimodal import decode_images, with_media_metadata

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs far away"),
        (2, "the quick brown fox jumps over the lazy dog and runs far away"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog and runs far away"),  # near dup
        (4, "completely different text about spark dataframes and shuffles"),
        (5, "My phone number is (555) 555-5555, call me"),
        (6, "G-rant Anderson lives in TN with grant anderson"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, docs):
    out = exact_duplicates(docs).collect()
    assert {(r["group_id"], r["doc_id"]) for r in out} == {(1, 1), (1, 2)}
    assert all(r["group_size"] == 2 for r in out)


def test_ngram_jaccard_pairs(spark, docs):
    out = ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in out}
    assert (1, 2) in pairs  # exact
    assert (1, 3) in pairs and (2, 3) in pairs  # near
    assert not any(4 in p for p in pairs)
    exact = [r for r in out if (r["a_id"], r["b_id"]) == (1, 2)][0]
    assert exact["jaccard"] == 1.0


def test_minhash_equals_bruteforce(spark, docs):
    brute = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in minhash_neardup_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert brute == lsh


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 12)], ["a_id", "b_id"]
    )
    labels, iters = connected_components(edges)
    got = {r["file_id"]: r["component_id"] for r in labels.collect()}
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[10] == got[11] == 10
    assert iters <= 5


def _union_find_labels(edges):
    """Min node of each component, by union-find over the non-self-loop
    edges (the roots are always merged onto the smaller one)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _random_edges(seed):
    """Sparse random graph with duplicate edges in both orientations and
    self-loops."""
    import random

    rng = random.Random(seed)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    dups = rng.sample(edges, 60)
    return edges + dups + [(b, a) for a, b in dups] + [(7, 7), (401, 401)]


def _hub_edges():
    """One hub with 4,999 neighbours (more than 4,096) in both orientations
    and a 40-node path hanging off one neighbour, so the minimum label has
    to travel several rounds."""
    hub = 2500
    edges = [(hub, x) if x % 2 else (x, hub) for x in range(5000) if x != hub]
    path = list(range(10_000, 10_040))
    return edges + [(4999, path[0])] + list(zip(path[1:], path[:-1]))


@pytest.mark.parametrize(
    "edges",
    [_random_edges(1), _random_edges(2), _hub_edges(), []],
    ids=["random-1", "random-2", "hub", "empty"],
)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    labels, _ = connected_components(df)
    rows = [(r["file_id"], r["component_id"]) for r in labels.collect()]
    assert len(rows) == len({f for f, _ in rows})
    assert dict(rows) == _union_find_labels(edges)


def test_attach_components_singletons(spark):
    ids = spark.createDataFrame([(1,), (2,), (99,)], ["file_id"])
    labels = spark.createDataFrame([(2, 1)], ["file_id", "component_id"])
    got = {
        r["file_id"]: r["component_id"]
        for r in attach_components(ids, labels).collect()
    }
    assert got == {1: 1, 2: 1, 99: 99}


def test_cosine_topk(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [2.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    out = cosine_topk(vecs, vecs, k=1).collect()
    best = {r["query_id"]: r["neighbor_id"] for r in out}
    assert best[1] == 4  # same direction, normalized
    assert best[4] == 1
    assert best[3] == 2  # only one with positive y component


def test_normalized_matches_per_row_reference_and_projects_norm_once(spark):
    """Every cosine operator scores ``_normalized`` vectors. At dim 768 they
    must equal, bit for bit, a per-row reference with the same arithmetic
    order (cast to double, multiply, left-to-right sum from 0.0, sqrt,
    divide; zero vectors pass through). The norm must be its own projected
    column: the expression that divides by it carries no ``zip_with``,
    i.e. the O(dim) norm is not recomputed once per element."""
    import io
    import math
    from contextlib import redirect_stdout

    import numpy as np

    from spaczz_spark.operators.ann import _normalized

    dim = 768
    rng = np.random.RandomState(31)
    mat = rng.standard_normal((24, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(mat)]
    rows.append((len(rows), [0.0] * dim))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def reference(vec):
        acc = 0.0
        for x in vec:
            acc += x * x
        norm = math.sqrt(acc)
        return [x / norm for x in vec] if norm > 0 else list(vec)

    n = _normalized(df, "vec_id", "embedding")
    got = {r["vec_id"]: r["nvec"] for r in n.collect()}
    assert len(got) == len(rows)
    for i, vec in rows:
        assert got[i] == reference(vec), i
    assert got[len(rows) - 1] == [0.0] * dim

    buf = io.StringIO()
    with redirect_stdout(buf):
        n.explain("formatted")
    nvec_lines = [ln for ln in buf.getvalue().splitlines() if " AS nvec#" in ln]
    assert len(nvec_lines) == 1, nvec_lines
    assert "/ norm#" in nvec_lines[0], nvec_lines[0]
    assert "zip_with" not in nvec_lines[0], nvec_lines[0]


def test_cosine_neardup_and_lsh_agree(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((20, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # plant a near-dup of every 4th vector
        if i % 4 == 0:
            rows.append((100 + i, [float(x) for x in v + rng.standard_normal(16) * 0.01]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r["a_id"], r["b_id"]) for r in cosine_neardup_pairs(df, threshold=0.98).collect()
    }
    approx = {
        (r["a_id"], r["b_id"])
        for r in lsh_cosine_pairs(df, threshold=0.98, n_bits=8, n_tables=16).collect()
    }
    assert approx <= exact
    assert len(approx) >= 0.9 * len(exact)


def test_match_patterns_fuzzy_and_regex(spark, docs):
    patterns = [
        Pattern("NAME", "Grant Andersen", "fuzzy", {"min_r": 75}),
        Pattern("PHONE", "phones", "regex", {"predef": True}),
    ]
    out = match_patterns(docs, patterns).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    assert len(by_label["PHONE"]) == 1 and by_label["PHONE"][0]["doc_id"] == 5
    assert {r["doc_id"] for r in by_label["NAME"]} == {6}
    assert len(by_label["NAME"]) == 2  # "G-rant Anderson" + "grant anderson"


def test_ruler_resolves_overlaps(spark):
    docs = spark.createDataFrame(
        [(1, "grant andersen visited boston")], ["doc_id", "text"]
    )
    patterns = [
        Pattern("NAME", "grant andersen", "fuzzy", {"min_r": 75}),
        Pattern("FIRST", "grant", "fuzzy", {"min_r": 75}),
    ]
    out = ruler(docs, patterns).collect()
    # longest span wins; FIRST overlaps and is dropped
    assert len(out) == 1 and out[0]["label"] == "NAME"


def test_text_functions(spark, docs):
    out = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tok"),
        quality_score(word_stats(F.col("text"))).alias("q"),
        doc_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["n_tok"] == 13
    assert rows[1]["fp"] == rows[2]["fp"]  # identical docs
    assert rows[1]["fp"] != rows[4]["fp"]
    assert 0.0 <= rows[4]["q"] <= 1.0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the thing and the other thing for the winner"),
            (2, "der einzige schöne Wagen und die schnelle Straße ich dich"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    udf = make_lang_id_udf()
    got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", udf("text").alias("lang")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"


def test_multimodal_fake_decode(spark):
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"imagebytes-1"), "image/png"),
         (2, "image", bytearray(b"imagebytes-two"), "image/png")],
        ["media_id", "kind", "data", "mime"],
    )
    meta = with_media_metadata(df).collect()
    assert all(r["n_bytes"] > 0 and len(r["sha256"]) == 64 for r in meta)
    decoded = decode_images(df, fake=True).collect()
    assert len(decoded) == 2
    d = {r["media_id"]: r for r in decoded}
    assert 64 <= d[1]["width"] < 256 and d[1]["n_bytes"] == 12
    # deterministic
    decoded2 = decode_images(df, fake=True).collect()
    assert sorted(map(tuple, decoded)) == sorted(map(tuple, decoded2))


def test_lsh_cosine_topk_recall(spark):
    """Multiprobe LSH top-k recalls >= 0.95 of the exact top-k neighbor
    pairs, and every emitted (query, neighbor, cosine) is exactly scored
    (subset of the exact candidate universe)."""
    import numpy as np

    from spaczz_spark.operators.ann import lsh_cosine_topk

    rng = np.random.RandomState(11)
    mat = rng.standard_normal((120, 16))
    # plant clusters so top-k neighbors are meaningful, not noise-level
    for i in range(0, 120, 3):
        mat[i + 1] = mat[i] + rng.standard_normal(16) * 0.15
        mat[i + 2] = mat[i] + rng.standard_normal(16) * 0.3
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
        ["vec_id", "embedding"],
    )
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(df, df, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in lsh_cosine_topk(
            df, k=3, n_bits=4, n_tables=24, n_probes=2
        ).collect()
    }
    hit = sum(1 for k in exact if k in approx)
    assert hit / len(exact) >= 0.95, hit / len(exact)
    # every recalled pair carries the exact cosine (verified, not sketched)
    for k, v in approx.items():
        if k in exact:
            assert v == exact[k]


def test_lsh_cosine_topk_separate_query_table(spark):
    """Corpus/query split: neighbors come from the corpus side only."""
    from spaczz_spark.operators.ann import lsh_cosine_topk

    corpus = spark.createDataFrame(
        [(i, [1.0 * (i == j) for j in range(4)]) for i in range(4)],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    out = lsh_cosine_topk(
        corpus, queries, k=2, n_bits=2, n_tables=8, n_probes=2
    ).collect()
    assert all(r["query_id"] == 100 for r in out)
    assert all(r["neighbor_id"] in (0, 1, 2, 3) for r in out)
    assert out and out[0]["neighbor_id"] == 0  # e0 is the nearest


def test_levenshtein_ratio_registry():
    """Engine-extension 'levenshtein' fuzzy func: integer-exact formula."""
    from spaczz_spark.ratios import compare, levenshtein_ratio

    assert levenshtein_ratio("customer", "custmer") == 88.0  # (200*7+8)//16
    assert levenshtein_ratio("vector", "vectr") == 83.0
    assert levenshtein_ratio("", "") == 100.0
    assert levenshtein_ratio("abc", "") == 0.0
    assert compare("custmer", "customer", fuzzy_func="levenshtein", min_r=80) == 88
    assert compare("custmer", "column", fuzzy_func="levenshtein", min_r=80) == 0


def test_parse_image_dims_golden():
    """Pure-header decoder golden values for all supported containers."""
    import struct
    import zlib

    from spaczz_spark.operators.multimodal import parse_image_dims

    chunk = b"IHDR" + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00"
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + chunk
           + struct.pack(">I", zlib.crc32(chunk)))
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00;"
    bmp = (b"BM" + struct.pack("<I", 54) + b"\x00\x00\x00\x00"
           + struct.pack("<I", 54) + struct.pack("<I", 40)
           + struct.pack("<ii", 800, -600) + struct.pack("<HH", 1, 24)
           + b"\x00" * 24)
    app0 = (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HH", 1, 1) + b"\x00\x00")
    sof2 = (b"\xff\xc2" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 768, 1024) + b"\x03"
            + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01")
    jpg = b"\xff\xd8" + app0 + sof2 + b"\xff\xd9"

    assert parse_image_dims(png) == ("png", 640, 480)
    assert parse_image_dims(gif) == ("gif", 320, 200)
    assert parse_image_dims(bmp) == ("bmp", 800, 600)  # top-down -> abs
    assert parse_image_dims(jpg) == ("jpeg", 1024, 768)
    assert parse_image_dims(b"garbage") == (None, None, None)
    assert parse_image_dims(png[:12]) == (None, None, None)
    assert parse_image_dims(b"") == (None, None, None)


def test_decode_images_real_headers(spark):
    """decode_images(fake=False) parses the committed media fixture and
    matches its stored true metadata, with NULLs for corrupt blobs."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "media_small", "media.parquet",
    )
    media = spark.read.parquet(path)
    got = {r["media_id"]: r for r in decode_images(media).collect()}
    want = {r["media_id"]: r for r in media.collect()}
    assert len(got) == len(want)
    for mid, w in want.items():
        g = got[mid]
        assert g["format"] == w["true_format"]
        assert g["width"] == w["true_width"]
        assert g["height"] == w["true_height"]
        assert g["n_bytes"] == len(bytes(w["data"]))


def test_containment_pairs_winnowed_recall(spark):
    """Winnowed containment: output equals brute-force `in` containment
    (perfect recall via the first-window-min anchor), with ~w x fewer host
    anchor rows than the every-position form."""
    import random

    from spaczz_spark.operators.substring import containment_pairs

    rng = random.Random(3)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    def text(n): return " ".join(rng.choice(words) for _ in range(n))
    needles = [text(60) for _ in range(4)]           # ~350+ chars each
    needles.append(                                   # multi-byte: chars < bytes
        " ".join(rng.choice(["αλφα", "βήτα", "日本語", "naïve"]) for _ in range(60))
    )
    needles.append(text(60)[:200])                    # exactly min_len chars
    twin = text(70)
    hosts = [
        text(40) + " " + needles[0] + " " + text(40),
        needles[1] + " " + text(80),                  # prefix containment
        text(80) + " " + needles[2],                  # suffix containment
        text(200),                                    # no containment
        # the needle's first 96 bytes appear before the true embedding
        text(20) + " " + needles[3][:96] + " " + text(30) + " "
        + needles[3] + " " + text(10),
        text(30) + " " + needles[4] + " " + text(30),
        text(30) + " " + needles[5] + " " + text(30),
        twin,                                         # identical equal-length
        twin,                                         # twins: never a pair
    ]
    rows = [(i, t) for i, t in enumerate(needles)] + [
        (100 + i, t) for i, t in enumerate(hosts)
    ]
    assert len(needles[4].encode()) > len(needles[4]) >= 200
    assert len(needles[5]) == 200
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["a_id"], r["b_id"])
        for r in containment_pairs(df, min_len=200).collect()
    }
    want = {
        (a, b)
        for a, ta in rows
        for b, tb in rows
        if a != b and len(ta) >= 200 and len(ta) < len(tb) and ta in tb
    }
    assert got == want
    assert {(0, 100), (1, 101), (2, 102), (3, 104), (4, 105), (5, 106)} <= want
    assert (107, 108) not in got and (108, 107) not in got

    # host anchor volume: winnowed rows << one-per-position
    from spaczz_spark.operators.substring import winnow_fingerprints_pos
    for _, t in rows:
        n_positions = max(len(t.encode()) - 63, 1)
        n_winnowed = len(winnow_fingerprints_pos(t, 64, 32)[0])
        # expected density ~2/(w+1); allow headroom for repeated-text minima
        assert n_winnowed <= max(3.5 * n_positions / 32 + 4, 6), (
            n_winnowed, n_positions
        )


def test_files_components_query_leaves_no_cache(spark):
    """Building q_files_components must not register a cached plan: a
    second build of the same query reads its input fresh, not the first
    build's cached blocks (no InMemoryTableScan in its physical plan)."""
    from spaczz_spark.queries import q_files_components

    q_files_components(spark, "sf0.001").count()
    second = q_files_components(spark, "sf0.001")
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan


def test_ivf_cosine_topk_recall(spark):
    """IVF top-k: recall >= 0.9 of the exact top-k with generous probing,
    exact cosines on everything emitted, deterministic given the seed."""
    import numpy as np

    from spaczz_spark.operators.ann import ivf_cosine_topk, train_ivf_centroids

    rng = np.random.RandomState(17)
    mat = rng.standard_normal((150, 16))
    for i in range(0, 150, 3):
        mat[i + 1] = mat[i] + rng.standard_normal(16) * 0.15
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
        ["vec_id", "embedding"],
    )
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(df, df, k=3).collect()
    }
    cents = train_ivf_centroids(df, n_cells=12, seed=5)
    assert cents.shape == (12, 16)
    approx = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in ivf_cosine_topk(
            df, k=3, n_cells=12, n_probe=6, seed=5, centroids=cents
        ).collect()
    }
    hit = sum(1 for key in exact if key in approx)
    assert hit / len(exact) >= 0.9, hit / len(exact)
    for key, v in approx.items():
        if key in exact:
            assert v == exact[key]


def test_media_feature_extraction(spark):
    """extract_features: header dims + compression stats, NULLs for
    corrupt blobs; entropy goldens (constant bytes -> 0, varied -> high).
    resize_images computes fit-to-max-side targets (fake passthrough)."""
    import os

    from spaczz_spark.operators.multimodal import extract_features, resize_images

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "media_small", "media.parquet",
    )
    media = spark.read.parquet(path)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    truth = {r["media_id"]: r for r in media.collect()}
    for mid, t in truth.items():
        f = feats[mid]
        assert f["format"] == t["true_format"]
        if t["true_width"]:
            assert f["aspect_ratio"] == round(t["true_width"] / t["true_height"], 6)
            assert f["bytes_per_pixel"] is not None
        else:
            assert f["aspect_ratio"] is None

    flat = spark.createDataFrame(
        [(1, "image", bytearray(b"\x00" * 4096), "x"),
         (2, "image", bytearray(bytes(range(256)) * 16), "x")],
        ["media_id", "kind", "data", "mime"],
    )
    ent = {r["media_id"]: r["byte_entropy"] for r in extract_features(flat).collect()}
    assert ent[1] == 0.0          # constant bytes: zero entropy
    assert ent[2] == 8.0          # uniform byte distribution: 8 bits

    rz = {r["media_id"]: r for r in resize_images(media, max_side=100, fake=True).collect()}
    for mid, t in truth.items():
        r = rz[mid]
        if t["true_width"]:
            assert max(r["target_width"], r["target_height"]) <= 100 or (
                max(t["true_width"], t["true_height"]) <= 100
                and r["target_width"] == t["true_width"]
            )
        else:
            assert r["target_width"] is None


def test_ivf_training_sample_is_random_not_prefix(spark):
    """Round-3 advice: the IVF training sample must be a seeded RANDOM
    sample. On a corpus SORTED by cluster (all of region A before region
    B) a first-N `.limit` sample trains every centroid on region A and
    recall collapses on B — the random sample must place centroids in
    both regions and keep recall >= 0.9 overall."""
    import numpy as np

    from spaczz_spark.operators.ann import ivf_cosine_topk, train_ivf_centroids

    rng = np.random.RandomState(23)
    center_a = rng.standard_normal(16)
    center_b = rng.standard_normal(16)
    rows = []
    # 300 region-A vectors first (ids 0..299), then 100 region-B
    for i in range(300):
        rows.append((i, [float(x) for x in center_a + rng.standard_normal(16) * 0.2]))
    for i in range(300, 400):
        rows.append((i, [float(x) for x in center_b + rng.standard_normal(16) * 0.2]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(4)

    # sample_size << region-A size: a prefix sample would be 100% region A
    cents = train_ivf_centroids(df, n_cells=8, sample_size=100, seed=9)
    nb = center_b / np.linalg.norm(center_b)
    assert (cents @ nb).max() > 0.8, "no centroid near region B: sample was a prefix"

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df, df, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_cosine_topk(
            df, k=3, n_cells=8, n_probe=3, sample_size=100, seed=9,
            centroids=cents,
        ).collect()
    }
    hit = len(exact & approx)
    assert hit / len(exact) >= 0.9, hit / len(exact)


def test_ann_id_collision_not_excluded_with_separate_queries(spark):
    """Round-3 advice: with a SEPARATE query table, ids live in different
    namespaces — a corpus row whose id collides with a query id must still
    be returned as a neighbor (self-exclusion only applies in
    corpus-queries-itself mode)."""
    from spaczz_spark.operators.ann import ivf_cosine_topk, lsh_cosine_topk

    corpus = spark.createDataFrame(
        [(i, [1.0 * (i == j) for j in range(4)]) for i in range(4)],
        ["vec_id", "embedding"],
    )
    # query id 0 collides with corpus id 0, and e0 IS its nearest neighbor
    queries = spark.createDataFrame(
        [(0, [1.0, 0.05, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    out = lsh_cosine_topk(
        corpus, queries, k=2, n_bits=2, n_tables=8, n_probes=2
    ).collect()
    assert any(r["neighbor_id"] == 0 for r in out), out
    out_ivf = ivf_cosine_topk(
        corpus, queries, k=2, n_cells=2, n_probe=2, seed=3
    ).collect()
    assert any(r["neighbor_id"] == 0 for r in out_ivf), out_ivf
    # exact path: exclude_self=False keeps the colliding neighbor too
    out_exact = cosine_topk(corpus, queries, k=2, exclude_self=False).collect()
    assert any(r["neighbor_id"] == 0 for r in out_exact), out_exact
    # corpus-queries-itself mode still drops true self-matches
    self_out = lsh_cosine_topk(corpus, k=2, n_bits=2, n_tables=8).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in self_out)


def test_media_backend_validation_script_skips_cleanly():
    """scripts/validate_media_backends.py exits 0 with a SKIP when PIL is
    absent; with PIL it validates real resize + gif frame sampling."""
    import subprocess
    import sys as _sys

    proc = subprocess.run(
        [_sys.executable, "scripts/validate_media_backends.py"],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "SKIP" in proc.stderr or "validated" in proc.stdout


def test_cc_path_graph_converges_logarithmically(spark):
    """Round-3 stress: a 10^5-node scrambled path graph (worst diameter —
    naive label propagation would need ~10^5 rounds). large/small-star
    must converge in O(log n) iterations with flat per-iteration walls,
    labeling every node with the component minimum."""
    import math
    import sys as _sys

    fix = os.path.join(REPO_ROOT, "fixtures", "cc_path", "edges.parquet")
    if not os.path.exists(fix):
        _sys.path.insert(0, os.path.join(REPO_ROOT, "scripts"))
        from make_fixtures import make_ccpath

        make_ccpath()
    edges = spark.read.parquet(fix)
    n = edges.count() + 1
    metrics: dict = {}
    labels, iters = connected_components(edges, max_iter=40, metrics=metrics)
    bound = 2 * math.ceil(math.log2(n))
    assert iters <= bound, (iters, bound)
    agg = labels.agg(
        F.countDistinct("component_id").alias("ncomp"),
        F.count(F.lit(1)).alias("nrows"),
        F.min("component_id").alias("cmin"),
        F.max("component_id").alias("cmax"),
    ).collect()[0]
    assert agg["ncomp"] == 1 and agg["nrows"] == n
    assert agg["cmin"] == agg["cmax"]  # everyone got the single global min
    walls = metrics["iteration_walls"]
    assert len(walls) == iters
    # Wall-clock flatness is a host-load-sensitive property (this shared
    # host varies 2-3x under external neighbor load — BENCH/BASELINE.md),
    # so it is NOT asserted by default: the algorithmic guarantees above
    # (iteration bound, exact labels) are the test. Opt in to the timing
    # assertion on a quiet dedicated host via SPARK_GRAFT_ASSERT_WALLS=1;
    # otherwise a stalled iteration only prints a warning.
    import warnings as _warnings

    med = sorted(walls)[len(walls) // 2]
    flat = max(walls[1:]) <= max(6 * med, 10.0)
    if os.environ.get("SPARK_GRAFT_ASSERT_WALLS") == "1":
        assert flat, walls
    elif not flat:
        _warnings.warn(f"CC iteration walls not flat (host noise?): {walls}")
