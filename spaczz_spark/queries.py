"""Named queries + matching DuckDB oracle SQL (the driver's correctness gate).

Every entry in QUERIES is a (spark, sf_dir) -> DataFrame callable; ORACLES
holds the ANSI-SQL string DuckDB runs over the same inputs (driver
pre-registers views region/nation/customer/supplier/part/orders/lineitem/
events/documents/embeddings; the planted-truth `files` corpus is read via
read_parquet from the committed fixture path).

Design rules that make Spark-vs-DuckDB equality *deterministic*:
- LSH-based queries are always exactly verified, and the banding config is
  chosen so candidate recall at the verify threshold is 1 - O(1e-12) — the
  verified output equals the brute-force oracle.
- double outputs are rounded to 6 (and filters applied on the rounded
  value); money aggregations run in DECIMAL so sums are order-independent.
- every computed column is aliased identically on both sides.
- ordering never matters (the driver hashes order-insensitively); ties in
  top-k are broken by id on both sides.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.signatures import TOKEN_PATTERN
from .functions.text import (
    WORD_PATTERN,
    _STOPWORDS,
    quality_score,
    token_count,
    word_stats,
)
from .operators.ann import cosine_neardup_pairs, cosine_topk, lsh_cosine_pairs
from .operators.components import attach_components, connected_components
from .operators.dedup import (
    exact_duplicates,
    fingerprint_duplicates,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
)
from .operators.matcher import Pattern, ruler
from .operators.substring import (
    containment_pairs,
    substring_candidates,
    verify_substring_pairs,
)
from .streaming.windows import windowed_event_counts

# committed fixtures live next to the package, at the repository root
FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)
US = "\x1f"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def fixture_name(sf_dir: str) -> str:
    return "tiny" if "0.001" in sf_dir else "small"


def _files(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(FIXTURE_ROOT, f"files_{fixture_name(sf_dir)}", "files.parquet")
    return spark.read.parquet(path).withColumn(
        "file_key", F.concat_ws(US, "repo", "path", "commit")
    )


_FILES_SMALL = f"{FIXTURE_ROOT}/files_small/files.parquet"

# Token/shingle fragments shared by several oracles ------------------------

_SQL_TOKS = (
    "SELECT doc_id, regexp_extract_all(lower(text), "
    f"'{TOKEN_PATTERN}') AS t FROM documents"
)

_SQL_SHINGLES = f"""
toks AS ({_SQL_TOKS}),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [concat_ws(chr(31), t[i], t[i+1], t[i+2])
     for i in range(1, greatest(len(t)-2, 1) + 1)])) AS s
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
  FROM sh a JOIN sh b USING (s)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT a_id, b_id,
         round(c / (na.n + nb.n - c), 6) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = a_id
  JOIN sizes nb ON nb.doc_id = b_id
)
"""

# files-corpus SQL fragments (over the committed fixture parquet)

_SQL_FILES = (
    f"SELECT concat_ws(chr(31), repo, path, commit) AS file_key, content, "
    f"length(content) AS len FROM read_parquet('{_FILES_SMALL}')"
)

_SQL_FILES_SHINGLES = f"""
f AS ({_SQL_FILES}),
toks AS (
  SELECT file_key, regexp_extract_all(lower(content), '{TOKEN_PATTERN}') AS t
  FROM f
),
sh AS (
  SELECT file_key, unnest(list_distinct(
    [concat_ws(chr(31), t[i], t[i+1], t[i+2])
     for i in range(1, greatest(len(t)-2, 1) + 1)])) AS s
  FROM toks
),
sizes AS (SELECT file_key, count(*) AS n FROM sh GROUP BY file_key),
inter AS (
  SELECT a.file_key AS a_key, b.file_key AS b_key, count(*) AS c
  FROM sh a JOIN sh b USING (s)
  WHERE a.file_key < b.file_key
  GROUP BY 1, 2
),
jac AS (
  SELECT a_key, b_key, round(c / (na.n + nb.n - c), 6) AS jaccard,
         c / (na.n + nb.n - c) AS jaccard_raw
  FROM inter
  JOIN sizes na ON na.file_key = a_key
  JOIN sizes nb ON nb.file_key = b_key
)
"""


def _sql_containment_body(min_len: int) -> str:
    # assumes a CTE `f(file_key, content, len)` is in scope; perfect-recall
    # every-position anchor join + exact strpos verify
    return f"""
needles AS (
  SELECT file_key AS a_key, substr(content, 1, 64) AS anchor, content AS a_text,
         len AS a_len
  FROM f WHERE len >= {min_len}
),
hosts AS (
  SELECT file_key AS b_key, substr(content, i, 64) AS anchor, content AS b_text,
         len AS b_len
  FROM f, unnest(range(1, greatest(len - 63, 1) + 1)) AS r(i)
  WHERE len > {min_len}
),
contained AS (
  SELECT DISTINCT a_key, b_key
  FROM needles JOIN hosts USING (anchor)
  WHERE a_key != b_key AND a_len < b_len AND strpos(b_text, a_text) > 0
)
"""


_SQL_CONTAINMENT_BODY = _sql_containment_body(200)

# Verified-edge fragments mirroring the pipeline's oracle-exact
# configuration (DedupConfig(bands=128, rows=1, ratio_func="levenshtein")):
# candidate recall at the 0.2 Jaccard floor is 1-(1-0.2)^128 = 1-4.6e-13
# per pair, every bucket in the committed fixtures is far below the salted
# tier's star_cap (4096 > corpus size), and the winnowed-fingerprint
# containment path is deterministic — so the verified edge set is exactly:
#   near_e  jaccard >= jaccard_min (0.7)
#   band_e  jaccard in [0.2, 0.7) AND integer levenshtein ratio >= 75
#           (the length-gap prefilter is a provable upper bound, identical
#           on the engine side — operators/verify.py make_edit_ratio_udf)
# assumes CTEs `f` and `jac` (with jaccard_raw) are in scope.
_SQL_VERIFY_EDGES = """
near_e AS (SELECT a_key AS a, b_key AS b FROM jac WHERE jaccard_raw >= 0.7),
band_e AS (
  SELECT j.a_key AS a, j.b_key AS b
  FROM jac j
  JOIN f fa ON fa.file_key = j.a_key
  JOIN f fb ON fb.file_key = j.b_key
  WHERE j.jaccard_raw >= 0.2 AND j.jaccard_raw < 0.7
    AND (200 * (greatest(fa.len, fb.len) - abs(fa.len - fb.len))
         + greatest(fa.len, fb.len)) // (2 * greatest(fa.len, fb.len)) >= 75
    AND (200 * (greatest(fa.len, fb.len) - levenshtein(fa.content, fb.content))
         + greatest(fa.len, fb.len)) // (2 * greatest(fa.len, fb.len)) >= 75
)
"""


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


def q_doc_exact_dups(spark, sf_dir):
    """Exact-dup groups over documents ∪ a deterministic planted twin set.

    The sf0.01 documents table happens to contain no byte-identical pairs,
    so the bare operator was oracle-checked only for emptiness (0 rows vs
    0 rows since round 1 — round-5 VERDICT ask #2). Planting twins INSIDE
    the query (doc_id offset by 10M, text unchanged, every 7th doc),
    mirrored identically in the DuckDB oracle, makes the hash comparison
    exercise real group formation: group_id = min(doc_id) = the original
    id, group_size ≥ 2.
    """
    d = _docs(spark, sf_dir).select("doc_id", "text")
    twins = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    return exact_duplicates(d.unionByName(twins))


def q_doc_fingerprint_dups(spark, sf_dir):
    """Fingerprint-dup groups over documents ∪ planted WHITESPACE-variant
    twins (same non-vacuity rationale as :func:`q_doc_exact_dups`).

    The twin doubles every space and appends one (pure-ASCII transform —
    engine-identical in Spark and DuckDB, unlike case-folding which can
    differ across engines for ß/Turkish-i), so it is NOT an exact
    duplicate (sha differs whenever the text is non-empty) but normalizes
    to the same fingerprint (lower + \\s+ collapse + trim) — exercising
    exactly the formatting-insensitivity this operator exists for.
    """
    d = _docs(spark, sf_dir).select("doc_id", "text")
    twins = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.replace(F.col("text"), F.lit(" "), F.lit("  ")), F.lit(" "))
        .alias("text"),
    )
    return fingerprint_duplicates(d.unionByName(twins))


def q_doc_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.2)


def q_doc_minhash_neardup(spark, sf_dir):
    # bands=128 x rows=1: candidate recall at jaccard 0.2 is
    # 1 - (1-0.2)^128 = 1 - 4e-13 -> verified output == brute force.
    return minhash_neardup_pairs(
        _docs(spark, sf_dir), k=3, threshold=0.2, bands=128, rows=1
    )


def q_doc_lang_profile(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(token_count(F.col("text"))), 4).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


def q_doc_quality(spark, sf_dir):
    from .functions.layout import ensure_min_partitions

    # single-row-group documents file -> one scan task; the per-row regex
    # extraction is the whole query, so spread it (row-wise outputs,
    # partitioning-independent)
    d = ensure_min_partitions(_docs(spark, sf_dir))
    ratios = ("punct_ratio", "digit_ratio", "stopword_ratio")
    names = ("n_tokens", "n_words", *ratios)
    stats = word_stats(F.col("text"))
    # project the stats once; quality_score reads the projected columns
    projected = d.select("doc_id", *[stats[k].alias(k) for k in names])
    return projected.select(
        "doc_id",
        "n_tokens",
        *[F.round(k, 6).alias(k) for k in ratios],
        quality_score({k: F.col(k) for k in names}).alias("quality"),
    )


def q_doc_token_fuzzy(spark, sf_dir):
    d = _docs(spark, sf_dir)
    words = F.explode(
        F.array_distinct(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+"), 0))
    )
    return (
        d.select("doc_id", words.alias("word"))
        .withColumn("dist", F.levenshtein("word", F.lit("table")))
        .where(F.col("dist") <= 1)
        .select("doc_id", "word", "dist")
    )


def q_doc_fregex(spark, sf_dir):
    """Fuzzy-regex search distributed over documents (S7 end-to-end).

    Runs the engine's real fregex path — ``parse_regex`` compiles
    ``(?e)(?:table){e<=1}`` (best-match fuzzy literal, <=1 error), matches
    report their ``fuzzy_counts``, and ``normalize_fuzzy_regex_counts``
    turns the (subs, ins, dels) triple into a ratio under the registered
    "lev" weight table (reference S7, ``searchutil.py:79-107``) — over every
    distinct word of every document.

    Scale shape: tokenization stays JVM-side (``regexp_extract_all``); the
    Python kernel runs once per DISTINCT word (vocabulary << corpus), and
    the scored vocabulary broadcasts back onto the (doc_id, word) table —
    at 100 TB the kernel cost is bounded by vocabulary size, not corpus
    size.

    SQL-mirrorable because for a literal-core pattern under lev weights
    (1,1,1) the normalized ratio is decomposition-invariant:
    ``cost = subs+ins+dels = levenshtein distance`` (best-match ``(?e)``
    minimizes total errors) and ``dist_max = max(len(pattern), len(word))``
    (the implied source length ``len(word) - ins + dels`` always equals
    ``len(pattern)``), so DuckDB reproduces it as
    ``round(100 - 100*levenshtein(word,'table')/greatest(5,length(word)))``.
    Python banker's rounding and DuckDB half-up agree for every d<=1 case:
    a .5 value needs ``100/m = z.5`` i.e. ``m in {8, 40, 200}``, and each
    yields an odd floor, where both modes round up.
    """
    from .ratios import normalize_fuzzy_regex_counts
    from .repatterns import parse_regex

    d = _docs(spark, sf_dir)
    words = F.explode(
        F.array_distinct(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+"), 0))
    )
    doc_words = d.select("doc_id", words.alias("word"))
    vocab = doc_words.select("word").distinct()

    @F.pandas_udf("int")
    def fregex_ratio(col: pd.Series) -> pd.Series:
        pat = parse_regex(r"(?e)(?:table){e<=1}")
        out = []
        for w in col:
            m = pat.fullmatch(w)
            out.append(
                normalize_fuzzy_regex_counts(w, tuple(m.fuzzy_counts), "lev")
                if m
                else -1
            )
        return pd.Series(out, dtype="int32")

    matched = vocab.withColumn(
        "fregex_ratio", fregex_ratio.asNondeterministic()("word")
    ).where(F.col("fregex_ratio") >= 0)
    return doc_words.join(F.broadcast(matched), "word").select(
        "doc_id", "word", "fregex_ratio"
    )


def q_events_windowed(spark, sf_dir):
    counts = windowed_event_counts(_events(spark, sf_dir), window="1 hour")
    return counts.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        "sum_value",
    )


def q_events_sessions(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional-second epochs (unix_timestamp truncates; DuckDB's epoch()
    # keeps microseconds — sub-second gaps around the 1800s boundary matter)
    # NTZ -> LTZ (session tz is pinned to UTC) -> fractional epoch seconds
    ep = F.col("ts").cast("timestamp").cast("double")
    gap = ep - F.lag(ep).over(w)
    flagged = e.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_s").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


def q_events_json(spark, sf_dir):
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type", (k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q_tpch_q1(spark, sf_dir):
    # NOTE (r7): the sf* lineitem is one parquet row group, so this scan
    # is a single task — but spreading it first was MEASURED SLOWER
    # (interleaved A/B med 1.63s vs 1.24s): the map-side partial
    # aggregation already collapses 600k rows to 6 per partition, so a
    # pre-aggregation shuffle of raw rows costs more than the serial
    # partial-agg it saves. Left as-is deliberately.
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias("sum_price"),
        F.round(
            (F.sum(dec("l_discount")) / F.count(F.lit(1))).cast("double"), 6
        ).alias("avg_disc"),
        F.count(F.lit(1)).alias("n"),
    )


def q_top_customers(spark, sf_dir):
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    return (
        rev.join(F.broadcast(c), rev.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "c_name", F.round(F.col("rev").cast("double"), 2).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def q_files_exact_groups(spark, sf_dir):
    f = _files(spark, sf_dir)
    return (
        exact_duplicates(f, id_col="file_key", text_col="content")
        .withColumnsRenamed({"group_id": "group_key", "doc_id": "file_key"})
    )


def q_files_neardup_pairs(spark, sf_dir):
    f = _files(spark, sf_dir)
    return minhash_neardup_pairs(
        f, k=3, threshold=0.7, id_col="file_key", text_col="content",
        bucket_cap=1024,
    ).withColumnsRenamed({"a_id": "a_key", "b_id": "b_key"})


def q_files_substring_pairs(spark, sf_dir):
    f = _files(spark, sf_dir)
    return containment_pairs(
        f, anchor_len=64, min_len=200, id_col="file_key", text_col="content"
    ).withColumnsRenamed({"a_id": "a_key", "b_id": "b_key"})


def q_files_substring_partial(spark, sf_dir):
    """ORACLE-EXACT gate for the anchored partial_ratio path (round-5
    VERDICT ask #1 — the one S2 semantic that was pytest-only).

    Runs the PRODUCTION two-phase substring verify blind (fused
    signatures -> winnowed-fingerprint candidates -> slim anchor/coverage
    screen -> anchored InDel kernel) over the committed ``files_partial``
    fixture, which plants substitution-only edited copies at known offsets
    (see ``sources.corpus.generate_partial_corpus`` for why the engine's
    window and score are provably ``host[off:off+n]`` and
    ``100*(n-k)/n``). The DuckDB oracle recomputes the score from the
    plant metadata with ``levenshtein`` over ``substr`` — equal to the
    engine's InDel because substitutions from a disjoint alphabet make
    ``indel_distance = 2*levenshtein`` exactly. Row equality checks BOTH
    recall (every plant verified, ``verified_by='partial'``) and precision
    (license-header noise candidates all screened/scored out).

    Reference semantics: ``fuzz.partial_ratio``
    (``registry/fuzzyfuncs.py:9``); engine kernel:
    ``operators/substring.py`` (partial_ratio_from_positions).
    """
    f = spark.read.parquet(
        os.path.join(FIXTURE_ROOT, "files_partial", "files.parquet")
    ).withColumn("file_key", F.concat_ws(US, "repo", "path", "commit"))
    from .functions.signatures import with_fused_signatures

    # materialized once: the candidate stage and both verify joins read
    # the corpus, and the nondeterministic fused UDF blocks subtree reuse
    corpus = with_fused_signatures(
        f.select(
            F.col("file_key").alias("file_id"),
            "content",
            F.octet_length("content").alias("n_bytes"),
        ),
        fp_k=32, fp_w=32, fp_min_bytes=100,
    ).repartition(
        spark.sparkContext.defaultParallelism, "file_id"
    ).localCheckpoint(eager=False)
    cand = substring_candidates(corpus).distinct()
    return verify_substring_pairs(
        cand, corpus, min_len=100, min_partial=75
    ).select(
        F.col("a_id").alias("a_key"),
        F.col("b_id").alias("b_key"),
        "edit_ratio",
        "verified_by",
    )


def q_files_components(spark, sf_dir):
    """Jaccard + exact + containment edges -> connected components.

    (The full engine also verifies low-Jaccard pairs with the InDel kernel;
    that path is non-SQL-expressible and is checked by the pytest recall
    gate instead — this query pins the SQL-expressible subset end-to-end.)
    """
    # lazy local checkpoint, not .cache(): a cached plan stays registered
    # in the session's cache manager, so a later build of this query would
    # read the previous build's blocks
    f = _files(spark, sf_dir).localCheckpoint(eager=False)
    exact_e = (
        exact_duplicates(f, id_col="file_key", text_col="content")
        .where(F.col("doc_id") != F.col("group_id"))
        .select(F.col("group_id").alias("a_id"), F.col("doc_id").alias("b_id"))
    )
    near_e = minhash_neardup_pairs(
        f, k=3, threshold=0.7, id_col="file_key", text_col="content",
        bucket_cap=1024,
    ).select("a_id", "b_id")
    cont_e = containment_pairs(
        f, anchor_len=64, min_len=200, id_col="file_key", text_col="content"
    )
    edges = exact_e.unionByName(near_e).unionByName(cont_e)
    labels, _ = connected_components(edges)
    return attach_components(
        f.select(F.col("file_key").alias("file_id")), labels
    ).select(
        F.col("file_id").alias("file_key"),
        F.col("component_id").alias("component_key"),
    )


def q_emb_neardup(spark, sf_dir):
    """Exact all-pairs cosine (``operators.ann.cosine_neardup_pairs``): the
    O(n²) baseline the DuckDB oracle mirrors. The scale path is
    :func:`q_emb_lsh_ann` / ``operators.ann.lsh_cosine_pairs`` (bucketed,
    never crosses the corpus with itself)."""
    # small single-file input: spread the big (join-left) side across cores
    e = _emb(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)
    return cosine_neardup_pairs(e, threshold=0.3)


def q_emb_topk(spark, sf_dir):
    """Exact top-k (``operators.ann.cosine_topk``) with the full table
    broadcast as the query side. The scale path is :func:`q_emb_topk_ann`
    / ``operators.ann.lsh_cosine_topk``."""
    e = _emb(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)
    return cosine_topk(e, e, k=5)


def q_emb_lsh_ann(spark, sf_dir):
    """Hyperplane-LSH near-dup pairs at a *deterministic-recall* config.

    Every emitted pair is exactly cosine-verified, so output ⊆ exact; with
    (3 bits, 96 tables) the per-pair miss probability at the 0.3 threshold
    is (1 - p³)^96 ≤ 1.1e-10 (p = 1 - arccos(0.3)/π ≈ 0.597), i.e. the LSH
    output deterministically EQUALS the brute-force oracle — the same
    recall-by-config argument the MinHash queries make. This wide config is
    the oracle fixture; production tuning keeps the (n_bits, n_tables,
    threshold) knob (see tests for the recall-vs-cost curve).

    The equality argument additionally needs every bucket below BOTH caps
    (a bucket past ``star_cap`` degrades to linear star expansion and
    loses pairs), so the oracle config pins both far above any fixture
    corpus size.
    """
    return lsh_cosine_pairs(
        _emb(spark, sf_dir), threshold=0.3, n_bits=3, n_tables=96,
        bucket_cap=1 << 22, star_cap=1 << 22,
    )


def q_emb_topk_ann(spark, sf_dir):
    """Multiprobe-LSH top-k at the ORACLE-EXACT full-probe configuration.

    With ``n_bits=1`` each hash table has exactly two buckets and the
    multiprobe step (``n_probes=1``) probes both, so every query's
    candidate set is the whole corpus *by construction* (not
    probabilistically) — the LSH machinery provably returns the exact
    brute-force top-k and the DuckDB oracle mirrors it. This is the same
    exhaustive-breadth argument as ``q_emb_ivf_ann``'s n_probe=n_cells.
    Production tuning (n_bits=4, n_tables=32, n_probes=2) is what bench.py
    measures; its recall (>=0.95 vs exact) is pytest-gated.
    """
    from .operators.ann import lsh_cosine_topk

    # single-file parquet -> 1 read partition -> serial sketch UDFs;
    # spread first (no-op decision at real scale, where scans are wide)
    emb = _emb(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)
    return lsh_cosine_topk(emb, k=5, n_bits=1, n_tables=2, n_probes=1)


def q_doc_ruler(spark, sf_dir):
    """Distributed SpaczzRuler (M1 fan-out + M4/M5 resolution) over an
    exactly-mirrorable pattern set covering ALL FOUR pattern types at once
    (round-5 VERDICT ask #6): fuzzy, literal regex, fuzzy-regex, and token.

    - The fuzzy patterns use the engine's integer ``levenshtein`` ratio
      (SQL-mirrorable by construction — see ratios.levenshtein_ratio) with
      flex=0; the literal regex pattern is a token bigram.
    - TABLEISH is a real fregex pattern run through the production
      ``regex_match`` path. Its form ``(?e)\\b(?:table){e<=1:[a-z]}\\b``
      makes the oracle mirror exact: the ``[a-z]`` error class forbids
      errors on the single-space separators and the ``\\b`` anchors force
      full-token matches, so a token matches iff its unit-cost Levenshtein
      distance to ``table`` is <= 1, with ratio
      ``round(100 - 100*d/max(5, len(w)))`` by the same
      decomposition-invariance argument as ``q_doc_fregex`` (lev weights:
      cost = d, dist_max = max(implied source len, len(w)) = max(5,
      len(w))). One honest caveat, empirically pinned: the ``regex``
      module does not attempt leading-insertion full-token matches (e.g.
      ``stable``); the corpus vocabulary (including the planted variants)
      contains no such word, so engine and formula agree on every token
      here. No .5 rounding cases arise (d=0 -> 100; d=1, len in {4,5} ->
      exactly 80).
    - QUERYISH is a token pattern with one FUZZY slot (M3): the span
      ratio is the char-length-weighted mean of slot ratios, which for a
      single slot is the integer levenshtein ratio itself.
    - M4/M5 conflict resolution is NON-trivially exercised: at every
      ``big table`` bigram both BIGTABLE (2 tokens, ratio 100) and
      TABLEISH (1 token, ratio 100) match, and the greedy resolver
      (length desc, start asc, ratio desc) keeps BIGTABLE and drops the
      contained TABLEISH — the oracle mirrors the suppression with an
      anti-join on the preceding token.
    - Non-vacuity: the raw vocabulary's only lev<=1 word for either new
      pattern is the exact word itself, so every-3rd-doc twins (doc_id
      offset 10M) replace ``table``->``tble`` and ``query``->``qery``
      (no other vocab word contains either as a substring), planting
      ratio-80 rows for both new paths. The InDel kernel paths of the
      ruler stay pinned by pytest goldens (non-SQL-expressible).
    """
    import json as _json

    patterns = [
        Pattern("CUSTOMERISH", "custmer", "fuzzy",
                {"min_r": 80, "flex": 0, "fuzzy_func": "levenshtein"}),
        Pattern("VEC", "vectr", "fuzzy",
                {"min_r": 80, "flex": 0, "fuzzy_func": "levenshtein"}),
        Pattern("BIGTABLE", "big table", "regex", {}),
        Pattern("TABLEISH", r"(?e)\b(?:table){e<=1:[a-z]}\b", "regex",
                {"min_r": 75, "fuzzy_weights": "lev"}),
        Pattern("QUERYISH",
                _json.dumps([{"TEXT": {"FUZZY": "query", "MIN_R": 80,
                                       "FUZZY_FUNC": "levenshtein"}}]),
                "token", {}),
    ]
    base = _docs(spark, sf_dir).select("doc_id", "text")
    twins = base.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.replace(
            F.replace(F.col("text"), F.lit("table"), F.lit("tble")),
            F.lit("query"), F.lit("qery"),
        ).alias("text"),
    )
    # the sf* documents table is one sub-MB parquet file -> one read
    # partition -> the matcher UDF would run serial; spread it first (at
    # real scale the source has many partitions and this is a no-op choice)
    docs = base.unionByName(twins).repartition(
        spark.sparkContext.defaultParallelism
    )
    return ruler(docs, patterns).select(
        "doc_id", "label", "start", "end", F.col("ratio").cast("long").alias("ratio")
    )


def q_emb_ivf_ann(spark, sf_dir):
    """IVF top-k at the ORACLE-EXACT exhaustive-probe configuration.

    ``n_probe == n_cells`` means every query probes every inverted list, so
    the candidate set is the whole corpus and the index provably returns
    the exact brute-force top-k (the coarse quantizer only routes, it never
    drops) — DuckDB-mirrorable. Production tuning (n_probe=8 of 16 cells)
    is what bench.py measures; its recall (>=0.9 vs exact) is pytest-gated.
    """
    from .operators.ann import ivf_cosine_topk

    emb = _emb(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)
    return ivf_cosine_topk(emb, k=5, n_cells=16, n_probe=16, seed=42)


def q_media_decode(spark, sf_dir):
    """Pure-header image decode (PNG/GIF/BMP/JPEG) over binary media blobs.

    The committed fixture stores the true (format, width, height) next to
    each blob, so the DuckDB oracle checks the struct-parser bit-for-bit —
    including NULL rows for corrupt/truncated/empty blobs."""
    from .operators.multimodal import decode_images

    media = spark.read.parquet(
        os.path.join(FIXTURE_ROOT, "media_small", "media.parquet")
    )
    return decode_images(media).select(
        "media_id", "format", "width", "height", "n_bytes"
    )


def q_media_features(spark, sf_dir):
    """Container-level media features (no pixel decode); the DuckDB oracle
    recomputes aspect ratio / bytes-per-pixel from the fixture's stored
    truth metadata (byte entropy is pytest-gated — not SQL-expressible
    over blobs)."""
    from .operators.multimodal import extract_features

    media = spark.read.parquet(
        os.path.join(FIXTURE_ROOT, "media_small", "media.parquet")
    )
    return extract_features(media).select(
        "media_id", "format", "width", "height", "aspect_ratio",
        "n_bytes", "bytes_per_pixel",
    )


def q_files_pipeline(spark, sf_dir):
    """Full dedup pipeline END-TO-END (normalize -> exact collapse ->
    signatures -> MinHash/SimHash/substring candidates -> two-phase verify
    -> connected components), at the ORACLE-EXACT configuration:

    - ``bands=128, rows=1``: candidate recall at the 0.2 Jaccard floor is
      1-(1-0.2)^128 = 1-4.6e-13 per pair, so candidates ⊇ every pair the
      verify stage could accept (same recall-by-config argument as
      ``doc_minhash_neardup``).
    - ``ratio_func="levenshtein"``: the verify kernel is the integer
      Levenshtein ratio (ratios.levenshtein_ratio) that DuckDB's built-in
      ``levenshtein()`` reproduces bit-for-bit in integer arithmetic.
    - the winnowed-fingerprint containment path is deterministic (any
      contained needle >= 100 bytes shares a fingerprint with its host).

    The DuckDB oracle therefore rebuilds the exact same verified edge set
    with brute-force SQL + a recursive-CTE connected components, and the
    final cluster assignment matches row-for-row. Output keys are strings
    (component_key = min file_key of the component) because DuckDB cannot
    compute the engine's xxhash64 file ids. The default InDel-kernel
    configuration of the same pipeline (non-SQL-expressible) is covered by
    the pytest recall/sha gates and is what bench.py measures.
    """
    import tempfile

    from .plans.config import DedupConfig
    from .plans.pipeline import DedupPipeline

    f = _files(spark, sf_dir).drop("file_key")
    # substring_partial=False: the oracle mirrors verbatim containment
    # (strpos) only — the anchored partial_ratio path is not
    # SQL-expressible and is pytest-gated instead (tests/test_substring.py
    # recall gate on planted embedded-with-edits duplicates)
    cfg = DedupConfig(
        bands=128, rows=1, ratio_func="levenshtein", substring_partial=False
    )
    pipe = DedupPipeline(
        spark, cfg, tempfile.mkdtemp(prefix="spaczz_entry_")
    )
    out = pipe.run(f).select(
        F.concat_ws(US, "repo", "path", "commit").alias("file_key"),
        "lang", "content_sha256", "component_id",
    )
    w = Window.partitionBy("component_id")
    return out.withColumn(
        "component_key", F.min("file_key").over(w)
    ).drop("component_id")


def q_files_incremental(spark, sf_dir):
    """Streaming/incremental dedup equivalence: the corpus arrives as 3
    deterministic micro-batches through ``IncrementalDedup.process_batch``
    (signature store + LSH probe per batch), the appended verified pairs
    feed connected components, and the final assignment must equal the
    one-shot batch result — which is what the DuckDB oracle computes
    (brute-force verified edges + recursive-CTE components, same
    oracle-exact config as ``files_pipeline``: bands=128/rows=1,
    levenshtein kernel; the incremental path has no substring/exact-collapse
    stage, so its edge set is exactly near_e ∪ band_e — sha-identical pairs
    land in near_e with Jaccard 1).
    """
    import tempfile

    from .functions.signatures import normalize
    from .plans.config import DedupConfig
    from .streaming.incremental import IncrementalDedup

    f = _files(spark, sf_dir)
    cfg = DedupConfig(bands=128, rows=1, ratio_func="levenshtein")
    inc = IncrementalDedup(
        spark, cfg, tempfile.mkdtemp(prefix="spaczz_incr_")
    )
    batched = f.withColumn("batch", F.pmod(F.xxhash64("file_key"), F.lit(3)))
    for b in range(3):
        inc.process_batch(
            batched.where(F.col("batch") == b).drop("batch", "file_key")
        )
    pairs = spark.read.parquet(inc.pairs_path).select("a_id", "b_id")
    labels, _ = connected_components(pairs)
    keyed = normalize(f.drop("file_key")).select(
        "file_id", F.concat_ws(US, "repo", "path", "commit").alias("file_key")
    )
    assigned = attach_components(keyed, labels)
    w = Window.partitionBy("component_id")
    return assigned.select(
        "file_key", F.min("file_key").over(w).alias("component_key")
    )


QUERIES = {
    "doc_exact_dups": q_doc_exact_dups,
    "doc_fingerprint_dups": q_doc_fingerprint_dups,
    "doc_ngram_jaccard": q_doc_ngram_jaccard,
    "doc_minhash_neardup": q_doc_minhash_neardup,
    "doc_lang_profile": q_doc_lang_profile,
    "doc_quality": q_doc_quality,
    "doc_token_fuzzy": q_doc_token_fuzzy,
    "doc_fregex": q_doc_fregex,
    "doc_ruler": q_doc_ruler,
    "events_windowed": q_events_windowed,
    "events_sessions": q_events_sessions,
    "events_json": q_events_json,
    "tpch_q1": q_tpch_q1,
    "top_customers": q_top_customers,
    "files_exact_groups": q_files_exact_groups,
    "files_neardup_pairs": q_files_neardup_pairs,
    "files_substring_pairs": q_files_substring_pairs,
    "files_substring_partial": q_files_substring_partial,
    "files_components": q_files_components,
    "files_pipeline": q_files_pipeline,
    "files_incremental": q_files_incremental,
    "emb_neardup": q_emb_neardup,
    "emb_topk": q_emb_topk,
    "emb_lsh_ann": q_emb_lsh_ann,
    "emb_topk_ann": q_emb_topk_ann,
    "emb_ivf_ann": q_emb_ivf_ann,
    "media_decode": q_media_decode,
    "media_features": q_media_features,
}


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"

ORACLES = {
    "doc_exact_dups": """
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
h AS (SELECT doc_id, md5(text) AS sha FROM docs2),
g AS (SELECT sha, min(doc_id) AS group_id, count(*) AS group_size
      FROM h GROUP BY sha HAVING count(*) > 1)
SELECT g.group_id, h.doc_id, g.group_size FROM h JOIN g USING (sha)
""",
    "doc_fingerprint_dups": """
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, replace(text, ' ', '  ') || ' ' AS text
  FROM documents WHERE doc_id % 7 = 0
),
h AS (SELECT doc_id,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM docs2),
g AS (SELECT fp, min(doc_id) AS group_id, count(*) AS group_size
      FROM h GROUP BY fp HAVING count(*) > 1)
SELECT g.group_id, h.doc_id, g.group_size FROM h JOIN g USING (fp)
""",
    "doc_ngram_jaccard": f"""
WITH {_SQL_SHINGLES}
SELECT a_id, b_id, jaccard FROM jac WHERE jaccard >= 0.2
""",
    "doc_minhash_neardup": f"""
WITH {_SQL_SHINGLES}
SELECT a_id, b_id, jaccard FROM jac WHERE jaccard >= 0.2
""",
    "doc_lang_profile": f"""
SELECT lang,
       count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       round(avg(len(regexp_extract_all(text, '{WORD_PATTERN}'))), 4)
         AS avg_tokens,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
""",
    "doc_quality": f"""
WITH s AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{WORD_PATTERN}')) AS n_tokens,
         regexp_extract_all(lower(text), '[a-z]+') AS words,
         len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text)
           AS punct,
         len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text) AS digit
  FROM documents
), s2 AS (
  SELECT doc_id, n_tokens, punct, digit, len(words) AS n_words,
         len(list_filter(words, w -> list_contains({_STOP_SQL}, w))) * 1.0
           / len(words) AS stop
  FROM s
)
SELECT doc_id, n_tokens,
       round(punct, 6) AS punct_ratio,
       round(digit, 6) AS digit_ratio,
       round(stop, 6) AS stopword_ratio,
       round(
         (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.3 END) * 0.4
         + (CASE WHEN punct < 0.3 THEN 1.0 ELSE 0.5 END) * 0.2
         + (CASE WHEN digit < 0.3 THEN 1.0 ELSE 0.5 END) * 0.2
         + (CASE WHEN stop > 0.05 THEN 1.0 ELSE 0.7 END) * 0.2, 6) AS quality
FROM s2
""",
    "doc_token_fuzzy": """
WITH w AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-z]+')))
           AS word
  FROM documents
)
SELECT doc_id, word, levenshtein(word, 'table') AS dist
FROM w WHERE levenshtein(word, 'table') <= 1
""",
    # mirrors q_doc_fregex: for the literal-core pattern (table){e<=1} under
    # lev weights the engine's count-normalized ratio reduces to
    # round(100 - 100*d/max(len('table'), len(word))) with d = levenshtein
    # distance (see the query docstring for the decomposition-invariance and
    # rounding-parity argument)
    "doc_fregex": """
WITH w AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-z]+')))
           AS word
  FROM documents
)
SELECT doc_id, word,
       round(100 - 100.0 * levenshtein(word, 'table')
             / greatest(5, length(word)))::INT AS fregex_ratio
FROM w WHERE levenshtein(word, 'table') <= 1
""",
    "events_windowed": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n,
       round(sum(value::DECIMAL(18,2))::DOUBLE, 2) AS sum_value
FROM events GROUP BY 1, 2
""",
    "events_sessions": """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              OR lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
)
SELECT user_id, sum(new_s)::BIGINT AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
""",
    "events_json": """
SELECT event_type,
       (json_extract_string(props, '$.k')::INT) % 10 AS k_bucket,
       count(*) AS n
FROM events GROUP BY 1, 2
""",
    "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty,
       round((sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE, 2) AS sum_price,
       round((sum(l_discount::DECIMAL(18,2)) / count(*))::DOUBLE, 6)
         AS avg_disc,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
    "top_customers": """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice::DECIMAL(18,2)) AS rev
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, round(rev::DOUBLE, 2) AS revenue
FROM rev JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, c_custkey ASC LIMIT 10
""",
    "files_exact_groups": f"""
WITH f AS ({_SQL_FILES}),
h AS (SELECT file_key, sha256(content) AS sha FROM f),
g AS (SELECT sha, min(file_key) AS group_key, count(*) AS group_size
      FROM h GROUP BY sha HAVING count(*) > 1)
SELECT g.group_key, h.file_key, g.group_size FROM h JOIN g USING (sha)
""",
    "files_neardup_pairs": f"""
WITH {_SQL_FILES_SHINGLES}
SELECT a_key, b_key, jaccard FROM jac WHERE jaccard >= 0.7
""",
    "files_substring_pairs": f"""
WITH f AS ({_SQL_FILES}),
{_SQL_CONTAINMENT_BODY}
SELECT a_key, b_key FROM contained
""",
    # files_substring_partial: recomputes the anchored partial score from
    # the plant metadata (offset + base length). For substitution-only '~'
    # edits, indel_distance(base, window) = 2*levenshtein(base, window)
    # exactly, and the float expression mirrors ratios.indel_ratio's
    # 100.0*(1.0 - dist/total) op-for-op (same IEEE doubles on both
    # sides); exact-.5 rounding ties are excluded at fixture generation.
    # Orientation: the engine emits candidate pairs with a_id < b_id, so
    # both sides normalize with least/greatest.
    "files_substring_partial": f"""
WITH f AS (
  SELECT repo || chr(31) || path || chr(31) || commit AS file_key, content
  FROM read_parquet('{FIXTURE_ROOT}/files_partial/files.parquet')
),
p AS (
  SELECT * FROM read_parquet('{FIXTURE_ROOT}/files_partial/plant.parquet')
),
scored AS (
  SELECT least(p.a_key, p.b_key) AS a_key,
         greatest(p.a_key, p.b_key) AS b_key,
         round(100.0 * (1.0 -
             (2.0 * levenshtein(a.content, substr(b.content, p.off + 1, p.n)))
             / (length(a.content) + p.n)))::INT AS edit_ratio
  FROM p
  JOIN f a ON a.file_key = p.a_key
  JOIN f b ON b.file_key = p.b_key
)
SELECT a_key, b_key, edit_ratio, 'partial' AS verified_by
FROM scored WHERE edit_ratio >= 75
""",
    "files_components": f"""
WITH RECURSIVE
{_SQL_FILES_SHINGLES},
near_e AS (SELECT a_key AS a, b_key AS b FROM jac WHERE jaccard >= 0.7),
{_SQL_CONTAINMENT_BODY},
sha_g AS (
  SELECT file_key,
         min(file_key) OVER (PARTITION BY sha256(content)) AS m
  FROM f
),
exact_e AS (SELECT m AS a, file_key AS b FROM sha_g WHERE file_key != m),
cont_e AS (SELECT a_key AS a, b_key AS b FROM contained),
edges AS (
  SELECT a, b FROM near_e UNION SELECT b, a FROM near_e
  UNION SELECT a, b FROM exact_e UNION SELECT b, a FROM exact_e
  UNION SELECT a, b FROM cont_e UNION SELECT b, a FROM cont_e
),
reach(n, m) AS (
  SELECT file_key, file_key FROM f
  UNION
  SELECT e.b, r.m FROM edges e JOIN reach r ON r.n = e.a
)
SELECT n AS file_key, min(m) AS component_key FROM reach GROUP BY n
""",
    "emb_neardup": """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
""",
    "emb_topk": """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM n a JOIN n b ON a.vec_id != b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
    # emb_lsh_ann: at the (3 bits, 96 tables) config the per-pair miss
    # probability at threshold 0.3 is <= 1.1e-10, so the exactly-verified
    # LSH output deterministically equals the brute-force result — the
    # oracle is the same SQL as emb_neardup.
    "emb_lsh_ann": """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
""",
    # doc_ruler: the documents fixture text is pure lowercase words + single
    # spaces, so the engine tokenizer == string_split; fuzzy ratios use the
    # integer levenshtein formula (exact in BIGINT arithmetic on both
    # sides); the literal regex pattern is a token bigram. TABLEISH
    # (fregex) mirrors per-token as round(100 - 100*d/max(5,len(w))) for
    # d = levenshtein(w,'table') <= 1 (decomposition invariance under lev
    # weights — see q_doc_ruler / q_doc_fregex docstrings), suppressed
    # where the longer BIGTABLE span covers the token (greedy resolution:
    # length desc). QUERYISH (token, one FUZZY slot) is the integer
    # levenshtein ratio vs 'query'. Twins (doc_id+10M, every 3rd doc)
    # plant 'tble'/'qery' so both new paths contribute ratio-80 rows.
    "doc_ruler": """
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         replace(replace(text, 'table', 'tble'), 'query', 'qery') AS text
  FROM documents WHERE doc_id % 3 = 0
),
toks AS (
  SELECT doc_id, i, ws[i] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM docs2),
       unnest(range(1, len(ws) + 1)) AS r(i)
),
fuzz AS (
  SELECT doc_id, 'CUSTOMERISH' AS label, i - 1 AS start, i AS "end",
         (200*(m - d) + m) // (2*m) AS ratio
  FROM (SELECT doc_id, i,
               greatest(length(w), 7)::BIGINT AS m,
               levenshtein(w, 'custmer')::BIGINT AS d
        FROM toks)
  WHERE (200*(m - d) + m) // (2*m) >= 80
  UNION ALL
  SELECT doc_id, 'VEC' AS label, i - 1 AS start, i AS "end",
         (200*(m - d) + m) // (2*m) AS ratio
  FROM (SELECT doc_id, i,
               greatest(length(w), 5)::BIGINT AS m,
               levenshtein(w, 'vectr')::BIGINT AS d
        FROM toks)
  WHERE (200*(m - d) + m) // (2*m) >= 80
),
re AS (
  SELECT a.doc_id, 'BIGTABLE' AS label, a.i - 1 AS start, a.i + 1 AS "end",
         100::BIGINT AS ratio
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  WHERE a.w = 'big' AND b.w = 'table'
),
fregex AS (
  SELECT t.doc_id, 'TABLEISH' AS label, t.i - 1 AS start, t.i AS "end",
         round(100 - 100.0 * levenshtein(t.w, 'table')
               / greatest(5, length(t.w)))::BIGINT AS ratio
  FROM toks t
  LEFT JOIN toks p ON p.doc_id = t.doc_id AND p.i = t.i - 1
  WHERE levenshtein(t.w, 'table') <= 1
    AND NOT (t.w = 'table' AND coalesce(p.w, '') = 'big')
),
tokpat AS (
  SELECT doc_id, 'QUERYISH' AS label, i - 1 AS start, i AS "end",
         (200*(m - d) + m) // (2*m) AS ratio
  FROM (SELECT doc_id, i,
               greatest(length(w), 5)::BIGINT AS m,
               levenshtein(w, 'query')::BIGINT AS d
        FROM toks)
  WHERE (200*(m - d) + m) // (2*m) >= 80
)
SELECT doc_id, label, start, "end", ratio FROM fuzz
UNION ALL
SELECT doc_id, label, start, "end", ratio FROM re
UNION ALL
SELECT doc_id, label, start, "end", ratio FROM fregex
UNION ALL
SELECT doc_id, label, start, "end", ratio FROM tokpat
""",
    # files_pipeline: brute-force reconstruction of the pipeline's verified
    # edge set at the oracle-exact config (see q_files_pipeline docstring):
    # exact (sha) star edges ∪ jaccard >= 0.7 ∪ levenshtein band
    # ∪ verbatim containment (needle >= 100 bytes), then recursive-CTE
    # connected components; component_key = min member file_key.
    "files_pipeline": f"""
WITH RECURSIVE
{_SQL_FILES_SHINGLES},
{_sql_containment_body(100)},
{_SQL_VERIFY_EDGES},
sha_g AS (
  SELECT file_key,
         min(file_key) OVER (PARTITION BY sha256(content)) AS m
  FROM f
),
exact_e AS (SELECT m AS a, file_key AS b FROM sha_g WHERE file_key != m),
cont_e AS (SELECT a_key AS a, b_key AS b FROM contained),
edges AS (
  SELECT a, b FROM near_e UNION SELECT b, a FROM near_e
  UNION SELECT a, b FROM band_e UNION SELECT b, a FROM band_e
  UNION SELECT a, b FROM exact_e UNION SELECT b, a FROM exact_e
  UNION SELECT a, b FROM cont_e UNION SELECT b, a FROM cont_e
),
reach(n, m) AS (
  SELECT file_key, file_key FROM f
  UNION
  SELECT e.b, r.m FROM edges e JOIN reach r ON r.n = e.a
),
comp AS (SELECT n AS file_key, min(m) AS component_key FROM reach GROUP BY n)
SELECT fl.file_key, fl.lang, sha256(fl.content) AS content_sha256,
       comp.component_key
FROM (SELECT concat_ws(chr(31), repo, path, commit) AS file_key, lang, content
      FROM read_parquet('{_FILES_SMALL}')) fl
JOIN comp USING (file_key)
""",
    # files_incremental: the incremental path's edge set is near_e ∪ band_e
    # only (no substring or exact-collapse stage; sha-identical pairs have
    # Jaccard 1 and land in near_e) — batch-vs-incremental equivalence.
    "files_incremental": f"""
WITH RECURSIVE
{_SQL_FILES_SHINGLES},
{_SQL_VERIFY_EDGES},
edges AS (
  SELECT a, b FROM near_e UNION SELECT b, a FROM near_e
  UNION SELECT a, b FROM band_e UNION SELECT b, a FROM band_e
),
reach(n, m) AS (
  SELECT file_key, file_key FROM f
  UNION
  SELECT e.b, r.m FROM edges e JOIN reach r ON r.n = e.a
)
SELECT n AS file_key, min(m) AS component_key FROM reach GROUP BY n
""",
    # emb_topk_ann / emb_ivf_ann: at their full-probe / exhaustive-probe
    # configs the candidate set is the whole corpus by construction, so the
    # ANN output provably equals exact brute-force top-k — same oracle SQL
    # as emb_topk.
    "emb_topk_ann": """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM n a JOIN n b ON a.vec_id != b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
    "emb_ivf_ann": """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM n a JOIN n b ON a.vec_id != b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
    "media_decode": f"""
SELECT media_id, true_format AS format, true_width AS width,
       true_height AS height, octet_length(data) AS n_bytes
FROM read_parquet('{FIXTURE_ROOT}/media_small/media.parquet')
""",
    "media_features": f"""
SELECT media_id, true_format AS format, true_width AS width,
       true_height AS height,
       round(true_width * 1.0 / true_height, 6) AS aspect_ratio,
       octet_length(data) AS n_bytes,
       round(octet_length(data) * 1.0 / (true_width * true_height), 6)
         AS bytes_per_pixel
FROM read_parquet('{FIXTURE_ROOT}/media_small/media.parquet')
""",
}
