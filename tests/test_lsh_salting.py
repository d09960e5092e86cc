"""Bucket pair enumeration: completeness of the salted join and the star tier.

``pairs_from_buckets`` sizes each bucket with a window, enumerates
all pairs of buckets up to ``max(bucket_cap, star_cap)`` members in one
self-join on (bucket, salt) — salted ``N_SALT`` ways above ``bucket_cap``
— and emits star edges around the bucket minimum above ``star_cap``.
The enumerator does not deduplicate: a pair appears once per bucket it
shares, and its consumers pay one distinct where their sources meet.
``simhash_candidates`` runs on top of it and must equal a brute-force
hamming check. Building a candidate plan materializes nothing: the sized
bucket table is checkpointed lazily, inside the job that consumes it.
"""

import random
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from pyspark.sql import functions as F

from spaczz_spark.operators.lsh import (
    minhash_candidates,
    pairs_from_buckets,
    simhash_candidates,
)
from spaczz_spark.operators.substring import substring_candidates


def bruteforce_pairs(rows, bucket_cap, star_cap):
    """The enumeration rules in plain Python over (bucket_key, id) rows, as
    a multiset: one pair per pair of bucket rows, so once per bucket a pair
    shares when no bucket repeats an id. Salting never changes the pairs,
    so only the size bound shapes them: all pairs up to ``max(bucket_cap,
    star_cap)`` members, star edges above ``star_cap`` (both for a bucket
    in between when ``bucket_cap > star_cap``); bucket size counts
    duplicate rows, as the sizing window does."""
    buckets = defaultdict(Counter)
    for key, fid in rows:
        buckets[key][fid] += 1
    pairs = Counter()
    for members in buckets.values():
        ids = sorted(members)
        size = sum(members.values())
        if size <= max(bucket_cap, star_cap):
            for a, b in combinations(ids, 2):
                pairs[a, b] += members[a] * members[b]
        if size > star_cap:
            for m in ids[1:]:
                pairs[ids[0], m] += members[m]
    return pairs


def test_salted_tiers_enumerate_exactly_the_small_and_mid_pairs(spark):
    rows = []
    # small bucket (4 members), mid/hot bucket (30 > cap 8), huge (60 > star_cap 40)
    for i in range(4):
        rows.append(("b_small", 100 + i))
    for i in range(30):
        rows.append(("b_hot", 200 + i))
    for i in range(60):
        rows.append(("b_huge", 300 + i))
    rows.append(("b_single", 999))
    df = spark.createDataFrame(rows, ["bucket_key", "file_id"])

    got = {
        (r["a_id"], r["b_id"])
        for r in pairs_from_buckets(df, bucket_cap=8, star_cap=40).collect()
    }

    expect = set()
    expect |= {tuple(sorted(p)) for p in combinations(range(100, 104), 2)}
    # mid tier: salted join must still produce ALL pairs
    expect |= {tuple(sorted(p)) for p in combinations(range(200, 230), 2)}
    # huge tier: star edges only (min member -> others)
    expect |= {(300, 300 + i) for i in range(1, 60)}

    assert got == expect


def test_pair_repeats_once_per_shared_bucket(spark):
    df = spark.createDataFrame(
        [("b", 1), ("b", 2), ("c", 1), ("c", 2), ("d", 1), ("d", 3)],
        ["bucket_key", "file_id"],
    )
    out = pairs_from_buckets(df, bucket_cap=8).collect()
    assert sorted((r["a_id"], r["b_id"]) for r in out) == [
        (1, 2), (1, 2), (1, 3)
    ]


@pytest.mark.parametrize("bucket_cap,star_cap", [(8, 30), (1, 30), (40, 30)])
def test_random_layout_pair_set_matches_bruteforce(spark, bucket_cap, star_cap):
    """Property-style cross-check on a pseudo-random bucket layout that
    hits every tier, with duplicate (bucket, id) rows sprinkled in: the
    pairs equal the brute-force multiset, repeats included.
    ``bucket_cap=1`` salts every bucket; ``bucket_cap > star_cap`` is the
    cap-above-star case."""
    rng = random.Random(7)
    rows = []
    for b in range(40):
        size = rng.choice([1, 1, 2, 3, 5, 9, 20, 50])
        members = rng.sample(range(10_000), size)
        rows.extend((f"bk{b}", m) for m in members)
    rows.extend(rows[:17])
    # 30 < 35 <= 40: star edges at star_cap=30, all pairs at bucket_cap=40
    rows.extend(("bk_35", 20_000 + i) for i in range(35))
    df = spark.createDataFrame(rows, ["bucket_key", "file_id"])

    got = [
        (r["a_id"], r["b_id"])
        for r in pairs_from_buckets(
            df, bucket_cap=bucket_cap, star_cap=star_cap
        ).collect()
    ]
    expect = bruteforce_pairs(rows, bucket_cap, star_cap)
    assert Counter(got) == expect
    assert any(n > 1 for n in expect.values())  # repeats are exercised


def _signed64(v):
    return v - (1 << 64) if v >= 1 << 63 else v


def test_simhash_candidates_match_bruteforce_hamming(spark):
    """Seeded random 64-bit signatures plus planted pairs at exactly
    ``max_hamming`` and ``max_hamming + 1`` bits, and one block value
    shared by more than ``bucket_cap`` ids so the salted path runs. Each
    pair within the budget appears once per block it agrees on."""
    max_hamming, bucket_cap = 3, 8
    rng = random.Random(11)
    sigs = {i: rng.getrandbits(64) for i in range(60)}
    fid = 1000
    for flips in (max_hamming, max_hamming + 1) * 4:
        base = rng.getrandbits(64)
        bits = rng.sample(range(64), flips)
        sigs[fid] = base
        sigs[fid + 1] = base ^ sum(1 << b for b in bits)
        fid += 2
    # 20 ids flip 1-2 of the high 48 bits of one base: they share block 0
    # (the low 16 bits) -> a 20-member bucket, with pairwise distances
    # 0-4 straddling max_hamming
    hot = rng.getrandbits(64)
    for i in range(20):
        bits = rng.sample(range(16, 64), rng.choice((1, 2)))
        sigs[2000 + i] = hot ^ sum(1 << b for b in bits)
    df = spark.createDataFrame(
        [(k, _signed64(v)) for k, v in sigs.items()], "file_id long, simhash long"
    )

    expect = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= max_hamming
    }
    assert any(bin(sigs[a] ^ sigs[b]).count("1") == max_hamming for a, b in expect)
    assert (1002, 1003) not in expect  # planted at max_hamming + 1

    def shared_blocks(a, b):
        bits = 64 // (max_hamming + 1)
        mask = (1 << bits) - 1
        return sum(
            (sigs[a] >> i * bits) & mask == (sigs[b] >> i * bits) & mask
            for i in range(max_hamming + 1)
        )

    out = simhash_candidates(df, max_hamming, bucket_cap)
    got = Counter((r["a_id"], r["b_id"]) for r in out.collect())
    assert got == Counter({p: shared_blocks(*p) for p in expect})
    assert any(n > 1 for n in got.values())  # repeats are exercised


def test_building_candidates_submits_no_job(spark):
    """Only consuming the candidates runs jobs; the lazy path still finds
    the one pair whose signatures collide.

    Adaptive execution plans a query by running its shuffle-map stages, so
    with it on, building a lazy checkpoint still runs the sizing window's
    exchange. The build is checked with it off, where a job at build time
    can only be a materialization of the sized table."""
    sigs = spark.createDataFrame(
        [(1, [7, 8, 9, 10], [11, 12]), (2, [7, 8, 9, 10], [12, 13]),
         (3, [1, 2, 3, 4], [14])],
        "file_id long, minhash array<int>, fingerprints array<long>",
    ).withColumn(
        "fingerprints",
        F.col("fingerprints").alias(
            "fingerprints", metadata={"fp_k": 32, "fp_w": 32, "fp_min_bytes": 100}
        ),
    )
    tracker = spark.sparkContext.statusTracker()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = set(tracker.getJobIdsForGroup())
        mh = minhash_candidates(sigs, bands=2, rows=2)
        sub = substring_candidates(sigs)
        assert set(tracker.getJobIdsForGroup()) - before == set()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    got = {(r["a_id"], r["b_id"], r["stage"])
           for r in mh.unionByName(sub).collect()}
    assert got == {(1, 2, "minhash"), (1, 2, "substring")}
