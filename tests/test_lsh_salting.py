"""Salted bucket pair enumeration: completeness across all three size tiers.

``pairs_from_buckets`` sizes each bucket with a window and enumerates
pairs by tier: all-pairs up to ``bucket_cap``, salted all-pairs up to
``star_cap``, star edges around the bucket minimum above it.
"""

import random
from collections import defaultdict
from itertools import combinations

from spaczz_spark.operators.lsh import pairs_from_buckets


def bruteforce_pairs(rows, star_cap):
    """The three tier rules in plain Python over (bucket_key, id) rows.
    The small and salted mid tiers both yield every pair, so only
    ``star_cap`` shapes the set; bucket size counts duplicate rows, as the
    sizing window does."""
    buckets = defaultdict(list)
    for key, fid in rows:
        buckets[key].append(fid)
    pairs = set()
    for members in buckets.values():
        ids = sorted(set(members))
        if len(members) <= star_cap:
            pairs |= set(combinations(ids, 2))
        else:
            pairs |= {(ids[0], m) for m in ids[1:]}
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
        for r in pairs_from_buckets(
            df, bucket_cap=8, n_salt=4, star_cap=40
        ).collect()
    }

    expect = set()
    expect |= {tuple(sorted(p)) for p in combinations(range(100, 104), 2)}
    # mid tier: salted join must still produce ALL pairs
    expect |= {tuple(sorted(p)) for p in combinations(range(200, 230), 2)}
    # huge tier: star edges only (min member -> others)
    expect |= {(300, 300 + i) for i in range(1, 60)}

    assert got == expect


def test_duplicate_bucket_rows_do_not_duplicate_pairs(spark):
    df = spark.createDataFrame(
        [("b", 1), ("b", 2), ("c", 1), ("c", 2)], ["bucket_key", "file_id"]
    )
    out = pairs_from_buckets(df, bucket_cap=8).collect()
    assert [(r["a_id"], r["b_id"]) for r in out] == [(1, 2)]


def test_payload_rides_through_every_tier(spark):
    """payload_col must attach each id's payload to both pair sides across
    all three tiers (SimHash's hamming filter depends on it)."""
    rows = []
    for i in range(4):
        rows.append(("b_small", 100 + i, 1000 + i))
    for i in range(30):
        rows.append(("b_hot", 200 + i, 2000 + i))
    for i in range(60):
        rows.append(("b_huge", 300 + i, 3000 + i))
    df = spark.createDataFrame(rows, ["bucket_key", "file_id", "sig"])

    out = pairs_from_buckets(
        df, bucket_cap=8, n_salt=4, star_cap=40, payload_col="sig"
    ).collect()

    ids = {(r["a_id"], r["b_id"]) for r in out}
    expect = {tuple(sorted(p)) for p in combinations(range(100, 104), 2)}
    expect |= {tuple(sorted(p)) for p in combinations(range(200, 230), 2)}
    expect |= {(300, 300 + i) for i in range(1, 60)}
    assert ids == expect
    # payload is id + 900/1800/2700 by construction in every bucket
    for r in out:
        assert r["a_pl"] - r["a_id"] in (900, 1800, 2700)
        assert r["b_pl"] - r["b_id"] in (900, 1800, 2700)
        assert r["a_pl"] - r["a_id"] == r["b_pl"] - r["b_id"]


def test_random_layout_pair_set_matches_bruteforce(spark):
    """Property-style cross-check on a pseudo-random bucket layout that
    hits every tier, with duplicate (bucket, id) rows sprinkled in."""
    rng = random.Random(7)
    rows = []
    for b in range(40):
        size = rng.choice([1, 1, 2, 3, 5, 9, 20, 50])
        members = rng.sample(range(10_000), size)
        rows.extend((f"bk{b}", m) for m in members)
    rows.extend(rows[:17])
    df = spark.createDataFrame(rows, ["bucket_key", "file_id"])

    got = [
        (r["a_id"], r["b_id"])
        for r in pairs_from_buckets(
            df, bucket_cap=8, n_salt=4, star_cap=30
        ).collect()
    ]
    assert len(got) == len(set(got))
    expect = bruteforce_pairs(rows, star_cap=30)
    assert set(got) == expect
    assert expect  # non-vacuous
