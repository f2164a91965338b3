"""lsh.bucket_pairs: the census + hot-kill + equi-join shared by every
dedup candidate source, checked against a plain-Python self-join."""

from collections import Counter
from itertools import combinations
import random

import pytest

from webdedup.lsh import bucket_pairs

MAX_BIN = 12
N_DOCS = 40
FIRST_NEW = 28  # docs >= this id are new, the rest are already stored
HOT, NEAR_CAP = 999, 998
#: every stored doc and two new ones: hot only by the store-wide census
HOT_DOCS = set(range(FIRST_NEW + 2))
#: every third doc, stored and new alike, up to one below the cap
NEAR_CAP_DOCS = set(list(range(0, N_DOCS, 3))[:MAX_BIN - 1])

#: the three key shapes the engine joins on, each built from one int key
KEY_SHAPES = {
    "band": (["band", "band_hash"], "band int, band_hash long",
             lambda k: (k % 3, k * 1_000_003)),
    "simhash_block": (["tbl", "key"], "tbl int, key long",
                      lambda k: (k % 5, k << 20)),
    "substring_fp": (["fp"], "fp long", lambda k: (k,)),
}


def _bucket_rows():
    """(doc_id, is_new, key) rows: ~4 docs per ordinary bucket, one hot
    bucket (>= MAX_BIN, tombstoned) with fewer than MAX_BIN new members,
    and one just under the cap mixing stored and new docs (survives)."""
    rng = random.Random(7)
    rows = []
    for doc in range(N_DOCS):
        keys = set(rng.sample(range(30), 3))
        if doc in HOT_DOCS:
            keys.add(HOT)
        if doc in NEAR_CAP_DOCS:
            keys.add(NEAR_CAP)
        rows += [(doc, doc >= FIRST_NEW, k) for k in sorted(keys)]
    return rows


def _expected(rows, only_new: bool) -> Counter:
    """The full self-join over surviving buckets (one row per pair per
    shared bucket), optionally kept to pairs with >= 1 new side."""
    buckets: dict = {}
    for doc, new, key in rows:
        buckets.setdefault(key, []).append((doc, new))
    out = Counter()
    for members in buckets.values():
        if len(members) >= MAX_BIN:
            continue
        for (x, nx), (y, ny) in combinations(members, 2):
            if not only_new or nx or ny:
                out[(min(x, y), max(x, y))] += 1
    return out


@pytest.mark.parametrize("shape", sorted(KEY_SHAPES))
def test_bucket_pairs_is_the_self_join_restricted_to_new(spark, shape):
    keys, key_schema, to_key = KEY_SHAPES[shape]
    rows = _bucket_rows()
    sizes = Counter(k for _, _, k in rows)
    assert sizes[HOT] >= MAX_BIN > len(HOT_DOCS - set(range(FIRST_NEW)))
    assert sizes[NEAR_CAP] == MAX_BIN - 1
    assert {d >= FIRST_NEW for d, _, k in rows if k == NEAR_CAP} == {False, True}

    df = spark.createDataFrame(
        [(d, new, *to_key(k)) for d, new, k in rows],
        f"doc_id long, is_new boolean, {key_schema}",
    )
    got = Counter(
        (r["a"], r["b"]) for r in bucket_pairs(df, keys, MAX_BIN).collect()
    )
    expected = _expected(rows, only_new=True)
    assert got == expected
    assert expected and any(a < FIRST_NEW for a, _ in expected)  # new × old

    # without the flag every row is new: the plain a < b self-join, with
    # the condition folded away rather than evaluated per pair
    plain = bucket_pairs(df.drop("is_new"), keys, MAX_BIN)
    got_all = Counter((r["a"], r["b"]) for r in plain.collect())
    assert got_all == _expected(rows, only_new=False)
    optimized = plain._jdf.queryExecution().optimizedPlan().toString()
    (pair_join,) = [ln for ln in optimized.splitlines() if "Join Inner" in ln]
    assert "is_new" not in pair_join and "<" in pair_join
