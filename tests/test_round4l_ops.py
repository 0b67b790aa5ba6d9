"""Round-4 additions (twelfth batch): Bloom filter build/probe, join-key
skew profiling and the q-gram-filtered edit-distance self-join — each
vs a verbatim naive python oracle."""

from __future__ import annotations

import hashlib
import random
from collections import Counter, defaultdict

import pytest
from pyspark.sql import Row

from featureextraction_spark.operators.profiling import skew_histogram, skew_topk
from featureextraction_spark.operators.sketches import (
    BLOOM_WORD_BITS,
    bloom_build,
    bloom_probe,
)
from featureextraction_spark.operators.stringjoin import edit_distance_pairs


def _h60(x: str, seed: int) -> int:
    return int(hashlib.md5(f"{x}:{seed}".encode()).hexdigest()[:15], 16)


def _bloom_pos(x: str, k: int, m: int) -> list[int]:
    h0, h1 = _h60(x, 0), _h60(x, 1)
    return [((h0 % m) + j * ((h1 % m) * 2 + 1)) % m for j in range(k)]


K, M = 5, 2048


def test_bloom_build_matches_naive_and_probe_has_no_false_negatives(spark):
    members = [f"user-{i}" for i in range(300)]
    df = spark.createDataFrame([(m,) for m in members], "key string")
    words = {r.word: r.bits for r in bloom_build(df, "key", k=K, m_bits=M).collect()}

    exp: dict[int, int] = defaultdict(int)
    for x in members:
        for p in _bloom_pos(x, K, M):
            exp[p // BLOOM_WORD_BITS] |= 1 << (p % BLOOM_WORD_BITS)
    assert words == dict(exp)

    probes = members[:50] + [f"ghost-{i}" for i in range(200)]
    pdf = spark.createDataFrame([(p,) for p in probes], "key string")
    got = {
        r.key: (r.maybe_member, r.n_hits)
        for r in bloom_probe(
            pdf, bloom_build(df, "key", k=K, m_bits=M), "key", k=K, m_bits=M
        ).collect()
    }
    fp = 0
    for p in probes:
        hits = sum(
            (exp[pos // BLOOM_WORD_BITS] >> (pos % BLOOM_WORD_BITS)) & 1
            for pos in _bloom_pos(p, K, M)
        )
        assert got[p] == (hits == K, hits), p
        if p.startswith("user-"):
            assert got[p][0] is True  # no false negatives, ever
        elif got[p][0]:
            fp += 1
    # 300 keys in 2048 bits is a loaded filter; fp rate should still be sane
    assert fp < 120


def test_skew_profile_vs_counter(spark):
    rng = random.Random(7)
    keys = [rng.choice(["hot"] * 50 + [f"k{i}" for i in range(40)]) for _ in range(2000)]
    df = spark.createDataFrame([(k,) for k in keys], "user_id string")
    c = Counter(keys)

    top = skew_topk(df, "user_id", top_n=5).collect()
    exp_top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r.key, r.cnt) for r in sorted(top, key=lambda r: (-r.cnt, r.key))] == exp_top
    for r in top:
        assert (r.total_rows, r.n_keys) == (2000, len(c))
        assert r.share_ppm == r.cnt * 1_000_000 // 2000

    hist = {r.bucket: (r.n_keys, r.rows_in_bucket) for r in skew_histogram(df, "user_id").collect()}
    exp_hist: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for _, n in c.items():
        b = len(bin(n)) - 2
        exp_hist[b][0] += 1
        exp_hist[b][1] += n
    assert hist == {b: tuple(v) for b, v in exp_hist.items()}


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("max_dist", [1, 2])
def test_edit_distance_pairs_complete_and_precise(spark, max_dist):
    rng = random.Random(11)
    base = [
        "".join(rng.choice("abcdefgh ") for _ in range(rng.randint(12, 40)))
        for _ in range(60)
    ]
    rows = []
    did = 0
    for s in base:
        rows.append(Row(doc_id=did, text=s)); did += 1
        if rng.random() < 0.5:  # planted typo variant
            pos = rng.randrange(len(s))
            mutated = s[:pos] + rng.choice("abcdefgh") + s[pos + 1 :]
            rows.append(Row(doc_id=did, text=mutated)); did += 1
    df = spark.createDataFrame(rows)
    got = {
        (r.id1, r.id2): r.dist
        for r in edit_distance_pairs(df, max_dist=max_dist, q=3).collect()
    }
    texts = {r.doc_id: r.text for r in rows}
    exp = {}
    ids = sorted(texts)
    for i, x in enumerate(ids):
        for y in ids[i + 1 :]:
            d = _lev(texts[x], texts[y])
            if d <= max_dist:
                exp[(x, y)] = d
    assert got == exp  # complete (prefix filter) AND precise (verify)
    assert exp  # the fixture actually planted matches
