"""Round-4 additions (twelfth batch): Bloom filter build/probe and join-key
skew profiling — each vs a verbatim naive python oracle."""

from __future__ import annotations

import hashlib
import random
from collections import Counter, defaultdict

from featureextraction_spark.operators.profiling import skew_histogram, skew_topk
from featureextraction_spark.operators.sketches import (
    BLOOM_WORD_BITS,
    bloom_build,
    bloom_probe,
)


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

