"""Round-4 additions (thirty-ninth batch): KMV set-operation estimates
vs a verbatim naive python oracle and vs exact set arithmetic."""

from __future__ import annotations

import hashlib
import random

from featureextraction_spark.operators.sketches import (
    KMV_SPACE,
    kmv_set_ops,
    kmv_sketch,
)


def _h60(value, seed=0) -> int:
    return int(hashlib.md5(f"{value}:{seed}".encode()).hexdigest()[:15], 16)


def _naive_setops(vals_a, vals_b, k):
    ha = sorted({_h60(v) for v in vals_a})[:k]
    hb = sorted({_h60(v) for v in vals_b})[:k]
    merged = sorted(set(ha) | set(hb))[:k]
    matches = sum(1 for h in merged if h in set(ha) and h in set(hb))
    n_merged = len(merged)
    kth = merged[-1]
    union = float(n_merged) if n_merged < k else (k - 1) * KMV_SPACE / kth
    return n_merged, kth, matches, union


def test_kmv_setops_vs_naive(spark):
    rng = random.Random(491)
    a = [rng.randrange(3000) for _ in range(2000)]
    b = [rng.randrange(1500, 4500) for _ in range(2000)]
    da = spark.createDataFrame([(v,) for v in a], "v long")
    db = spark.createDataFrame([(v,) for v in b], "v long")
    got = kmv_set_ops(
        kmv_sketch(da, "v", k=128), kmv_sketch(db, "v", k=128), k=128
    ).collect()[0]
    n_merged, kth, matches, union = _naive_setops(a, b, 128)
    assert (got["n_merged"], got["kth_hash"], got["matches"]) == (
        n_merged, kth, matches,
    )
    assert got["union_est"] == union
    # estimates should land near the truth (k=128 -> ~9% rel error std)
    sa, sb = set(a), set(b)
    true_union, true_inter = len(sa | sb), len(sa & sb)
    assert 0.6 * true_union < got["union_est"] < 1.4 * true_union
    assert 0.4 * true_inter < got["intersection_est"] < 1.8 * true_inter
    jac = true_inter / true_union
    assert abs(got["jaccard_est"] - jac) < 0.15


def test_kmv_setops_exact_below_k(spark):
    # fewer distinct values than k: the merged state IS the union
    da = spark.createDataFrame([(v,) for v in range(10)], "v long")
    db = spark.createDataFrame([(v,) for v in range(5, 20)], "v long")
    got = kmv_set_ops(
        kmv_sketch(da, "v", k=64), kmv_sketch(db, "v", k=64), k=64
    ).collect()[0]
    assert got["n_merged"] == 20          # |A ∪ B| exactly
    assert got["union_est"] == 20.0
    assert got["matches"] == 5            # |A ∩ B| exactly
    assert abs(got["intersection_est"] - 5.0) < 1e-9


def test_kmv_setops_disjoint_and_identical(spark):
    da = spark.createDataFrame([(v,) for v in range(100)], "v long")
    db = spark.createDataFrame([(v,) for v in range(1000, 1100)], "v long")
    disjoint = kmv_set_ops(
        kmv_sketch(da, "v", k=32), kmv_sketch(db, "v", k=32), k=32
    ).collect()[0]
    assert disjoint["matches"] == 0 and disjoint["intersection_est"] == 0.0
    same = kmv_set_ops(
        kmv_sketch(da, "v", k=32), kmv_sketch(da, "v", k=32), k=32
    ).collect()[0]
    assert same["matches"] == same["n_merged"] == 32
    assert same["jaccard_est"] == 1.0


def test_parity_audit_vs_naive(spark):
    from featureextraction_spark.operators.evaluation import parity_audit

    rng = random.Random(492)
    rows = [("even", rng.randrange(90, 110)) for _ in range(400)]
    rows += [("high", rng.randrange(150, 250)) for _ in range(100)]  # +~80%
    rows += [("low", rng.randrange(40, 60)) for _ in range(100)]     # -~50%
    df = spark.createDataFrame(rows, "lang string, x long")
    got = {
        r["lang"]: r
        for r in parity_audit(df, "lang", "x", tol_pct=10).collect()
    }
    n_g = len(rows)
    sum_g = sum(x for _, x in rows)
    for lang in ("even", "high", "low"):
        xs = [x for l, x in rows if l == lang]
        n_s, sum_s = len(xs), sum(xs)
        breach = abs(sum_s * n_g * 100 - sum_g * n_s * 100) > 10 * sum_g * n_s
        r = got[lang]
        assert (r["n_s"], r["sum_s"]) == (n_s, sum_s)
        assert r["breaches_parity"] == int(breach)
        assert abs(r["mean_slice"] - sum_s / n_s) < 1e-9
        want_gap = 100 * (sum_s * n_g - sum_g * n_s) / (sum_g * n_s)
        assert abs(r["gap_pct"] - want_gap) < 1e-9
    assert got["high"]["breaches_parity"] == 1
    assert got["low"]["breaches_parity"] == 1
    assert got["even"]["breaches_parity"] == 0
    assert got["high"]["gap_pct"] > 0 > got["low"]["gap_pct"]
