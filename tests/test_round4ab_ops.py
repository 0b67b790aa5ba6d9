"""Round-4 additions (twenty-seventh batch): the exact two-sample KS
test vs a verbatim naive python oracle."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from featureextraction_spark.operators.drift import ks_test


def test_ks_test_vs_naive(spark):
    rng = random.Random(149)
    rows = [("a", round(rng.gauss(10, 2), 2)) for _ in range(800)]
    rows += [("b", round(rng.gauss(11, 3), 2)) for _ in range(600)]
    rows += [("c", 999.0)] * 50  # excluded group
    df = spark.createDataFrame(rows, "g string, value double")
    r = ks_test(df, "value", "g", "a", "b", quant=100.0).collect()[0]
    qa = sorted(int(v * 100 + 0.5) for g, v in rows if g == "a")
    qb = sorted(int(v * 100 + 0.5) for g, v in rows if g == "b")
    na, nb = len(qa), len(qb)
    ca, cb = Counter(qa), Counter(qb)
    support = sorted(set(qa) | set(qb))
    best, at = -1, None
    ra = rb = 0
    for v in support:
        ra += ca.get(v, 0)
        rb += cb.get(v, 0)
        dev = abs(ra * nb - rb * na)
        if dev > best:
            best, at = dev, v
    assert (r.n_a, r.n_b, r.d_num, r.d_den, r.at_vq) == (
        na, nb, best, na * nb, at,
    )
    assert r.d == pytest.approx(best / (na * nb))
    # cross-check against scipy-style definition on the raw floats
    d_float = max(
        abs(
            sum(q <= v for q in qa) / na - sum(q <= v for q in qb) / nb
        )
        for v in support
    )
    assert r.d == pytest.approx(d_float, abs=1e-12)


def test_ks_test_identical_distributions_zero(spark):
    rows = [(g, float(v)) for g in ("a", "b") for v in range(100)]
    df = spark.createDataFrame(rows, "g string, value double")
    r = ks_test(df, "value", "g", "a", "b").collect()[0]
    assert r.d_num == 0 and r.d == 0.0
