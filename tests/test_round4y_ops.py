"""Round-4 additions (twenty-fourth batch): r×c contingency chi-squared
grid vs a verbatim naive python oracle."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from featureextraction_spark.operators.evaluation import contingency_table


def test_contingency_table_vs_naive(spark):
    rng = random.Random(103)
    cats_a, cats_b = ["x", "y", "z"], ["p", "q"]
    rows = [(rng.choice(cats_a), rng.choice(cats_b)) for _ in range(600)]
    # force a zero cell: no ('z', 'q') pairs
    rows = [(a, b) for a, b in rows if not (a == "z" and b == "q")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = {
        (r.cat_a, r.cat_b): (r.o, r.r, r.c, r.n, r.dev_num, r.dev_den)
        for r in contingency_table(df, "a", "b").collect()
    }
    n = len(rows)
    cells = Counter(rows)
    ra = Counter(a for a, _ in rows)
    cb = Counter(b for _, b in rows)
    # full grid including the zero cell
    assert set(got) == {(a, b) for a in cats_a for b in cats_b}
    chi2 = 0.0
    for a in cats_a:
        for b in cats_b:
            o = cells.get((a, b), 0)
            dev_num = (n * o - ra[a] * cb[b]) ** 2
            dev_den = n * ra[a] * cb[b]
            assert got[(a, b)] == (o, ra[a], cb[b], n, dev_num, dev_den)
            chi2 += dev_num / dev_den
    # cross-check the summed statistic against the textbook form
    chi2_ref = sum(
        (cells.get((a, b), 0) - ra[a] * cb[b] / n) ** 2 / (ra[a] * cb[b] / n)
        for a in cats_a
        for b in cats_b
    )
    assert chi2 == pytest.approx(chi2_ref)
    assert got[("z", "q")][0] == 0 and got[("z", "q")][4] > 0
