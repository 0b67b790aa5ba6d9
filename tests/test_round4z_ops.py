"""Round-4 additions (twenty-fifth batch): sorted-neighborhood
blocking and the k-anonymity audit — each vs a verbatim naive python
oracle."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from featureextraction_spark.operators.curation import k_anonymity_audit
from featureextraction_spark.operators.dedup import sorted_neighborhood_pairs


def test_sorted_neighborhood_pairs_vs_naive(spark):
    rng = random.Random(109)
    rows = [
        (i, "".join(rng.choices("abc", k=4))) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, k string")
    w = 4
    got = sorted(
        (r.a_id, r.b_id, r.rank_a, r.rank_b)
        for r in sorted_neighborhood_pairs(
            df, F.col("k"), "id", window=w
        ).collect()
    )
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    exp = []
    for i, (ida, _) in enumerate(order):
        for j in range(i + 1, min(i + w + 1, len(order))):
            exp.append((ida, order[j][0], i, j))
    assert got == sorted(exp)
    # candidate volume is n*w bounded
    assert len(got) <= len(rows) * w


def test_k_anonymity_audit_vs_naive(spark):
    rows = (
        [("en", "web", i) for i in range(10)]          # k ok, l ok
        + [("en", "book", 5)] * 3                      # k fail, l fail
        + [("fr", "web", 1), ("fr", "web", 2),
           ("fr", "web", 3), ("fr", "web", 4),
           ("fr", "web", 4)]                           # k ok (5), l ok
        + [("de", "web", 9)] * 6                       # k ok, l fail
    )
    df = spark.createDataFrame(rows, "lang string, source string, s long")
    got = {
        (r.lang, r.source): (r.grp_n, r.n_sensitive, r.k_ok, r.l_ok)
        for r in k_anonymity_audit(
            df, ["lang", "source"], "s", k=5, l_div=2
        ).collect()
    }
    assert got[("en", "web")] == (10, 10, 1, 1)
    assert got[("en", "book")] == (3, 1, 0, 0)
    assert got[("fr", "web")] == (5, 4, 1, 1)
    assert got[("de", "web")] == (6, 1, 1, 0)
