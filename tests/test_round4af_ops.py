"""Round-4 additions (thirty-first batch): Welch t², single-scan
correlation matrix, canonical-doc pick — each vs a verbatim naive python
oracle (statistics double-checked against closed forms)."""

from __future__ import annotations

import random
from collections import defaultdict

from pyspark.sql import functions as F

from featureextraction_spark.operators.evaluation import welch_t2
from featureextraction_spark.operators.profiling import corr_matrix


def test_welch_t2_vs_naive(spark):
    rng = random.Random(401)
    rows = []
    for g, (mu_a, mu_b) in [("x", (50, 50)), ("y", (40, 70)), ("z", (10, 12))]:
        for _ in range(rng.randint(30, 200)):
            rows.append((g, "A", mu_a + rng.randrange(-20, 21)))
        for _ in range(rng.randint(30, 200)):
            rows.append((g, "B", mu_b + rng.randrange(-5, 6)))
    # degenerate group: one unit on the B side -> NULL stats
    rows += [("tiny", "A", 5), ("tiny", "A", 7), ("tiny", "B", 6)]
    df = spark.createDataFrame(rows, "grp string, variant string, q long")
    got = {
        r.grp: (
            r.n_a, r.s_a, r.q2_a, r.n_b, r.s_b, r.q2_b,
            r.var_num_a, r.var_num_b, r.t2, r.df_w,
        )
        for r in welch_t2(df).collect()
    }
    by = defaultdict(lambda: {"A": [], "B": []})
    for g, v, q in rows:
        by[g][v].append(q)
    for g, sides in by.items():
        qa, qb = sides["A"], sides["B"]
        na, nb = len(qa), len(qb)
        sa, sb = sum(qa), sum(qb)
        q2a, q2b = sum(x * x for x in qa), sum(x * x for x in qb)
        vna, vnb = na * q2a - sa * sa, nb * q2b - sb * sb
        r = got[g]
        assert r[:8] == (na, sa, q2a, nb, sb, q2b, vna, vnb), g
        if na > 1 and nb > 1:
            va = vna / (na * (na - 1))
            vb = vnb / (nb * (nb - 1))
            ua, ub = va / na, vb / nb
            d = sa / na - sb / nb
            t2 = d * d / (ua + ub)
            dfw = (ua + ub) ** 2 / (ua**2 / (na - 1) + ub**2 / (nb - 1))
            assert abs(r[8] - t2) < 1e-9 * max(1.0, t2), g
            assert abs(r[9] - dfw) < 1e-9 * max(1.0, dfw), g
        else:
            assert r[8] is None and r[9] is None, g
    # the separated group must dominate the equal-means group
    assert got["y"][8] > got["x"][8]


def test_corr_matrix_vs_naive(spark):
    rng = random.Random(409)
    rows = []
    for _ in range(400):
        x = rng.randrange(0, 100)
        rows.append(
            (
                float(x),
                float(2 * x + rng.randrange(-10, 11)),     # strong +corr
                float(-3 * x + rng.randrange(-30, 31)),    # strong -corr
                float(rng.randrange(0, 50)),               # independent
            )
        )
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    out = {
        (r.col_x, r.col_y): r
        for r in corr_matrix(
            df, [("a", 1.0), ("b", 1.0), ("c", 1.0), ("d", 1.0)]
        ).collect()
    }
    assert set(out) == {
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")
    }
    import math

    cols = list(zip(*[[math.floor(v + 0.5) for v in row] for row in rows]))
    names = ["a", "b", "c", "d"]
    n = len(rows)
    for i, x in enumerate(names):
        for y_i in range(i + 1, 4):
            y = names[y_i]
            xs, ys = cols[i], cols[y_i]
            sx, sy = sum(xs), sum(ys)
            sxy = sum(p * q for p, q in zip(xs, ys))
            sxx = sum(p * p for p in xs)
            syy = sum(q * q for q in ys)
            cov = n * sxy - sx * sy
            vx, vy = n * sxx - sx * sx, n * syy - sy * sy
            r = out[(x, y)]
            assert (r.n, r.sum_x, r.sum_y, r.sum_xy) == (n, sx, sy, sxy)
            assert (r.cov_num, r.varx_num, r.vary_num) == (cov, vx, vy)
            assert r.r_sign == (cov > 0) - (cov < 0)
            assert abs(r.r2 - cov * cov / (vx * vy)) < 1e-12
    assert out[("a", "b")].r_sign == 1 and out[("a", "b")].r2 > 0.9
    assert out[("a", "c")].r_sign == -1 and out[("a", "c")].r2 > 0.9
    assert out[("a", "d")].r2 < 0.1


def test_canonical_pick_vs_naive(spark):
    from featureextraction_spark.operators.dedup import canonical_pick

    docs = spark.createDataFrame(
        [(i, 100 + (i * 37) % 50) for i in range(20)],
        "doc_id long, n_chars long",
    )
    # clusters: {0,1,2} and {5,6}; 6 ties 5 on score handled by id;
    # everything else singleton
    clusters = spark.createDataFrame(
        [(0, 0, 3), (1, 0, 3), (2, 0, 3), (5, 5, 2), (6, 5, 2)],
        "doc_id long, cluster_id long, cluster_size long",
    )
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.canon_id, r.is_canon)
        for r in canonical_pick(docs, clusters).collect()
    }
    score = {i: 100 + (i * 37) % 50 for i in range(20)}
    assert set(got) == set(range(20))
    c0 = max([0, 1, 2], key=lambda i: (score[i], -i))
    c5 = max([5, 6], key=lambda i: (score[i], -i))
    for i in range(20):
        if i in (0, 1, 2):
            assert got[i] == (0, 3, c0, int(i == c0))
        elif i in (5, 6):
            assert got[i] == (5, 2, c5, int(i == c5))
        else:
            assert got[i] == (i, 1, i, 1)
