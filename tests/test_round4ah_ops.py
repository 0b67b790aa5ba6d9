"""Round-4 additions (twenty-ninth batch): structural link-prediction
scores, lead-lag cross-correlation — each vs a verbatim naive python
oracle."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from featureextraction_spark.operators.graph import link_prediction_scores
from featureextraction_spark.operators.rolling import cross_correlation


def _naive_pearson_int(xs, ys):
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    rho = None
    if dx > 0 and dy > 0:
        rho = num / (math.sqrt(dx) * math.sqrt(dy))
    return num, dx, dy, rho


def _naive_link_pred(edges, min_cn=2, scale=10**12):
    edges = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {u: len(vs) for u, vs in adj.items()}
    out = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if (u, v) in edges:
                continue
            common = adj[u] & adj[v]
            if len(common) < min_cn:
                continue
            ra_q = sum(scale // deg[z] for z in common)
            out[(u, v)] = (len(common), deg[u], deg[v], ra_q,
                           len(common) / (deg[u] + deg[v] - len(common)))
    return out


def test_link_prediction_vs_naive(spark):
    rng = random.Random(313)
    edges = set()
    while len(edges) < 150:
        u, v = rng.randrange(35), rng.randrange(35)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {
        (r.u, r.v): (r.cn, r.deg_u, r.deg_v, r.ra_q, r.jaccard)
        for r in link_prediction_scores(df, min_cn=2).collect()
    }
    want = _naive_link_pred(sorted(edges), min_cn=2)
    assert set(got) == set(want)
    for k, (cn, du, dv, ra_q, jac) in want.items():
        g = got[k]
        assert g[:4] == (cn, du, dv, ra_q)
        assert abs(g[4] - jac) < 1e-12


def test_link_prediction_excludes_existing_edges_and_direction(spark):
    # triangle + pendant: 1-2, 2-3, 1-3, 3-4.  Only non-edge pairs with
    # common neighbors: (1,4) via 3, (2,4) via 3 -> cn=1 each, dropped
    # at min_cn=2; (u,v) orientation of input must not matter.
    df = spark.createDataFrame(
        [(2, 1), (3, 2), (1, 3), (4, 3)], "src long, dst long"
    )
    assert link_prediction_scores(df, min_cn=2).count() == 0
    got = {
        (r.u, r.v): r.cn
        for r in link_prediction_scores(df, min_cn=1).collect()
    }
    assert got == {(1, 4): 1, (2, 4): 1}


def _naive_ccf(x, y, max_lag):
    out = {}
    for k in range(-max_lag, max_lag + 1):
        pairs = [(xv, y[t + k]) for t, xv in x.items() if (t + k) in y]
        if not pairs:
            continue
        num, dx, dy, ccf = _naive_pearson_int(
            [p[0] for p in pairs], [p[1] for p in pairs]
        )
        out[k] = (len(pairs), num, dx, dy, ccf)
    return out


def test_cross_correlation_detects_known_lag(spark):
    # y is x shifted by +2 days (y_t = x_{t-2}): ccf peaks exactly at
    # lag +2 with rho == 1 (y lags x by 2).
    rng = random.Random(99)
    x = {t: rng.randrange(1, 100) for t in range(50)}
    y = {t + 2: v for t, v in x.items()}
    xdf = spark.createDataFrame(sorted(x.items()), "t long, xq long")
    ydf = spark.createDataFrame(sorted(y.items()), "t long, yq long")
    got = {r.lag: r for r in cross_correlation(xdf, ydf, max_lag=3).collect()}
    want = _naive_ccf(x, y, 3)
    assert set(got) == set(want)
    for k, (n, num, dx, dy, ccf) in want.items():
        r = got[k]
        assert (r.n, r.ccf_num, r.dx, r.dy) == (n, num, dx, dy)
        if ccf is None:
            assert r.ccf is None
        else:
            assert abs(r.ccf - ccf) < 1e-12
    assert abs(got[2].ccf - 1.0) < 1e-12
    assert all(got[k].ccf < 0.999 for k in got if k != 2)


def test_cross_correlation_constant_side_is_null(spark):
    xdf = spark.createDataFrame([(t, 7) for t in range(10)], "t long, xq long")
    ydf = spark.createDataFrame(
        [(t, t % 3) for t in range(10)], "t long, yq long"
    )
    rows = cross_correlation(xdf, ydf, max_lag=1).collect()
    assert rows and all(r.ccf is None and r.dx == 0 for r in rows)
