"""Round-4 additions (twenty-ninth batch): GraphSAGE-style neighbor
aggregation and the dispersion index — each vs a verbatim naive python
oracle."""

from __future__ import annotations

import random
from collections import defaultdict

from featureextraction_spark.operators.graph import neighbor_agg
from featureextraction_spark.operators.profiling import dispersion_index


def test_neighbor_agg_vs_naive(spark):
    rng = random.Random(211)
    n = 60
    edges = set()
    while len(edges) < 120:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    feats = [(i, rng.randrange(-50, 500)) for i in range(n)]
    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    fdf = spark.createDataFrame(feats, "node long, q long")
    got = {
        r.node: (r.self_q, r.degree, r.nbr_sum_q, r.nbr_mean)
        for r in neighbor_agg(edf, fdf).collect()
    }
    q = dict(feats)
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    assert set(got) == set(range(n))
    for node in range(n):
        deg = len(adj[node])
        s = sum(q[v] for v in adj[node])
        exp_mean = s / deg if deg else None
        sq, d, ss, m = got[node]
        assert (sq, d, ss) == (q[node], deg, s)
        if deg:
            assert abs(m - exp_mean) < 1e-12
        else:
            assert m is None


def test_neighbor_agg_dedups_reversed_edges(spark):
    # the same undirected edge listed both ways must count once
    edf = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3)], "src long, dst long"
    )
    fdf = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "node long, q long"
    )
    got = {r.node: (r.degree, r.nbr_sum_q) for r in neighbor_agg(edf, fdf).collect()}
    assert got == {1: (2, 50), 2: (1, 10), 3: (1, 10)}


def test_dispersion_index_vs_naive(spark):
    rng = random.Random(223)
    rows = []
    for g in ["a", "b", "c"]:
        for _ in range(rng.randint(5, 400)):
            rows.append((g, round(rng.uniform(0, 30), 3)))
    # a regular group (dispersion < 1) and a constant group
    rows += [("reg", float(v)) for v in range(1, 50)]
    rows += [("const", 7.0)] * 20
    df = spark.createDataFrame(rows, "grp string, value double")
    out = {
        r.grp: (r.n, r.sum_q, r.sum_q2, r.disp_num, r.disp_den, r.dispersion)
        for r in dispersion_index(df, value="value", by="grp", quant=10.0).collect()
    }
    by = defaultdict(list)
    for g, v in rows:
        by[g].append(int((v * 10.0) + 0.5) if v >= 0 else None)
    for g, qs in by.items():
        n, s, s2 = len(qs), sum(qs), sum(x * x for x in qs)
        num, den = n * s2 - s * s, n * s
        gn, gs, gs2, gnum, gden, gd = out[g]
        assert (gn, gs, gs2, gnum, gden) == (n, s, s2, num, den)
        if den:
            assert abs(gd - num / (den * 10.0)) < 1e-12
    # variance-to-mean semantics: clumped > 1 possible, constant group == 0
    assert out["const"][5] == 0.0

