"""Round-4 additions (twenty-eighth batch): fixed-round quantized
PageRank, the sweep-line concurrency peak, Flesch readability — each vs
a verbatim naive python oracle."""

from __future__ import annotations

import random
import re

from featureextraction_spark.functions.textstats import readability_features
from featureextraction_spark.operators.graph import pagerank_fixed
from featureextraction_spark.operators.intervals import max_concurrency


def _naive_pagerank(edges, rounds, scale=1_000_000, dn=17, dd=20):
    sym = set()
    for u, v in edges:
        sym.add((u, v))
        sym.add((v, u))
    nodes = sorted({u for u, _ in sym})
    out = {u: 0 for u in nodes}
    for u, _ in sym:
        out[u] += 1
    base = ((dd - dn) * scale) // dd
    rank = {u: scale for u in nodes}
    for _ in range(rounds):
        inq = {u: 0 for u in nodes}
        for u, v in sym:
            inq[v] += rank[u] // out[u]
        rank = {u: base + (dn * inq[u]) // dd for u in nodes}
    return out, rank


def test_pagerank_fixed_vs_naive(spark):
    rng = random.Random(131)
    edges = set()
    while len(edges) < 120:
        u, v = rng.randrange(40), rng.randrange(40)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    # plus a hub node attached to everything: must out-rank the rest
    edges |= {(99, v) for v in range(40)}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {
        r.node: (r.outdeg, r.rank_q)
        for r in pagerank_fixed(df, rounds=4).collect()
    }
    out, rank = _naive_pagerank(sorted(edges), rounds=4)
    assert got == {u: (out[u], rank[u]) for u in out}
    assert max(got, key=lambda n: got[n][1]) == 99


def test_pagerank_mass_is_conserved_up_to_floor_leak(spark):
    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = pagerank_fixed(df, rounds=6).collect()
    total = sum(r.rank_q for r in rows)
    n = len(rows)
    # unnormalized total mass ~ n*scale; floor div only ever leaks mass
    assert total <= n * 1_000_000
    assert total >= int(n * 1_000_000 * 0.95)


def test_max_concurrency_vs_naive(spark):
    rng = random.Random(137)
    rows = []
    for key in ["a", "b", "c"]:
        for i in range(60):
            s = rng.randrange(0, 1000)
            rows.append((key, i, s, s + rng.randrange(0, 200)))
    # touching intervals on one key: [0,10] and [10,20] overlap at 10
    rows += [("touch", 0, 0, 10), ("touch", 1, 10, 20)]
    df = spark.createDataFrame(
        rows, "k string, iv_id long, start_us long, end_us long"
    )
    got = {
        r.k: (r.n_intervals, r.max_concurrent, r.peak_us)
        for r in max_concurrency(df, by="k").collect()
    }
    exp = {}
    by_key = {}
    for k, i, s, e in rows:
        by_key.setdefault(k, []).append((i, s, e))
    for k, ivs in by_key.items():
        deltas = [(s, 0, i, 1) for i, s, _ in ivs] + [
            (e, 1, i, -1) for i, _, e in ivs
        ]
        run = mx = 0
        peak = None
        for t, _, _, d in sorted(deltas):
            run += d
            if run > mx:
                mx, peak = run, t
        exp[k] = (len(ivs), mx, peak)
    assert got == exp
    assert got["touch"][1] == 2  # inclusive ends: touching == overlapping


def test_max_concurrency_plan_has_no_single_partition_exchange(spark):
    df = spark.createDataFrame(
        [("a", 1, 0, 10)], "k string, iv_id long, start_us long, end_us long"
    )
    plan = (
        max_concurrency(df, by="k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in plan, plan


def _naive_readability(text):
    toks = re.findall(r"[^ \t\n\r\f\x0B]+", text.lower())
    w = len(toks)
    s = max(len(re.findall(r"[.!?]+", text)), 1)
    syl = sum(max(len(re.findall(r"[aeiouy]+", t)), 1) for t in toks)
    if w == 0:
        return w, s, 0, None, None
    flesch = (206835 * s * w - 1015 * w * w - 84600 * syl * s) / (
        1000 * s * w
    )
    fk = (390 * w * w + 11800 * syl * s - 15590 * s * w) / (1000 * s * w)
    return w, s, syl, flesch, fk


def test_readability_vs_naive(spark):
    docs = [
        (1, "The cat sat on the mat. It was happy!"),
        (2, "Antidisestablishmentarianism notwithstanding, brevity wins."),
        (3, ""),
        (4, "zzz brr tsk"),  # vowelless words still score 1 syllable each
        (5, "One. Two? Three!!! Four... five"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.words, r.sentences, r.syllables, r.flesch, r.fk_grade)
        for r in readability_features(df).collect()
    }
    for doc_id, text in docs:
        w, s, syl, flesch, fk = _naive_readability(text)
        gw, gs, gsyl, gf, gg = got[doc_id]
        assert (gw, gs, gsyl) == (w, s, syl)
        if flesch is None:
            assert gf is None and gg is None
        else:
            assert abs(gf - flesch) < 1e-9 and abs(gg - fk) < 1e-9
    # simple prose reads easier (higher flesch) than the sesquipedalian doc
    assert got[1][3] > got[2][3]
