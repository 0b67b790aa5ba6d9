"""Round-5 additions (fifth batch): JS slice divergence, Krippendorff's
alpha, class-balance weights, quantile normalization vs verbatim naive
oracles."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from featureextraction_spark.operators.drift import js_divergence
from featureextraction_spark.operators.encoding import quantile_normalize
from featureextraction_spark.operators.evaluation import krippendorff_alpha
from featureextraction_spark.operators.sampling import balance_weights


def _naive_js(rows):
    """rows: (part, cat). Per-part JS vs corpus mix (natural log)."""
    cells = Counter(rows)
    np_ = Counter(p for p, _ in rows)
    nc = Counter(c for _, c in rows)
    n = len(rows)
    out = {}
    for p in np_:
        js_p = js_q = 0.0
        for c in nc:
            pc = cells.get((p, c), 0) / np_[p]
            qc = nc[c] / n
            m = (pc + qc) / 2.0
            if pc > 0:
                js_p += pc * math.log(pc / m)
            js_q += qc * math.log(qc / m)
        out[p] = (np_[p], js_p / 2 + js_q / 2, js_p / 2, js_q / 2)
    return out


def test_js_divergence_vs_naive(spark):
    rows = [(f"p{i % 3}", f"c{(i * 7 + i // 5) % 6}") for i in range(400)]
    # make p2 visibly skewed toward c0
    rows += [("p2", "c0")] * 80
    df = spark.createDataFrame(rows, "part string, cat string")
    got = {r["part"]: r for r in js_divergence(df, "part", "cat").collect()}
    want = _naive_js(rows)
    assert set(got) == set(want)
    for p, (nr, js, jp, jq) in want.items():
        r = got[p]
        assert r["n_rows"] == nr
        assert abs(r["js"] - js) < 1e-9
        assert abs(r["js_p"] - jp) < 1e-9
        assert abs(r["js_q"] - jq) < 1e-9
        assert -1e-12 <= r["js"] <= math.log(2) + 1e-12  # JS ∈ [0, ln 2]
    # the skewed partition drifts more than the balanced ones
    assert got["p2"]["js"] > got["p0"]["js"]


def test_js_divergence_identical_mix_is_zero(spark):
    # every partition has the exact corpus mix -> JS == 0
    rows = [(f"p{i % 4}", f"c{i % 5}") for i in range(200)]
    df = spark.createDataFrame(rows, "part string, cat string")
    for r in js_divergence(df, "part", "cat").collect():
        assert abs(r["js"]) < 1e-12


def _naive_alpha(rows):
    """rows: (unit, cat). Nominal Krippendorff over units with n_u>=2."""
    by_u = defaultdict(Counter)
    for u, c in rows:
        by_u[u][c] += 1
    keep = {u: cnt for u, cnt in by_u.items() if sum(cnt.values()) >= 2}
    n = sum(sum(c.values()) for c in keep.values())
    nc = Counter()
    for cnt in keep.values():
        nc.update(cnt)
    do_sum = sum(
        (sum(c.values()) ** 2 - sum(v * v for v in c.values()))
        / (sum(c.values()) - 1)
        for c in keep.values()
    )
    de_num = n * n - sum(v * v for v in nc.values())
    alpha = 1 - (n - 1) * do_sum / de_num if n > 1 and de_num > 0 else None
    return n, len(keep), len(nc), de_num, do_sum, alpha


def test_krippendorff_vs_naive(spark):
    # 12 units x ~6 ratings with decent agreement + 1 singleton (excluded)
    rows = []
    for u in range(12):
        maj = f"c{u % 3}"
        for j in range(6):
            rows.append((f"u{u}", maj if j < 4 else f"c{(u + j) % 3}"))
    rows.append(("lonely", "c0"))  # singleton unit: no pairable evidence
    df = spark.createDataFrame(rows, "unit string, cat string")
    r = krippendorff_alpha(df, "unit", "cat").collect()[0]
    n, n_units, n_cats, de_num, do_sum, alpha = _naive_alpha(rows)
    assert (r["n"], r["n_units"], r["n_cats"], r["de_num"]) == (
        n, n_units, n_cats, de_num,
    )
    assert abs(r["do_sum"] - do_sum) < 1e-9
    assert abs(r["alpha"] - alpha) < 1e-9
    assert 0.0 < r["alpha"] < 1.0  # planted partial agreement


def test_krippendorff_perfect_and_degenerate(spark):
    # perfect agreement: every unit unanimous, multiple categories -> 1.0
    rows = [(f"u{i % 6}", f"c{i % 6 % 3}") for i in range(60)]
    r = krippendorff_alpha(
        spark.createDataFrame(rows, "unit string, cat string"), "unit", "cat"
    ).collect()[0]
    assert abs(r["alpha"] - 1.0) < 1e-12
    # single category everywhere: de_num == 0 -> NULL
    rows2 = [(f"u{i % 5}", "only") for i in range(50)]
    r2 = krippendorff_alpha(
        spark.createDataFrame(rows2, "unit string, cat string"), "unit", "cat"
    ).collect()[0]
    assert r2["de_num"] == 0 and r2["alpha"] is None


def test_balance_weights_vs_naive(spark):
    counts = {"a": 500, "b": 50, "c": 5}
    rows = [(lab,) for lab, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "lab string")
    got = {r["label"]: r for r in balance_weights(df, "lab", beta=0.99).collect()}
    eff = {lab: (1 - 0.99 ** n) / (1 - 0.99) for lab, n in counts.items()}
    wsum = sum(1 / e for e in eff.values())
    for lab, n in counts.items():
        r = got[lab]
        assert r["n"] == n
        assert abs(r["eff_n"] - eff[lab]) < 1e-9
        assert abs(r["weight"] - 1 / eff[lab]) < 1e-9
        assert abs(r["weight_norm"] - (1 / eff[lab]) * 3 / wsum) < 1e-9
    # rare class upweighted, capped by effective-number saturation:
    # weight ratio far below the 100x raw frequency ratio
    assert got["c"]["weight"] > got["a"]["weight"]
    assert got["c"]["weight"] / got["a"]["weight"] < 100 * 0.5


def test_quantile_normalize_vs_naive(spark):
    from featureextraction_spark.operators.cache import (
        release_persisted_intermediates,
    )

    # slice s0 shifted +1000 vs s1; after normalization both slices map
    # onto the pooled values
    rows = [(i, "s0", 1000 + i * 3) for i in range(40)]
    rows += [(100 + i, "s1", i * 7 % 97) for i in range(60)]
    df = spark.createDataFrame(rows, "doc long, sl string, val long")
    out = quantile_normalize(df, "val", "doc", "sl").collect()
    release_persisted_intermediates()

    pooled = sorted((v, i) for i, _, v in rows)
    n = len(rows)
    per_slice = defaultdict(list)
    for i, s, v in rows:
        per_slice[s].append((v, i))
    want = {}
    for s, vals in per_slice.items():
        vals.sort()
        ns = len(vals)
        for r0, (v, i) in enumerate(vals, start=1):
            j = -(-((2 * r0 - 1) * n) // (2 * ns))  # ceil
            want[i] = (s, v, r0, ns, j, pooled[j - 1][0])
    assert len(out) == len(rows)
    for r in out:
        s, v, r0, ns, j, q = want[r["id"]]
        assert (r["slice"], r["v"], r["r"], r["n_slice"], r["j"], r["qnorm"]) \
            == (s, v, r0, ns, j, q)
    # rank order within each slice is preserved by construction; the two
    # slices now share the pooled support
    s0_q = sorted(r["qnorm"] for r in out if r["slice"] == "s0")
    assert s0_q[0] < 1000  # the shift is gone
