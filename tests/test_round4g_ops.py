"""Round-4 additions (seventh batch) — recency / expanding / lookahead
point-in-time windows, scalable per-group normalized rank, winsorize,
chi-square drift bins and vocabulary coverage — each vs a naive python
oracle, plus leakage and plan-shape audits."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from featureextraction_spark.operators.curation import vocab_coverage
from featureextraction_spark.operators.drift import histogram_drift
from featureextraction_spark.operators.ranking import group_normalized_rank, winsorize
from featureextraction_spark.operators.recency import (
    expanding_features,
    lookahead_labels,
    recency_features,
)


def _us(ts) -> int:
    return int(ts.value // 1000)  # pandas ns → µs


def _sorted_rows(pdf):
    by_conv = defaultdict(list)
    for r in pdf.sort_values(["conv_id", "turn_idx"]).itertuples():
        by_conv[r.conv_id].append(r)
    return by_conv


# ---------------------------------------------------------------- recency


def test_recency_features_vs_naive(spark, transcripts, transcripts_pdf):
    out = {
        (r.conv_id, r.turn_idx): r
        for r in recency_features(transcripts, anchor_role="user").collect()
    }
    by_conv = _sorted_rows(transcripts_pdf)
    n_checked = 0
    for conv, rows in by_conv.items():
        start = _us(rows[0].ts)
        last_tool_us = None
        last_anchor_idx = None
        prior_tools = 0
        for r in rows:
            got = out[(conv, r.turn_idx)]
            assert got.us_since_conv_start == _us(r.ts) - start
            if last_tool_us is None:
                assert got.us_since_tool is None
            else:
                assert got.us_since_tool == _us(r.ts) - last_tool_us
            if last_anchor_idx is None:
                assert got.turns_since_anchor is None
            else:
                assert got.turns_since_anchor == r.turn_idx - last_anchor_idx
            assert got.prior_tool_turns == prior_tools
            # advance state AFTER scoring (strictly-prior discipline)
            if r.tool is not None:
                # ts is non-decreasing along turn_idx: max ≡ latest
                last_tool_us = max(last_tool_us or 0, _us(r.ts))
                prior_tools += 1
            if r.role == "user":
                last_anchor_idx = r.turn_idx
            n_checked += 1
    assert n_checked == len(transcripts_pdf)


def test_recency_no_leakage_first_rows(spark, transcripts):
    firsts = (
        recency_features(transcripts)
        .filter(F.col("turn_idx") == 0)
        .select("us_since_conv_start", "us_since_tool", "turns_since_anchor",
                "prior_tool_turns")
        .collect()
    )
    assert firsts
    for r in firsts:
        assert r.us_since_conv_start == 0
        assert r.us_since_tool is None
        assert r.turns_since_anchor is None
        assert r.prior_tool_turns == 0


# -------------------------------------------------------------- expanding


def test_expanding_features_vs_naive(spark, spark_values_events):
    df, rows = spark_values_events
    out = {
        (r.user_id, r.event_id): r
        for r in expanding_features(
            df, value="value", by="user_id", order="event_id"
        ).collect()
    }
    by_u = defaultdict(list)
    for r in rows:
        by_u[r.user_id].append(r)
    for u, rs in by_u.items():
        rs = sorted(rs, key=lambda r: r.event_id)
        seen = []
        for r in rs:
            got = out[(u, r.event_id)]
            qs = [math.floor(v * 1e6 + 0.5) for v in seen]
            assert got.prior_n == len(seen)
            assert got.prior_sum_q == sum(qs)
            if seen:
                assert got.prior_min_q == min(qs)
                assert got.prior_max_q == max(qs)
                assert got.expanding_mean == pytest.approx(
                    sum(qs) / (1e6 * len(seen)), abs=1e-12
                )
            else:
                assert got.prior_min_q is None
                assert got.expanding_mean is None
            seen.append(r.value)


# -------------------------------------------------------------- lookahead


def test_lookahead_labels_vs_naive(spark, transcripts, transcripts_pdf):
    h = 3
    out = {
        (r.conv_id, r.turn_idx): r
        for r in lookahead_labels(transcripts, horizon=h).collect()
    }
    by_conv = _sorted_rows(transcripts_pdf)
    for conv, rows in by_conv.items():
        for i, r in enumerate(rows):
            got = out[(conv, r.turn_idx)]
            nxt = rows[i + 1] if i + 1 < len(rows) else None
            assert got.next_role == (nxt.role if nxt else None)
            window = rows[i + 1 : i + 1 + h]
            assert got.tool_within_h == int(any(x.tool is not None for x in window))
            future_tool_us = [
                _us(x.ts) for x in rows[i + 1 :] if x.tool is not None
            ]
            if future_tool_us:
                assert got.us_to_next_tool == min(future_tool_us) - _us(r.ts)
            else:
                assert got.us_to_next_tool is None


# ------------------------------------------------------------------ ranks


@pytest.fixture(scope="module")
def spark_values_events(spark):
    import random

    rng = random.Random(7)
    rows = []
    eid = 0
    for u in range(6):
        for _ in range(rng.choice([1, 2, 40, 80])):  # incl singleton groups
            rows.append(
                Row(user_id=u, event_id=eid, value=round(rng.uniform(-5, 5), 3))
            )
            eid += 1
    # duplicate values to exercise tie-breaks
    rows.append(Row(user_id=0, event_id=eid, value=rows[0].value))
    df = spark.createDataFrame(rows)
    df.persist().count()
    return df, rows


def test_group_normalized_rank_vs_naive(spark, spark_values_events):
    df, rows = spark_values_events
    out = group_normalized_rank(
        df, value="value", by="user_id", tie="event_id"
    ).collect()
    by_u = defaultdict(list)
    for r in rows:
        by_u[r.user_id].append(r)
    expected = {}
    for u, rs in by_u.items():
        rs = sorted(rs, key=lambda r: (float(r.value), r.event_id))
        n = len(rs)
        for i, r in enumerate(rs):
            expected[(u, r.event_id)] = (i, n, i / (n - 1) if n > 1 else 0.0)
    assert len(out) == len(rows)
    for r in out:
        e_rank, e_n, e_pr = expected[(r.user_id, r.event_id)]
        assert (r.rank, r.n) == (e_rank, e_n)
        assert r.norm_rank == pytest.approx(e_pr, abs=1e-12)


def test_group_normalized_rank_no_single_partition_exchange(spark, spark_values_events):
    """The two-phase rank never serializes a group (or the world) into
    one task — no `Exchange SinglePartition` anywhere in the plan."""
    df, _ = spark_values_events
    out = group_normalized_rank(df, value="value", by="user_id", tie="event_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


# -------------------------------------------------------------- winsorize


def _round6_half_up(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def test_winsorize_vs_naive(spark, spark_values_events):
    df, rows = spark_values_events
    out = winsorize(df, value="value", by="user_id", lo_q=0.1, hi_q=0.9).collect()
    by_u = defaultdict(list)
    for r in rows:
        by_u[r.user_id].append(float(r.value))
    bounds = {}
    for u, vs in by_u.items():
        vs = sorted(vs)
        n = len(vs)

        def interp(q):
            pos = (n - 1) * q
            k = math.floor(pos)
            frac = pos - k
            khi = min(k + 1, n - 1)
            return _round6_half_up(vs[k] + (vs[khi] - vs[k]) * frac)

        bounds[u] = (interp(0.1), interp(0.9))
    assert len(out) == len(rows)
    for r in out:
        lo, hi = bounds[r.user_id]
        assert r.w_lo == pytest.approx(lo, abs=1e-9)
        assert r.w_hi == pytest.approx(hi, abs=1e-9)
        v = float(r.value)
        assert r.winsorized == pytest.approx(max(lo, min(hi, v)), abs=1e-9)
        assert r.clipped_lo == int(v < lo)
        assert r.clipped_hi == int(v > hi)


# ------------------------------------------------------------------ drift


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_histogram_drift_vs_naive(spark):
    rows = [Row(doc_id=i, n_chars=40 + (i * 37) % 500) for i in range(400)]
    df = spark.createDataFrame(rows)
    out = {r.bin: r for r in histogram_drift(
        df, value="n_chars", id_col="doc_id", bin_width=50, seed=42
    ).collect()}
    na_tot = nb_tot = 0
    cnt = defaultdict(lambda: [0, 0])
    for r in rows:
        is_a = _hash60(f"{r.doc_id}:42") % 2 == 0
        b = r.n_chars // 50
        cnt[b][0 if is_a else 1] += 1
        if is_a:
            na_tot += 1
        else:
            nb_tot += 1
    assert set(out) == set(cnt)
    for b, (na, nb) in cnt.items():
        got = out[b]
        assert (got.n_a, got.n_b) == (na, nb)
        tot = na + nb
        ea = tot * na_tot / (na_tot + nb_tot)
        eb = tot * nb_tot / (na_tot + nb_tot)
        exp = (na - ea) ** 2 / ea + (nb - eb) ** 2 / eb
        assert got.chi2 == pytest.approx(exp, rel=1e-12)


def test_histogram_drift_output_is_bins_sized(spark):
    rows = [Row(doc_id=i, n_chars=i % 200) for i in range(1000)]
    df = spark.createDataFrame(rows)
    out = histogram_drift(df, value="n_chars", id_col="doc_id", bin_width=50)
    assert out.count() == 4  # bins 0..3, never row-sized


# ------------------------------------------------------------- vocab OOV


TOK = re.compile(r"[^ \t\n\r\f\x0b]+")


def test_vocab_coverage_vs_naive(spark):
    texts = [
        "the the the quick brown fox",
        "the lazy dog the",
        "",
        None,
        "völlig neue wörter überall",
        "the fox",
    ]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {r.doc_id: r for r in vocab_coverage(df, top_k=3).collect()}
    counts = Counter()
    toks = {}
    for r in rows:
        tk = TOK.findall((r.text or "").lower())
        toks[r.doc_id] = tk
        counts.update(tk)
    vocab = set(
        t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    )
    assert len(out) == len(rows)
    for i, tk in toks.items():
        got = out[i]
        oov = sum(1 for t in tk if t not in vocab)
        assert got.n_tokens == len(tk)
        assert got.oov_tokens == oov
        if tk:
            assert got.oov_rate == pytest.approx(oov / len(tk), abs=1e-12)
        else:
            assert got.oov_rate is None
