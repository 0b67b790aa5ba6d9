"""Round-4 additions (sixth batch) — exact dyadic EWMA and the Heaps-law
vocabulary-growth profile — vs naive python oracles."""

from __future__ import annotations

import datetime as dt
import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from featureextraction_spark.functions.textstats import vocab_growth
from featureextraction_spark.operators.rolling import dyadic_ewma


@pytest.fixture(scope="module")
def events(spark):
    """Gap boundaries (exactly 1800 s), timestamp ties, single-event
    sessions, negative values."""
    rng = random.Random(13)
    rows = []
    eid = 0
    for u in range(5):
        t = 0.0
        for i in range(50):
            if i:
                t += rng.choice([1.0, 60.0, 1800.0, 1801.0, 0.0])
            rows.append(
                Row(
                    event_id=eid,
                    user_id=u,
                    ts=dt.datetime(2024, 1, 1) + dt.timedelta(seconds=t),
                    value=round(rng.uniform(-10, 560), 3),
                )
            )
            eid += 1
    df = spark.createDataFrame(rows)
    df.persist().count()
    return df, rows


def test_dyadic_ewma_vs_naive(events):
    df, rows = events
    got = {
        r.event_id: r
        for r in dyadic_ewma(
            df, key="user_id", ts="ts", tie="event_id", value="value", depth=20
        ).collect()
    }
    by_u = defaultdict(list)
    for r in rows:
        by_u[r.user_id].append(r)
    for u, rs in by_u.items():
        rs = sorted(rs, key=lambda r: (r.ts, r.event_id))
        qs = [math.floor(r.value * 1e3 + 0.5) for r in rs]
        for j, r in enumerate(rs):
            win = qs[max(0, j - 20) : j + 1]
            num = 0
            for x in reversed(win):  # newest folded first → largest weight
                num = num * 2 + x
            g = got[r.event_id]
            assert g.ewma_num == num
            assert g.ewma_len == len(win)
            denom = (1 << len(win)) - 1
            assert abs(g.ewma - num / (denom * 1000.0)) < 1e-12
            # and it IS the alpha=1/2 EWMA: weights 2^-i, truncated
            w = [2.0 ** -(len(win) - 1 - i) for i in range(len(win))]
            ref = sum(x / 1000.0 * wi for x, wi in zip(win, w)) / sum(w)
            assert abs(g.ewma - ref) < 1e-9


def test_dyadic_ewma_smooths_toward_recent(spark):
    rows = [
        Row(event_id=i, user_id=1,
            ts=dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
            value=0.0 if i < 30 else 100.0)
        for i in range(40)
    ]
    out = {r.event_id: r.ewma for r in dyadic_ewma(
        spark.createDataFrame(rows), key="user_id", ts="ts",
        tie="event_id", value="value").collect()}
    assert out[29] == 0.0
    assert 50.0 < out[30] <= 100.0  # newest turn carries half the weight
    assert out[39] > out[31]  # monotone approach to the new level


def test_vocab_growth_vs_naive(spark):
    rng = random.Random(4)
    vocab = [f"w{k}" for k in range(30)]
    rows = [
        Row(doc_id=i, text=" ".join(rng.choices(vocab[: 5 + i // 2], k=8)))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    got = {r.bin: r for r in vocab_growth(df, bin_width=4).collect()}
    seen = set()
    toks_by_bin = defaultdict(int)
    new_by_bin = defaultdict(int)
    for r in sorted(rows, key=lambda r: r.doc_id):
        b = r.doc_id // 4
        for tok in r.text.lower().split():
            toks_by_bin[b] += 1
            if tok not in seen:
                seen.add(tok)
                new_by_bin[b] += 1
    cum_t = cum_n = 0
    for b in sorted(toks_by_bin):
        cum_t += toks_by_bin[b]
        cum_n += new_by_bin[b]
        g = got[b]
        assert g.n_tokens == toks_by_bin[b]
        assert g.new_types == new_by_bin[b]
        assert g.cum_types == cum_n
        assert g.cum_tokens == cum_t
        assert abs(g.ttr - cum_n / cum_t) < 1e-12
    # total types across bins == vocabulary actually used
    assert cum_n == len(seen)


def test_vocab_growth_flattens_on_duplicated_corpus(spark):
    fresh = [Row(doc_id=i, text=f"tok{i}a tok{i}b tok{i}c") for i in range(8)]
    dup = [Row(doc_id=i, text="same same same") for i in range(8)]
    g_f = sorted(vocab_growth(spark.createDataFrame(fresh), bin_width=2).collect())
    g_d = sorted(vocab_growth(spark.createDataFrame(dup), bin_width=2).collect())
    assert all(r.new_types > 0 for r in g_f)  # keeps contributing
    assert [r.new_types for r in g_d][1:] == [0, 0, 0]  # stale after bin 0
    assert g_d[-1].ttr < g_f[-1].ttr


def test_pmi_collocations_vs_naive(spark):
    from featureextraction_spark.functions.textstats import pmi_collocations

    rng = random.Random(8)
    # "new york" is a strong collocation: york only ever follows new
    rows = []
    for i in range(60):
        words = rng.choices(["the", "cat", "sat", "on", "mat"], k=10)
        if i % 2 == 0:
            words[3:3] = ["new", "york"]
        rows.append(Row(doc_id=i, text=" ".join(words)))
    df = spark.createDataFrame(rows)
    got = pmi_collocations(df, min_count=5, top=10).collect()

    pc, uc = defaultdict(int), defaultdict(int)
    for r in rows:
        ts = r.text.lower().split()
        for t in ts:
            uc[t] += 1
        for a, b in zip(ts, ts[1:]):
            pc[f"{a} {b}"] += 1
    n_tok, n_pair = sum(uc.values()), sum(pc.values())
    want = []
    for p, nab in pc.items():
        if nab < 5:
            continue
        a, b = p.split(" ")
        lift = round(nab * n_tok * n_tok / (n_pair * uc[a] * uc[b]) + 1e-9, 6)
        want.append((p, nab, uc[a], uc[b], lift))
    want.sort(key=lambda x: (-x[4], x[0]))
    assert [tuple(r) for r in got] == want[:10]
    assert got[0].pair == "new york"  # the planted collocation wins


def test_pmi_collocations_empty_and_single_token_docs(spark):
    from featureextraction_spark.functions.textstats import pmi_collocations

    df = spark.createDataFrame(
        [Row(doc_id=0, text=""), Row(doc_id=1, text="solo"),
         Row(doc_id=2, text=None)] +
        [Row(doc_id=3 + i, text="a b") for i in range(5)],
        schema="doc_id long, text string",
    )
    out = pmi_collocations(df, min_count=5, top=10).collect()
    assert len(out) == 1 and out[0].pair == "a b" and out[0].n_ab == 5
