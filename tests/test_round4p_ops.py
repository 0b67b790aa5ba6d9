"""Round-4 additions (fifteenth batch): JSON schema-on-read profile,
skew-proof per-group top-k, vocabulary-coverage pruning, hash-bucketed
negative sampling — each vs a verbatim naive python oracle."""

from __future__ import annotations

import hashlib
import json
import random
import re
from collections import Counter, defaultdict

import pytest

from featureextraction_spark.operators.ranking import top_per_group
from featureextraction_spark.operators.sampling import negative_sample
from featureextraction_spark.operators.selection import vocab_prefix
from featureextraction_spark.operators.semistructured import (
    json_field_profile,
    with_json_field,
)


def _hash60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------- json


@pytest.fixture(scope="module")
def props_df(spark):
    rng = random.Random(5)
    rows = []
    for i in range(300):
        r = rng.random()
        if r < 0.70:
            p = json.dumps({"k": rng.randrange(-50, 500)})
        elif r < 0.80:
            p = json.dumps({"other": 1})  # valid, key missing
        elif r < 0.88:
            p = '{"k": broken'  # corrupt
        elif r < 0.94:
            p = json.dumps({"k": "not-a-number"})
        else:
            p = None
        rows.append((i, rng.choice(["a", "b", "c"]), p))
    return spark.createDataFrame(rows, "id long, grp string, props string")


def test_with_json_field_policy(spark, props_df):
    got = {r.id: r.k for r in with_json_field(props_df, "props").collect()}
    for row in props_df.collect():
        try:
            want = json.loads(row.props).get("k")
            want = int(want) if isinstance(want, int) else None
        except (TypeError, ValueError):
            want = None
        assert got[row.id] == want, row.props


def test_json_field_profile_vs_naive(spark, props_df):
    naive = defaultdict(lambda: [0, 0, None, None, 0])
    for row in props_df.collect():
        st = naive[row.grp]
        st[0] += 1
        try:
            k = json.loads(row.props)["k"]
            k = int(k) if isinstance(k, int) else None
        except (TypeError, ValueError, KeyError):
            k = None
        if k is not None:
            st[1] += 1
            st[2] = k if st[2] is None else min(st[2], k)
            st[3] = k if st[3] is None else max(st[3], k)
            st[4] += k
    got = {
        r.grp: (r.n_rows, r.n_present, r.k_min, r.k_max, r.k_sum)
        for r in json_field_profile(props_df, by="grp").collect()
    }
    assert got == {g: tuple(st) for g, st in naive.items()}


# ---------------------------------------------------------- top-k/group


@pytest.fixture(scope="module")
def scored_df(spark):
    rng = random.Random(9)
    rows = [
        (i, rng.choice(["g0", "g1", "g2", "mega"]), rng.randrange(0, 40))
        for i in range(800)
    ]
    # mega group dominates — the skew the two-phase plan exists for
    rows += [(800 + i, "mega", rng.randrange(0, 40)) for i in range(700)]
    return spark.createDataFrame(rows, "id long, grp string, score long")


def _naive_topk(rows, k):
    by = defaultdict(list)
    for i, g, s in rows:
        by[g].append((-s, i))
    out = []
    for g, items in by.items():
        for rnk, (negs, i) in enumerate(sorted(items)[:k], start=1):
            out.append((g, i, -negs, rnk))
    return sorted(out)


def test_top_per_group_vs_naive(spark, scored_df):
    rows = [(r.id, r.grp, r.score) for r in scored_df.collect()]
    want = _naive_topk(rows, 3)
    got = sorted(
        (r.grp, r.id, r.score, r.rnk)
        for r in top_per_group(
            scored_df, by=("grp",), value="score", tie="id", k=3,
            strategy="window",
        ).collect()
    )
    assert got == want


def test_top_per_group_two_phase_equals_window(spark, scored_df):
    a = sorted(
        map(
            tuple,
            top_per_group(
                scored_df, by=("grp",), value="score", tie="id", k=5,
                strategy="window",
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            top_per_group(
                scored_df, by=("grp",), value="score", tie="id", k=5,
                strategy="two_phase", n_salts=8,
            ).collect(),
        )
    )
    assert a == b


# ------------------------------------------------------ vocab coverage

TOKEN_RE = re.compile(r"[^ \t\n\r\f\x0b]+")


@pytest.fixture(scope="module")
def docs_df(spark):
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(200):
        # Zipf-ish: low-index words much more frequent
        n = rng.randrange(3, 30)
        words = [vocab[min(int(rng.expovariate(0.15)), 59)] for _ in range(n)]
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_vocab_prefix_vs_naive(spark, docs_df):
    cnt = Counter()
    for r in docs_df.collect():
        cnt.update(TOKEN_RE.findall(r.text.lower()))
    total = sum(cnt.values())
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    want, cum = [], 0
    for term, c in ordered:
        if cum * 100 >= 90 * total:
            break
        cum += c
        want.append((term, c, cum))
    got = sorted(
        ((r.term, r.cnt, r.cum) for r in
         vocab_prefix(docs_df, coverage_num=90).collect()),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == want


def test_vocab_prefix_is_minimal(spark, docs_df):
    out = vocab_prefix(docs_df, coverage_num=90).collect()
    cnt = Counter()
    for r in docs_df.collect():
        cnt.update(TOKEN_RE.findall(r.text.lower()))
    total = sum(cnt.values())
    mass = sum(r.cnt for r in out)
    assert mass * 100 >= 90 * total  # covers
    # dropping the least-frequent kept term breaks coverage → minimal
    least = min(out, key=lambda r: (r.cnt, r.term))
    assert (mass - least.cnt) * 100 < 90 * total


# ----------------------------------------------------- negative sample


def test_negative_sample_vs_naive(spark):
    qs = spark.createDataFrame([(i,) for i in range(50)], "qid long")
    docs = spark.createDataFrame([(i,) for i in range(200)], "did long")
    got = sorted(
        (r.qid, r.did, r.neg_rank)
        for r in negative_sample(
            qs, docs, query_id="qid", doc_id="did", k=2, n_buckets=8, seed=7
        ).collect()
    )
    buckets = defaultdict(list)
    for d in range(200):
        buckets[_hash60(f"{d}:7") % 8].append(d)
    want = []
    for q in range(50):
        b = _hash60(f"{q}:8") % 8
        ranked = sorted(
            buckets[b], key=lambda d: (_hash60(f"{q}|{d}:9"), d)
        )[:2]
        want += [(q, d, i + 1) for i, d in enumerate(ranked)]
    assert got == sorted(want)


def test_negative_sample_exactly_k_and_distinct(spark):
    qs = spark.createDataFrame([(i,) for i in range(40)], "qid long")
    docs = spark.createDataFrame([(i,) for i in range(400)], "did long")
    out = negative_sample(
        qs, docs, query_id="qid", doc_id="did", k=3, n_buckets=4
    ).collect()
    per_q = defaultdict(set)
    for r in out:
        per_q[r.qid].add(r.did)
    # 400 docs over 4 buckets → every bucket has ≥ 3 docs
    assert set(per_q) == set(range(40))
    assert all(len(s) == 3 for s in per_q.values())
