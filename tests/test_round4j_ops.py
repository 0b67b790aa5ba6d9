"""Round-4 additions (tenth batch) — SCD2 validity intervals, ROLLUP /
pivot reports, tokenizer apply — vs naive python oracles."""

from __future__ import annotations

import datetime as dt
import math
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from featureextraction_spark.operators.curation import tokenize_to_ids
from featureextraction_spark.operators.olap import pivot_counts, rollup_counts
from featureextraction_spark.operators.scd import scd2_intervals

US = 1_000_000


def test_scd2_intervals_vs_naive(spark, spark_events_small):
    df, rows = spark_events_small
    got = {(r.user_id, r.event_id): r for r in scd2_intervals(df).collect()}
    by_u = defaultdict(list)
    for r in rows:
        by_u[r.user_id].append(r)
    for u, rs in by_u.items():
        rs = sorted(rs, key=lambda r: (r.ts, r.event_id))
        for i, r in enumerate(rs):
            g = got[(u, r.event_id)]
            assert g.state == r.event_type
            assert g.valid_from_us == int(
                r.ts.replace(tzinfo=dt.timezone.utc).timestamp() * US
            )
            if i + 1 < len(rs):
                assert g.valid_to_us == int(
                    rs[i + 1].ts.replace(tzinfo=dt.timezone.utc).timestamp() * US
                )
            else:
                assert g.valid_to_us is None  # open row
            assert g.version == i + 1
    # intervals tile: per user, exactly one open row
    opens = [k for k, g in got.items() if g.valid_to_us is None]
    assert len(opens) == len(by_u)


@pytest.fixture(scope="module")
def spark_events_small(spark):
    import random

    rng = random.Random(5)
    rows = []
    eid = 0
    base = dt.datetime(2024, 3, 1)
    for u in range(12):
        t = rng.uniform(0, 86400)
        for _ in range(rng.randint(1, 30)):
            t += rng.choice([0.0, 3.5, 3600.0])
            rows.append(
                Row(
                    event_id=eid,
                    user_id=u,
                    event_type=rng.choice(["click", "view", "purchase"]),
                    ts=base + dt.timedelta(seconds=t),
                    value=round(rng.uniform(-2, 2), 3),
                )
            )
            eid += 1
    df = spark.createDataFrame(rows)
    df.persist().count()
    return df, rows


def test_rollup_counts_vs_naive(spark, spark_events_small):
    df, rows = spark_events_small
    t = df.select(
        "event_type",
        F.lit(0).cast("long").alias("hour"),  # single bucket: focus on rollup shape
        F.floor(F.col("value") * 1e6 + 0.5).cast("long").alias("vq"),
    )
    got = {
        (r.event_type, r.hour, r.g1_total, r.g2_total): (r.n, r.sum_q)
        for r in rollup_counts(t, "event_type", "hour", "vq").collect()
    }
    per_type = defaultdict(lambda: [0, 0])
    for r in rows:
        q = math.floor(r.value * 1e6 + 0.5)
        per_type[r.event_type][0] += 1
        per_type[r.event_type][1] += q
    # leaf level
    for et, (n, s) in per_type.items():
        assert got[(et, 0, 0, 0)] == (n, s)
        # per-type subtotal (hour rolled up)
        assert got[(et, None, 0, 1)] == (n, s)
    # grand total
    total_n = sum(v[0] for v in per_type.values())
    total_s = sum(v[1] for v in per_type.values())
    assert got[(None, None, 1, 1)] == (total_n, total_s)
    assert len(got) == 2 * len(per_type) + 1


def test_pivot_counts_vs_naive(spark, spark_events_small):
    df, rows = spark_events_small
    types = ("click", "view", "purchase")
    got = {r.user_id: r for r in pivot_counts(df, "user_id", "event_type", types).collect()}
    cnt = defaultdict(Counter)
    for r in rows:
        cnt[r.user_id][r.event_type] += 1
    assert set(got) == set(cnt)
    for u, c in cnt.items():
        for t in types:
            assert got[u][f"n_{t}"] == c.get(t, 0)


TOK = re.compile(r"[^ \t\n\r\f\x0b]+")


def test_tokenize_to_ids_vs_naive(spark):
    texts = ["b a a c", "a b", "", None, "zz yy a"]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = sorted(
        ((r.doc_id, r.pos, r.term, r.token_id)
         for r in tokenize_to_ids(df, top_k=3).collect())
    )
    counts = Counter()
    toks = {}
    for r in rows:
        tk = TOK.findall((r.text or "").lower())
        toks[r.doc_id] = tk
        counts.update(tk)
    vocab = [t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:3]]
    vid = {t: i for i, t in enumerate(vocab)}
    exp = sorted(
        (i, p, t, vid.get(t, -1))
        for i, tk in toks.items()
        for p, t in enumerate(tk)
    )
    assert got == exp
