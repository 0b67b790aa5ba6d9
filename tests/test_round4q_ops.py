"""Round-4 additions (sixteenth batch): RFM segmentation, Z-order layout
keys, systematic sampling — each vs a verbatim naive python oracle."""

from __future__ import annotations

import datetime as dt
import random
from collections import defaultdict

import pytest

from featureextraction_spark.operators.activity import rfm_segments
from featureextraction_spark.operators.layout import (
    morton_key,
    zorder_keys,
    zorder_layout,
)
from featureextraction_spark.operators.sampling import systematic_sample

US_PER_DAY = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)


@pytest.fixture(scope="module")
def events(spark):
    rng = random.Random(23)
    rows = []
    eid = 0
    for u in range(60):
        t = rng.randrange(0, 30 * US_PER_DAY)
        for _ in range(rng.randint(1, 40)):
            # mixture of small (in-session) and large (gap) jumps
            t += rng.choice([rng.randrange(1, 10**6),
                             rng.randrange(1, 1800 * 10**6),
                             rng.randrange(1, 10 * US_PER_DAY)])
            rows.append(
                (u, f"e{eid:06d}",
                 rng.choice(["click", "view", "purchase"]),
                 EPOCH + dt.timedelta(microseconds=t),
                 round(rng.uniform(0, 100), 3))
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "user_id long, event_id string, event_type string, "
        "ts timestamp, value double",
    )
    df.persist()
    df.count()
    return df


def _us(ts):
    return (ts - EPOCH) // dt.timedelta(microseconds=1)


def test_rfm_vs_naive(spark, events):
    rows = [tuple(r) for r in events.collect()]
    per = defaultdict(lambda: [0, 0, 0])  # last_day, f, m
    for u, _e, _t, ts, v in rows:
        d = _us(ts) // US_PER_DAY
        st = per[u]
        st[0] = max(st[0], d)
        st[1] += 1
        st[2] += int((v * 1e3 + 0.5) // 1)
    ref = max(st[0] for st in per.values())
    n = len(per)
    mets = {u: (ref - st[0], st[1], st[2]) for u, st in per.items()}

    def tiles(idx):
        order = sorted(per, key=lambda u: (mets[u][idx], u))
        return {u: (r * 5) // n + 1 for r, u in enumerate(order)}

    rt, ft, mt = tiles(0), tiles(1), tiles(2)
    want = {
        u: (mets[u][0], mets[u][1], mets[u][2], rt[u], ft[u], mt[u],
            rt[u] * 100 + ft[u] * 10 + mt[u])
        for u in per
    }
    got = {
        r.user_id: (r.r_days, r.f_cnt, r.m_q, r.r_score, r.f_score,
                    r.m_score, r.rfm_code)
        for r in rfm_segments(events).collect()
    }
    assert got == want


def _naive_morton(x, y, bits=21):
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_key_vs_naive(spark):
    rng = random.Random(4)
    rows = [(rng.randrange(0, 1 << 21), rng.randrange(0, 1 << 21))
            for _ in range(500)] + [(0, 0), ((1 << 21) - 1, (1 << 21) - 1)]
    df = spark.createDataFrame(rows, "x long, y long")
    import pyspark.sql.functions as F

    got = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", morton_key(F.col("x"), F.col("y"))
        ).collect()
    }
    assert got == {(x, y): _naive_morton(x, y) for x, y in rows}


def test_zorder_keys_buckets_then_interleaves(spark):
    df = spark.createDataFrame([(100, 250)], "a long, b long")
    r = zorder_keys(df, "a", "b", x_width=10, y_width=100).collect()[0]
    assert r.zkey == _naive_morton(10, 2)


def test_zorder_layout_sorted_within_partitions(spark):
    rng = random.Random(8)
    df = spark.createDataFrame(
        [(i, rng.randrange(0, 1000), rng.randrange(0, 1000))
         for i in range(2000)],
        "id long, a long, b long",
    )
    out = zorder_layout(zorder_keys(df, "a", "b"), n_files=4)
    import pyspark.sql.functions as F

    parts = out.select("zkey", F.spark_partition_id().alias("p")).collect()
    by_p = defaultdict(list)
    for r in parts:
        by_p[r.p].append(r.zkey)
    assert all(ks == sorted(ks) for ks in by_p.values())
    # range partitioning: partition key ranges don't overlap
    bounds = sorted((min(ks), max(ks)) for ks in by_p.values())
    assert all(bounds[i][1] <= bounds[i + 1][0] for i in range(len(bounds) - 1))


def test_systematic_sample_vs_naive(spark, events):
    ids = sorted(r.event_id for r in events.collect())
    want = set(ids[0::10])
    got = {r.event_id for r in
           systematic_sample(events, "event_id", every_k=10).collect()}
    assert got == want
    off = {r.event_id for r in
           systematic_sample(events, "event_id", every_k=10,
                             offset=3).collect()}
    assert off == set(ids[3::10])
