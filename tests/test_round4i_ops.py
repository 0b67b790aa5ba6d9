"""Round-4 additions (ninth batch) — the bucketized range join vs a
brute-force theta scan, and its fan-out cap."""

from __future__ import annotations

import datetime as dt
import random
from collections import defaultdict

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from featureextraction_spark.operators.intervals import bucketed_range_join

US = 1_000_000
DAY_US = 86_400 * US


@pytest.fixture(scope="module")
def events(spark):
    """Adversarial: zero-gap ties (and a same-µs view/click pair for user
    777), users spanning one to several weeks, week-boundary first events,
    hour-boundary timestamps, negative values."""
    rng = random.Random(99)
    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for u in range(40):
        t = rng.uniform(0, 30 * 86400)
        for _ in range(rng.randint(2, 60)):
            t += rng.choice([0.0, 1.0, 59.0, 1800.0, 3600.0, 86399.0])
            rows.append(
                Row(
                    event_id=eid,
                    user_id=u,
                    event_type=rng.choice(
                        ["view", "click", "purchase", "error", "signup"]
                    ),
                    ts=base + dt.timedelta(seconds=t),
                    value=round(rng.uniform(-5, 5), 3),
                )
            )
            eid += 1
    # exact tie: view and click at the identical µs
    tie = base + dt.timedelta(seconds=999)
    rows.append(Row(event_id=eid, user_id=777, event_type="view", ts=tie, value=1.0))
    rows.append(
        Row(event_id=eid + 1, user_id=777, event_type="click", ts=tie, value=1.0)
    )
    df = spark.createDataFrame(rows)
    df.persist().count()
    return df, rows


def _us(ts) -> int:
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * US)


def test_bucketed_range_join_equals_theta(spark, events):
    df, rows = events
    us = F.unix_micros(F.col("ts"))
    win = 1800 * US
    purch = df.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        us.alias("start_us"),
        (us + F.lit(win)).alias("end_us"),
    )
    clicks = df.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), us.alias("us")
    )
    # deliberately small buckets => multi-bucket intervals exercised
    got = {
        (r.purchase_id, r.click_id)
        for r in bucketed_range_join(
            clicks, purch, by="user_id", bucket_us=600 * US
        ).collect()
    }
    exp = set()
    by_u = defaultdict(lambda: ([], []))
    for r in rows:
        if r.event_type == "purchase":
            by_u[r.user_id][0].append(r)
        elif r.event_type == "click":
            by_u[r.user_id][1].append(r)
    for u, (ps, cs) in by_u.items():
        for p in ps:
            for c in cs:
                if _us(p.ts) <= _us(c.ts) <= _us(p.ts) + win:
                    exp.add((p.event_id, c.event_id))
    assert got == exp
    assert exp  # fixture produces matches


def test_bucketed_range_join_caps_fanout(spark, events):
    df, _ = events
    us = F.unix_micros(F.col("ts"))
    purch = df.limit(5).select(
        "user_id",
        us.alias("start_us"),
        (us + F.lit(30 * DAY_US)).alias("end_us"),
    )
    clicks = df.select("user_id", us.alias("us"))
    with pytest.raises(ValueError, match="buckets"):
        bucketed_range_join(
            clicks, purch, by="user_id", bucket_us=60 * US,
            max_buckets_per_interval=100,
        )

