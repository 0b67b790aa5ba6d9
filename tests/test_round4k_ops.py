"""Round-4 additions (eleventh batch) — purged temporal split and
per-class embedding centroids — vs naive python oracles."""

from __future__ import annotations

import datetime as dt
import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from featureextraction_spark.operators.decomposition import label_centroids
from featureextraction_spark.operators.sampling import temporal_split

US = 1_000_000


@pytest.fixture(scope="module")
def value_events(spark):
    rng = random.Random(21)
    rows = []
    eid = 0
    base = dt.datetime(2024, 6, 1)
    for u in range(15):
        t = rng.uniform(0, 3600)
        n = rng.choice([1, 2, 35, 90])
        shift_at = n // 2
        for i in range(n):
            t += rng.choice([0.0, 7.0, 130.0])
            # planted mean shift halfway through for some users
            mean = 2.5 if (u % 3 == 0 and i >= shift_at) else -1.0
            rows.append(
                Row(
                    event_id=eid,
                    user_id=u,
                    ts=base + dt.timedelta(seconds=t),
                    value=round(rng.gauss(mean, 0.4), 3),
                )
            )
            eid += 1
    df = spark.createDataFrame(rows)
    df.persist().count()
    return df, rows


def _us(ts) -> int:
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * US)


def test_temporal_split_vs_naive(spark, value_events):
    df, rows = value_events
    df = df.withColumn("us", F.unix_micros(F.col("ts")))
    out = temporal_split(df, ts_us="us", train_frac=0.8, embargo_us=600 * US)
    got = {r.event_id: (r.split, r.cutoff_us) for r in out.collect()}
    vs = sorted(_us(r.ts) for r in rows)
    n = len(vs)
    pos = (n - 1) * 0.8
    k = math.floor(pos)
    khi = min(k + 1, n - 1)
    cutoff = math.floor(round(vs[k] + (vs[khi] - vs[k]) * (pos - k), 6))
    splits = defaultdict(int)
    for r in rows:
        u = _us(r.ts)
        exp = (
            "train" if u < cutoff
            else ("test" if u >= cutoff + 600 * US else "purged")
        )
        assert got[r.event_id] == (exp, cutoff), r.event_id
        splits[exp] += 1
    assert splits["train"] and splits["test"]  # both sides populated
    # leakage guard: max train us < cutoff <= min test us - embargo
    tr_max = max(_us(r.ts) for r in rows if got[r.event_id][0] == "train")
    te_min = min(_us(r.ts) for r in rows if got[r.event_id][0] == "test")
    assert tr_max < cutoff <= te_min - 600 * US + 1


def test_label_centroids_vs_naive(spark):
    rng = random.Random(4)
    rows = [
        Row(vec_id=i, embedding=[round(rng.uniform(-1, 1), 4) for _ in range(8)],
            label=i % 3)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>, label int")
    got = {(r.label, r.dim): r for r in label_centroids(df).collect()}
    agg = defaultdict(lambda: [0, 0])
    import numpy as np

    for r in rows:
        f32 = np.array(r.embedding, dtype=np.float32)
        for d, c in enumerate(f32):
            cell = agg[(r.label, d)]
            cell[0] += 1
            cell[1] += math.floor(float(c) * 1e6 + 0.5)
    assert set(got) == set(agg)
    for k, (n, sq) in agg.items():
        g = got[k]
        assert (g.n, g.sum_cq) == (n, sq), k
        assert g.centroid == pytest.approx(sq / (1e6 * n), rel=1e-12)
