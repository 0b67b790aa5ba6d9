"""Round-4 additions (thirty-fifth batch): the Neyman sample apply step
and the empty-input guard of ``referential_audit``."""

from __future__ import annotations

import random

from featureextraction_spark.operators.sampling import (
    neyman_allocation,
    neyman_sample,
)


def test_neyman_sample_respects_quotas_and_determinism(spark):
    rng = random.Random(462)
    rows = [(i, "tight", rng.randrange(100, 105)) for i in range(300)]
    rows += [(1000 + i, "wide", rng.randrange(0, 10_000)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, src string, x long")

    alloc = {
        r["src"]: r["n_target"]
        for r in neyman_allocation(df, "src", "x").collect()
    }
    got = neyman_sample(df, "src", "x", "id").collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["src"], []).append(r)
    for src, rs in by_src.items():
        assert len(rs) == min(alloc[src], 300)
        assert all(r["n_target"] == alloc[src] for r in rs)
        assert sorted(r["draw_rank"] for r in rs) == list(
            range(1, len(rs) + 1)
        )
    # wide stratum dominates the draw
    assert len(by_src["wide"]) > len(by_src.get("tight", []))
    # deterministic: second run identical
    again = neyman_sample(df, "src", "x", "id").collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in got}


def test_referential_audit_rejects_empty_relations(spark):
    import pytest as _pytest

    from featureextraction_spark.operators.profiling import referential_audit

    with _pytest.raises(ValueError, match="at least one"):
        referential_audit([])
