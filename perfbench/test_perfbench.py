"""Tests of the benchmark itself: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from dataclasses import replace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

TINY = {
    "batch_sparse": gen.Shape(n_convs=12, mean_turns=12, zipf_a=1.5, max_turns=60,
                              n_mega=1, mega_share=0.3),
    "asof_skew": gen.Shape(n_convs=30, mean_turns=12, zipf_a=1.5, max_turns=60,
                           n_mega=1, mega_share=0.3),
}

_SMOKE = """
import sys
from dataclasses import replace
sys.path.insert(0, {here!r})
import gen, workloads as W
shape = gen.Shape(**{shape!r})
W.WORKLOADS[{name!r}] = replace(W.WORKLOADS[{name!r}], shape=shape)
import run
sys.exit(run.main({argv!r}))
"""


def smoke(name: str, trace: int) -> dict:
    """A tiny-size run of one workload in its own process."""
    argv = ["--workload", name, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    code = _SMOKE.format(here=HERE, shape=TINY[name].__dict__, name=name, argv=argv)
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_smoke_run_prints_every_end_to_end_metric(name):
    result = smoke(name, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_traced_run_prints_every_per_layer_metric(name):
    result = smoke(name, trace=1)
    assert result["correct"] is True
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]


def test_benchmark_json_records_each_workload_and_why():
    assert [w["name"] for w in SPEC["workloads"]] == list(W.WORKLOADS)
    for w in SPEC["workloads"]:
        assert w["why"] == W.WORKLOADS[w["name"]].why


@pytest.fixture(scope="module")
def spark():
    from featureextraction_spark.session import get_spark

    return get_spark("perfbench-tests", parallelism=2, shuffle_partitions=4,
                     extra_conf={"spark.driver.memory": "1g"})


def test_generator_is_seeded_and_keeps_the_size_distribution(spark):
    shape = TINY["batch_sparse"]
    a = gen.transcripts(spark, shape, seed=5).toPandas()
    b = gen.transcripts(spark, shape, seed=5).toPandas()
    c = gen.transcripts(spark, shape, seed=6).toPandas()
    key = ["conv_id", "turn_idx"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True), b.sort_values(key).reset_index(drop=True))
    assert not a.sort_values(key)["ts"].reset_index(drop=True).equals(
        c.sort_values(key)["ts"].reset_index(drop=True))
    assert len(a) == len(c)
    sizes = a.groupby("conv_id").size()
    assert sizes[gen.conv_name(0)] == shape.mega_turns


def test_gate_counts_a_perturbed_value_and_a_shifted_probe(spark):
    from featureextraction_spark.oracle.feature_oracle import point_in_time_features_oracle

    t = gen.transcripts(spark, TINY["batch_sparse"], seed=7)
    sample = t.toPandas()
    probes = check.sparse_probes(sample)
    good = point_in_time_features_oracle(sample, probes, W.GAP_SECONDS)
    assert check.mismatch_rows(good, good) == 0

    bad = good.copy()
    bad.loc[0, "lc_slant"] = bad.loc[0, "lc_slant"] + 1.0
    assert check.mismatch_rows(bad, good) == 1
    assert check.mismatch_rows(good.iloc[1:], good) == 1

    cols = ["conv_id", "ts", "turn_count"]
    out = spark.createDataFrame(good[cols])
    assert check.leakage_rows(out, t, "turn_count") == 0
    shifted = good[cols].copy()
    i = shifted.index[shifted["turn_count"] > 1][0]
    first = sample.loc[sample["conv_id"] == shifted.loc[i, "conv_id"], "ts"].min()
    shifted.loc[i, "ts"] = first  # features of a later prefix, stamped earlier
    assert check.leakage_rows(spark.createDataFrame(shifted), t, "turn_count") == 1

    matched = good[cols].assign(matched_ts=good["ts"])
    matched.loc[0, "matched_ts"] = matched.loc[0, "ts"] + pd.Timedelta(seconds=1)
    assert check.leakage_rows(
        spark.createDataFrame(matched), t, "turn_count", "matched_ts") == 1


def test_sample_includes_a_mega_conversation():
    for wl in W.WORKLOADS.values():
        assert gen.conv_name(0) in check.sample_conv_ids(wl.shape, seed=1)
        assert wl.shape.n_mega >= 1
    shape = replace(TINY["asof_skew"], n_mega=0)
    assert shape.mega_turns == 0
