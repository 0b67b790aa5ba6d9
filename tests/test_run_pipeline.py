"""End-to-end resumable job (scripts/run_pipeline.py) — the ship vehicle.

Asserts: full run lands features in the store; an identical re-run resumes
every stage (no recompute, no double-append); changing the input
fingerprint forces recompute, also for a Hive-partitioned input directory;
changing a stage parameter recomputes that stage and everything downstream
of it; a crash between any stage's data commit and its manifest commit
reruns to the store a clean run leaves; a store version dropped by
``expire_snapshots`` is adopted from the kept snapshot that holds its rows,
not appended again; the store's rows equal the independent oracle's; the
job shipped by ``spark-submit --py-files`` from a zipped package lands the
same store, and a new driver resumes it."""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from featureextraction_spark.datagen import make_transcripts  # noqa: E402
from featureextraction_spark.oracle.feature_oracle import point_in_time_features_oracle  # noqa: E402

from conftest import assert_feature_parity, assert_pdf_equal, count_spark_jobs  # noqa: E402


@pytest.fixture(scope="module")
def input_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pipe") / "tr.parquet")
    pdf = make_transcripts(n_conversations=12, mean_turns=8, seed=7)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), p)
    return p


def test_run_then_resume(spark, input_path, tmp_path):
    import run_pipeline

    work = str(tmp_path / "work")
    args = ["--input", input_path, "--work", work, "--probes-per-conv", "2", "--cpus", "4"]

    first = run_pipeline.main(args)
    assert first["recomputed"] == ["features", "probes", "store", "turn_state"]
    assert first["resumed"] == []
    assert first["feature_rows"] > 0
    assert first["store_version"] == 0
    stage_names = {s["stage"] for s in first["stages"]}
    assert stage_names == {"turn_state", "probes", "features", "store"}
    assert all(s["status"] == "done" for s in first["stages"])

    runs = []
    # a full resume reads every row count from manifests and footers
    assert count_spark_jobs(spark, lambda: runs.append(run_pipeline.main(args))) == 0
    second = runs[0]
    assert second["recomputed"] == []
    assert set(second["resumed"]) == stage_names
    # no double-append: same snapshot, same rows
    assert second["store_version"] == 0
    assert second["feature_rows"] == first["feature_rows"]


def test_changed_input_recomputes(spark, input_path, tmp_path):
    import run_pipeline

    # rewrite a private copy: the module's other tests share input_path
    src = str(tmp_path / "tr.parquet")
    shutil.copyfile(input_path, src)
    work = str(tmp_path / "work2")
    args = ["--input", src, "--work", work, "--probes-per-conv", "1", "--cpus", "4"]
    run_pipeline.main(args)

    # append a byte to the input dir fingerprint by rewriting the file
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    pq.write_table(t.slice(0, t.num_rows - 1), src)
    out = run_pipeline.main(args)
    assert "features" in out["recomputed"] and "turn_state" in out["recomputed"]


def test_crash_between_append_and_manifest_is_idempotent(spark, input_path, tmp_path):
    """If a run commits the store snapshot but dies before writing the
    store manifest, the rerun must ADOPT that snapshot (tag lookup), not
    append the same feature rows again."""
    import run_pipeline

    work = str(tmp_path / "work3")
    args = ["--input", input_path, "--work", work, "--probes-per-conv", "2", "--cpus", "4"]
    first = run_pipeline.main(args)

    # simulate the crash window: snapshot committed, manifest record lost
    os.remove(os.path.join(work, "ckpt", "run1", "manifest", "store.json"))

    second = run_pipeline.main(args)
    assert second["store_version"] == first["store_version"]
    assert second["feature_rows"] == first["feature_rows"]
    assert "store" in second["resumed"] and "store" not in second["recomputed"]


def test_changed_params_recompute_affected_stages(spark, input_path, tmp_path):
    """A rerun on the same --work with a new --probes-per-conv or
    --gap-seconds must not resume the first run's rows: each stage is keyed
    on its own parameters and its upstream stages."""
    import run_pipeline

    from featureextraction_spark.plans.feature_pipeline import turn_state

    work = str(tmp_path / "work4")
    base = ["--input", input_path, "--work", work, "--cpus", "4"]
    n_convs = spark.read.parquet(input_path).select("conv_id").distinct().count()

    def features_ckpt():
        return spark.read.parquet(os.path.join(work, "ckpt", "run1", "features", "data"))

    first = run_pipeline.main(base + ["--probes-per-conv", "2"])
    assert features_ckpt().count() > n_convs

    fewer = run_pipeline.main(base + ["--probes-per-conv", "1"])
    assert fewer["resumed"] == ["turn_state"]
    assert fewer["recomputed"] == ["features", "probes", "store"]
    assert features_ckpt().count() == n_convs
    assert fewer["store_version"] == first["store_version"] + 1

    regap = run_pipeline.main(base + ["--probes-per-conv", "1", "--gap-seconds", "60"])
    assert regap["resumed"] == ["probes"]
    assert regap["recomputed"] == ["features", "store", "turn_state"]
    expected = (
        turn_state(spark.read.parquet(input_path), gap_seconds=60)
        .join(features_ckpt().select("conv_id", "ts"), ["conv_id", "ts"])
        .groupBy("conv_id", "ts")
        .agg(F.max("session_id").alias("session_id"))
    )
    got = features_ckpt().select("conv_id", "ts", "session_id")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_rewritten_partitioned_input_recomputes(spark, tmp_path):
    """A Hive-partitioned input (``role=.../part-*.parquet``) rewritten with
    different conversations must not resume: the rerun on the same --work
    recomputes every stage and returns the new conversations' features."""
    import run_pipeline

    from featureextraction_spark.datagen import to_spark

    src = str(tmp_path / "partitioned")
    work = str(tmp_path / "work5")
    args = ["--input", src, "--work", work, "--probes-per-conv", "1", "--cpus", "4"]

    def write(n_conversations, seed):
        pdf = make_transcripts(n_conversations=n_conversations, mean_turns=8, seed=seed)
        to_spark(spark, pdf).write.mode("overwrite").partitionBy("role").parquet(src)
        return set(pdf["conv_id"])

    write(12, 7)
    first = run_pipeline.main(args)
    assert first["feature_rows"] == 12

    new_convs = write(5, 11)
    second = run_pipeline.main(args)
    assert second["resumed"] == []
    assert second["recomputed"] == ["features", "probes", "store", "turn_state"]
    # the store is append-only: a new snapshot adds the 5 new probe rows
    assert second["store_version"] == first["store_version"] + 1
    assert second["feature_rows"] == 12 + 5
    features = spark.read.parquet(os.path.join(work, "ckpt", "run1", "features", "data"))
    assert {r.conv_id for r in features.select("conv_id").collect()} == new_convs


def _store(spark, work):
    from featureextraction_spark.sources.feature_store import FeatureStore

    return FeatureStore(spark, os.path.join(work, "feature_store"), key_cols=["conv_id", "ts"])


def test_resume_after_store_version_expired(spark, input_path, tmp_path):
    """A rerun whose store manifest names a snapshot that
    ``expire_snapshots`` dropped resumes every stage: it adopts the kept
    snapshot that holds the run's rows, instead of failing on the dead
    version or appending those rows a second time."""
    import run_pipeline

    work = str(tmp_path / "work6")
    base = ["--input", input_path, "--work", work, "--cpus", "4"]
    first = run_pipeline.main(base + ["--run-id", "r1"])
    second = run_pipeline.main(base + ["--run-id", "r2", "--probes-per-conv", "2"])
    assert (first["store_version"], second["store_version"]) == (0, 1)
    store = _store(spark, work)
    store.expire_snapshots(keep_last=1)
    assert [s["version"] for s in store.snapshots()] == [1]

    kept = store.snapshots()

    rerun = run_pipeline.main(base + ["--run-id", "r1"])
    assert rerun["resumed"] == ["features", "probes", "store", "turn_state"]
    assert rerun["recomputed"] == []
    assert store.snapshots() == kept  # nothing appended
    assert rerun["store_version"] == 1
    assert rerun["feature_rows"] == store.count(1) == second["feature_rows"]

    def keys(df):
        return sorted(tuple(r) for r in df.select("conv_id", "ts").collect())

    # each run's probe rows are in the store once
    landed = [
        keys(spark.read.parquet(os.path.join(work, "ckpt", run, "features", "data")))
        for run in ("r1", "r2")
    ]
    assert keys(store.read()) == sorted(landed[0] + landed[1])
    assert len(landed[0]) == first["feature_rows"]


@pytest.fixture(scope="module")
def clean_store(spark, input_path, tmp_path_factory):
    import run_pipeline

    work = str(tmp_path_factory.mktemp("clean"))
    run_pipeline.main(
        ["--input", input_path, "--work", work, "--probes-per-conv", "2", "--cpus", "4"]
    )
    return _store(spark, work).read().toPandas()


def test_store_matches_oracle(input_path, clean_store):
    """The rows the job lands in the store are the independent pandas
    oracle's feature vectors at the job's probes: the last two turns of
    each conversation, by (ts, turn_idx)."""
    tr = pd.read_parquet(input_path)
    probes = (
        tr.sort_values(["conv_id", "ts", "turn_idx"], ascending=[True, False, False])
        .groupby("conv_id")
        .head(2)[["conv_id", "ts"]]
        .drop_duplicates()
    )
    assert_feature_parity(clean_store, point_in_time_features_oracle(tr, probes))


@pytest.mark.parametrize("crashed", ["turn_state", "probes", "features", "store"])
def test_crash_between_data_and_manifest_commit(spark, input_path, tmp_path, monkeypatch,
                                                clean_store, crashed):
    """Kill the job after stage ``crashed`` committed its data (checkpoint
    parquet, or the store snapshot) and before its manifest's atomic rename.
    The rerun on the same --work resumes only stages with a manifest and
    leaves the store as a clean run would."""
    import run_pipeline

    from featureextraction_spark.streaming import manifest
    from featureextraction_spark.streaming.manifest import CheckpointedRunner

    work = str(tmp_path / "work")
    args = ["--input", input_path, "--work", work, "--probes-per-conv", "2", "--cpus", "4"]
    replace = os.replace

    def crash_once(src, dst):
        if dst.endswith(os.path.join("manifest", f"{crashed}.json")):
            monkeypatch.setattr(manifest.os, "replace", replace)
            raise OSError("simulated crash before the manifest commit")
        return replace(src, dst)

    monkeypatch.setattr(manifest.os, "replace", crash_once)
    with pytest.raises(OSError, match="simulated crash"):
        run_pipeline.main(args)
    assert os.replace is replace  # the crash fired
    if crashed == "store":
        assert len(_store(spark, work).snapshots()) == 1
    else:
        assert os.path.exists(os.path.join(work, "ckpt", "run1", crashed, "data", "_SUCCESS"))
    stages = ["turn_state", "probes", "features", "store"]
    with_manifest = {m["stage"] for m in CheckpointedRunner(
        spark, os.path.join(work, "ckpt"), "run1").manifest_rows()}
    assert with_manifest == set(stages[: stages.index(crashed)])

    rerun = run_pipeline.main(args)
    adopted = {"store"} if crashed == "store" else set()
    assert set(rerun["resumed"]) == with_manifest | adopted
    assert set(rerun["recomputed"]) == set(stages) - with_manifest - adopted
    store = _store(spark, work)
    assert rerun["store_version"] == 0 and len(store.snapshots()) == 1
    assert_pdf_equal(store.read().toPandas(), clean_store, ["conv_id", "ts"])


def test_spark_submit_runs_the_zipped_package(spark, input_path, clean_store, tmp_path):
    """The job as it ships: ``spark-submit --py-files fex.zip
    run_pipeline.py``, run from a copy of the script outside the checkout
    with the checkout off ``PYTHONPATH``, so only the zip can supply the
    package. Its store equals the in-process run's. A rerun on the same
    --work from a new driver (this process) resumes every stage and adds no
    snapshot."""
    import json
    import subprocess

    import run_pipeline

    submit = shutil.which("spark-submit")
    assert submit, "spark-submit is not on PATH"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.make_archive(str(tmp_path / "fex"), "zip", root, "featureextraction_spark")
    shutil.copy(os.path.join(root, "scripts", "run_pipeline.py"), tmp_path)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and not os.path.abspath(p).startswith(root)
    )
    work = str(tmp_path / "work")
    args = ["--input", input_path, "--work", work, "--probes-per-conv", "2", "--cpus", "2"]
    proc = subprocess.run(
        [submit, "--driver-memory", "1g", "--py-files", "fex.zip", "run_pipeline.py", *args],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    # spark-submit's Python runner writes the driver's traceback to stdout
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-1000:]
    shipped = json.loads(proc.stdout.strip().splitlines()[-1])
    assert shipped["recomputed"] == ["features", "probes", "store", "turn_state"]
    assert shipped["store_version"] == 0
    store = _store(spark, work)
    assert_pdf_equal(store.read().toPandas(), clean_store, ["conv_id", "ts"])

    rerun = run_pipeline.main(args)
    assert rerun["resumed"] == ["features", "probes", "store", "turn_state"]
    assert rerun["recomputed"] == []
    assert rerun["store_version"] == 0 and len(store.snapshots()) == 1
