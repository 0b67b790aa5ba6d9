"""Resume semantics: kill mid-run, restart, identical output, completed
stages not recomputed (SURVEY.md §5 'resume test')."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from featureextraction_spark.operators.sessionize import sessionize
from featureextraction_spark.streaming.manifest import CheckpointedRunner

from conftest import count_spark_jobs


@pytest.fixture()
def base_dir(tmp_path):
    return str(tmp_path / "checkpoints")


def _pipeline(runner: CheckpointedRunner, transcripts, fail_at: str | None = None):
    calls = {"load": 0, "sessions": 0, "agg": 0}

    def load():
        calls["load"] += 1
        return transcripts

    def sessions():
        calls["sessions"] += 1
        return sessionize(loaded)

    def agg():
        calls["agg"] += 1
        if fail_at == "agg":
            raise RuntimeError("simulated crash before final stage")
        return sessioned.groupBy("conv_id").agg(
            F.max("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_turns")
        )

    loaded = runner.stage("load", load, fingerprint="fixture-v1")
    sessioned = runner.stage("sessions", sessions, fingerprint="gap=1800")
    result = runner.stage("agg", agg, fingerprint="by-conv")
    return result, calls


def test_resume_skips_completed_stages(spark, transcripts, base_dir):
    r1 = CheckpointedRunner(spark, base_dir, run_id="run1")
    with pytest.raises(RuntimeError, match="simulated crash"):
        _pipeline(r1, transcripts, fail_at="agg")
    # stages 1-2 committed with lineage before the crash
    assert {m["stage"] for m in r1.manifest_rows()} == {"load", "sessions"}
    for m in r1.manifest_rows():
        assert m["status"] == "done"
        assert m["total_rows"] == sum(p["row_count"] for p in m["partitions"])
        assert m["total_rows"] > 0

    # restart same run_id: load+sessions resumed from checkpoint, agg runs
    r2 = CheckpointedRunner(spark, base_dir, run_id="run1")
    result, calls = _pipeline(r2, transcripts)
    assert calls == {"load": 0, "sessions": 0, "agg": 1}
    assert r2.resumed == ["load", "sessions"]
    assert r2.recomputed == ["agg"]

    # output identical to a fresh uncheckpointed run
    fresh = (
        sessionize(transcripts)
        .groupBy("conv_id")
        .agg(F.max("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_turns"))
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    got = result.toPandas().sort_values("conv_id").reset_index(drop=True)
    assert got.equals(fresh)


def test_fingerprint_mismatch_forces_recompute(spark, transcripts, base_dir):
    r1 = CheckpointedRunner(spark, base_dir, run_id="run2")
    r1.stage("load", lambda: transcripts, fingerprint="v1")
    r2 = CheckpointedRunner(spark, base_dir, run_id="run2")
    r2.stage("load", lambda: transcripts, fingerprint="v2-input-changed")
    assert r2.recomputed == ["load"]
    assert r2.resumed == []


def test_metrics_dataframe(spark, transcripts, base_dir):
    r = CheckpointedRunner(spark, base_dir, run_id="run3")
    r.stage("load", lambda: transcripts, fingerprint="v1")
    m = r.metrics().toPandas()
    assert list(m["stage"]) == ["load"]
    assert m["wall_ms"].iloc[0] >= 0
    assert m["total_rows"].iloc[0] == transcripts.count()


def _rows_per_part_file(df) -> list[dict]:
    """Rows per ``part-NNNNN`` file index, read back with Spark."""
    part = F.regexp_extract(F.input_file_name(), r"part-(\d+)-", 1).cast("int")
    rows = df.groupBy(part.alias("p")).count().collect()
    return sorted(({"partition_id": r["p"], "row_count": r["count"]} for r in rows),
                  key=lambda d: d["partition_id"])


@pytest.mark.parametrize(
    "case, make, max_records",
    [
        ("empty_partition", lambda s: s.range(0, 20, 1, 4).filter("id < 3 OR id >= 15"), 0),
        ("several_files_per_partition", lambda s: s.range(0, 50, 1, 3), 7),
        ("all_empty", lambda s: s.range(0, 20, 1, 4).filter("id < 0"), 0),
    ],
)
def test_footer_lineage_matches_part_files(spark, base_dir, case, make, max_records):
    """The manifest's partitions are the rows each write partition committed,
    summed over its ``part-NNNNN`` files and without empty partitions, as
    a Spark read-back through ``input_file_name()`` sees them."""
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, str(max_records))
    try:
        r = CheckpointedRunner(spark, base_dir, run_id=case)
        out = r.stage("s", lambda: make(spark), fingerprint="v1")
    finally:
        spark.conf.set(key, old)
    m = r.read_manifest("s")
    data = os.path.join(base_dir, case, "s", "data")
    files = [f for f in os.listdir(data) if f.startswith("part-")]
    assert m["partitions"] == _rows_per_part_file(spark.read.parquet(data))
    assert m["total_rows"] == out.count() == make(spark).count()
    assert m["n_partitions"] == len(m["partitions"])
    if case == "empty_partition":
        assert [p["partition_id"] for p in m["partitions"]] == [0, 3]
    if case == "several_files_per_partition":
        assert len(files) > len(m["partitions"]) == 3
    if case == "all_empty":
        assert m["partitions"] == [] and m["total_rows"] == 0


def test_fresh_resumed_and_plain_read_schemas_equal(spark, transcripts, base_dir):
    """The frame a stage returns has the same schema whether it was just
    written or resumed, and the same as a plain parquet read of its data —
    also for columns its input declared non-nullable."""
    from featureextraction_spark.plans.feature_pipeline import turn_state

    state = turn_state(transcripts, 1800)
    assert not all(f.nullable for f in state.schema)
    fresh = CheckpointedRunner(spark, base_dir, run_id="schema").stage(
        "turn_state", lambda: state, fingerprint="v1"
    )
    r = CheckpointedRunner(spark, base_dir, run_id="schema")
    resumed = r.stage("turn_state", lambda: state, fingerprint="v1")
    assert r.resumed == ["turn_state"]
    plain = spark.read.parquet(os.path.join(base_dir, "schema", "turn_state", "data"))
    assert fresh.schema == resumed.schema == plain.schema
    assert resumed.exceptAll(plain).count() == 0 and plain.exceptAll(resumed).count() == 0


def test_manifest_without_schema_is_recomputed(spark, transcripts, base_dir):
    """A manifest in the format before schemas were recorded resumes
    nothing: the stage is recomputed and its manifest gains the schema."""
    r1 = CheckpointedRunner(spark, base_dir, run_id="old")
    r1.stage("load", lambda: transcripts, fingerprint="v1")
    path = os.path.join(base_dir, "old", "manifest", "load.json")
    with open(path) as f:
        entry = json.load(f)
    del entry["schema"]
    with open(path, "w") as f:
        json.dump(entry, f)
    r2 = CheckpointedRunner(spark, base_dir, run_id="old")
    out = r2.stage("load", lambda: transcripts, fingerprint="v1")
    assert r2.recomputed == ["load"] and r2.resumed == []
    assert "schema" in r2.read_manifest("load")
    assert out.count() == transcripts.count()


def test_stage_commit_and_resume_run_no_extra_spark_job(spark, base_dir):
    """Committing a shuffle-free stage runs exactly its write job; resuming
    it runs none: lineage comes from footers, the schema from the manifest."""
    r = CheckpointedRunner(spark, base_dir, run_id="jobs")
    assert count_spark_jobs(spark, lambda: r.stage("s", lambda: spark.range(100), "v1")) == 1
    r2 = CheckpointedRunner(spark, base_dir, run_id="jobs")
    assert count_spark_jobs(spark, lambda: r2.stage("s", lambda: spark.range(100), "v1")) == 0
    assert r2.resumed == ["s"]


def test_deleted_part_file_is_recomputed(spark, base_dir):
    """A resume checks the manifest's partitions against the data files'
    footers: with one part file gone the stage is recomputed, not resumed
    with the rows that are left."""
    make = lambda: spark.range(0, 1000, numPartitions=4)  # noqa: E731
    CheckpointedRunner(spark, base_dir, run_id="lost").stage("s", make, "v1")
    data = os.path.join(base_dir, "lost", "s", "data")
    os.remove(os.path.join(data, min(f for f in os.listdir(data) if f.startswith("part-"))))
    r = CheckpointedRunner(spark, base_dir, run_id="lost")
    out = r.stage("s", make, "v1")
    assert (r.resumed, r.recomputed) == ([], ["s"])
    assert out.count() == 1000
