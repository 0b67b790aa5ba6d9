"""The benchmark's workloads and the jobs they run.

Each job calls the program's public functions exactly as a user would and
is run in a closed loop by ``run.py``. A job takes a tracer: the untraced
twin changes nothing, the traced one wraps each layer call in a span and
materializes its result, so each span covers only its own layer.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from featureextraction_spark.operators.asof import asof_join
from featureextraction_spark.operators.backfill import forward_fill
from featureextraction_spark.operators.ordering import with_lag_lead
from featureextraction_spark.operators.sessionize import sessionize
from featureextraction_spark.plans.feature_pipeline import point_in_time_features, turn_state
from featureextraction_spark.plans.pit_read import point_in_time_read
from featureextraction_spark.sources.feature_store import FeatureStore
from featureextraction_spark.streaming.manifest import CheckpointedRunner

from gen import Shape

GAP_SECONDS = 1800
PROBES_PER_CONV = 3  # the run_pipeline default
STORE_SNAPSHOTS = 3
STORE_VALUES = ["turn_count", "session_id", "last_tool"]
ASOF_VALUES = ["role", "session_id", "last_tool", "prev_role"]
RUN_ID = "bench"
BATCH_STAGES = ("turn_state", "probes", "features", "store")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    shape: Shape
    job: str  # "batch" | "asof"
    # discarded jobs in set-up: the JVM is still compiling the job's hot
    # code over its first runs, which take up to 1.3 times as long as later
    # ones; after these, job times show no trend over the timed loop
    warm_ups: int = 2


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_sparse",
            "production write path: checkpoint parquet, manifest and store; "
            "3 probes per conversation, so the UDF mostly ships Arrow state",
            Shape(n_convs=50, mean_turns=100, zipf_a=1.5, max_turns=1500,
                  n_mega=2, mega_share=0.2),
            "batch",
        ),
        Workload(
            "asof_skew",
            "sort, shuffle and window path with no Python UDF, a third of the "
            "turns in a few mega-conversations, plus the store's read side",
            Shape(n_convs=2400, mean_turns=100, zipf_a=1.5, max_turns=2000,
                  n_mega=4, mega_share=0.33),
            "asof",
            warm_ups=3,
        ),
    )
}


@dataclass
class Ctx:
    """One workload's inputs inside one benchmark process."""

    spark: SparkSession
    root: str
    fingerprint: str
    transcripts: DataFrame | None = None
    store: FeatureStore | None = None
    n_turns: int = 0
    counts: dict = field(default_factory=dict)


def setup_inputs(ctx: Ctx, wl: Workload, seed: int, n_files: int, where: str) -> None:
    """Generate the input under ``where``, written once through the
    checkpoint manifest, and, for the as-of read, the feature store."""
    import gen

    ckpt = CheckpointedRunner(ctx.spark, os.path.join(where, "ckpt"), RUN_ID)
    ctx.transcripts = ckpt.stage(
        "input",
        lambda: gen.transcripts(ctx.spark, wl.shape, seed).repartition(n_files),
        fingerprint=ctx.fingerprint,
    )
    ctx.n_turns = ckpt.read_manifest("input")["total_rows"]
    if wl.job == "asof":
        build_store(ctx, where)


def build_store(ctx: Ctx, where: str) -> None:
    """A feature log of per-turn state under ``where``, appended as
    several snapshots."""
    state = turn_state(ctx.transcripts, GAP_SECONDS).select(
        "conv_id", "ts", *STORE_VALUES
    ).persist()
    ctx.store = FeatureStore(
        ctx.spark, os.path.join(where, "feature_store"), key_cols=["conv_id", "turn_count"]
    )
    for k in range(STORE_SNAPSHOTS):
        ctx.store.append(
            state.filter(F.pmod("turn_count", F.lit(STORE_SNAPSHOTS)) == k),
            tag=f"snapshot-{k}",
        )
    state.unpersist()


def _finish(out: DataFrame) -> None:
    """Compute every row and column of ``out`` into a sink that drops them;
    ``out`` stays lazy, so a check reading it later computes it again."""
    out.write.format("noop").mode("overwrite").save()


def last_turns(t: DataFrame, n: int) -> DataFrame:
    """The run_pipeline probe rule: the last ``n`` turns of each conversation."""
    w = Window.partitionBy("conv_id").orderBy(F.desc("ts"), F.desc("turn_idx"))
    return (
        t.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select("conv_id", "ts")
        .distinct()
    )


def batch_job(ctx: Ctx, tr, work: str) -> tuple[DataFrame, CheckpointedRunner]:
    """The ``scripts/run_pipeline.py`` stage sequence on work dir ``work``:
    fresh, it computes every stage; on a recorded work dir, it resumes."""
    spark, fp = ctx.spark, ctx.fingerprint
    ckpt = CheckpointedRunner(spark, os.path.join(work, "ckpt"), RUN_ID)

    def stage(name, fn):
        with tr.span(f"streaming.manifest.stage.{name}"):
            return ckpt.stage(name, fn, fingerprint=fp)

    state = stage("turn_state", lambda: tr.materialize(
        "plans.feature_pipeline.turn_state", lambda: turn_state(ctx.transcripts, GAP_SECONDS)))
    probes = stage("probes", lambda: last_turns(ctx.transcripts, PROBES_PER_CONV))
    features = stage("features", lambda: tr.materialize(
        "plans.feature_pipeline.features",
        lambda: point_in_time_features(None, probes, GAP_SECONDS, state=state)))

    store = FeatureStore(spark, os.path.join(work, "feature_store"), key_cols=["conv_id", "ts"])
    m = ckpt.read_manifest("store")
    tag = f"{RUN_ID}:{fp}:store"
    if m is not None and m.get("input_fingerprint") == fp:
        ckpt.resumed.append("store")
        version = m.get("store_version", store.current_version())
    else:
        t0 = time.perf_counter()
        # adopt a snapshot committed before a crash, as run_pipeline does
        version = store.find_version_by_tag(tag)
        adopted = version is not None
        if not adopted:
            with tr.span("sources.feature_store.append"):
                version = store.append(features, tag=tag)
        n = store.read(version=version).count()
        ckpt.record("store", fp, n, int((time.perf_counter() - t0) * 1000),
                    extra={"store_version": version}, resumed=adopted)
    out = store.read(version=version)
    out.count()
    tr.release()
    return out, ckpt


def batch_layers(tr, ckpt: CheckpointedRunner) -> dict[str, float]:
    rows = {m["stage"]: m for m in ckpt.manifest_rows()}
    out = {
        "plans.feature_pipeline.turn_state_s": tr.total_s("plans.feature_pipeline.turn_state"),
        "plans.feature_pipeline.features_s": tr.total_s("plans.feature_pipeline.features"),
        "plans.feature_pipeline.state_rows_per_probe":
            rows["turn_state"]["total_rows"] / rows["features"]["total_rows"],
        "sources.feature_store.append_s": tr.total_s("sources.feature_store.append"),
    }
    overhead = 0.0
    for s in BATCH_STAGES:
        out[f"streaming.manifest.stage_s.{s}"] = rows[s]["wall_ms"] / 1000.0
        if s != "store":
            overhead += tr.total_s(f"streaming.manifest.stage.{s}") - rows[s]["wall_ms"] / 1000.0
    out["streaming.manifest.overhead_s"] = overhead
    out["streaming.manifest.partition_skew"] = max(
        max(p["row_count"] for p in m["partitions"])
        / statistics.median(p["row_count"] for p in m["partitions"])
        for m in rows.values()
        if m["partitions"]
    )
    return out


def dense_job(ctx: Ctx, tr) -> DataFrame:
    """Point-in-time vectors at every turn through the dense kernels.
    Run on the sampled conversations of a traced run (see ``run.sweep``)."""
    t = ctx.transcripts
    state = None
    if tr.enabled:
        state = tr.materialize(
            "plans.feature_pipeline.turn_state", lambda: turn_state(t, GAP_SECONDS))
    out = tr.materialize("plans.feature_pipeline.features", lambda: point_in_time_features(
        t, t.select("conv_id", "ts"), GAP_SECONDS, state=state, dense_probes=True))
    _finish(out)
    tr.release()
    return out


def dense_layers(tr, ctx: Ctx) -> dict[str, float]:
    return {
        "plans.feature_pipeline.dense_features_s": tr.total_s("plans.feature_pipeline.features"),
    }


def asof_job(ctx: Ctx, tr) -> DataFrame:
    """sessionize → forward_fill(tool) → lag/lead(role) → as-of join at
    every user turn, then the point-in-time read of the feature store."""
    t = ctx.transcripts
    order = ("ts", "turn_idx")
    s = tr.materialize("operators.sessionize", lambda: sessionize(
        t, key="conv_id", ts="ts", tie="turn_idx", gap_seconds=GAP_SECONDS))
    f = tr.materialize("operators.backfill", lambda: forward_fill(
        s, ["tool"], key="conv_id", order=order))
    o = tr.materialize("operators.ordering", lambda: with_lag_lead(
        f, ["role"], by="conv_id", order=order))
    probes = t.filter(F.col("role") == "user").select("conv_id", "ts").dropDuplicates(
        ["conv_id", "ts"])
    data = o.select("conv_id", F.col("turn_idx").alias("data_turn_idx"), "ts", *ASOF_VALUES)
    a = tr.materialize("operators.asof", lambda: asof_join(
        probes, data, on="ts", by="conv_id", tie="data_turn_idx", value_cols=ASOF_VALUES))
    with tr.span("plans.pit_read"):
        log = tr.materialize("sources.feature_store.read", ctx.store.read)
        out = tr.materialize(None, lambda: point_in_time_read(
            a, asof_sources=[("fs_", log, STORE_VALUES)], by="conv_id", on="ts",
            tie="turn_count"))
    if tr.enabled:
        ctx.counts = {
            "probes": a.count(),
            "matched": a.filter(F.col("matched_ts").isNotNull()).count(),
        }
    _finish(out)
    tr.release()
    return out


def asof_layers(tr, ctx: Ctx) -> dict[str, float]:
    return {
        "operators.sessionize.self_s": tr.self_s("operators.sessionize"),
        "operators.backfill.self_s": tr.self_s("operators.backfill"),
        "operators.ordering.self_s": tr.self_s("operators.ordering"),
        "operators.asof.self_s": tr.self_s("operators.asof"),
        "operators.asof.matched_frac": ctx.counts["matched"] / ctx.counts["probes"],
        "plans.pit_read.self_s": tr.self_s("plans.pit_read"),
        "sources.feature_store.read_s": tr.total_s("sources.feature_store.read"),
        "sources.feature_store.file_groups": float(len(ctx.store.snapshots()[-1]["files"])),
    }
