"""Point-in-time feature benchmark: one workload per invocation.

Usage, from the repository root::

    python3 perfbench/run.py --workload batch_sparse --seed 1 --seconds 10 --trace 0

A closed loop with one client. Set-up starts the session, generates the
seeded input (and, for ``asof_skew``, the feature store) ``SETUPS`` times
and runs the workload's discarded warm-up jobs. The timed loop runs the
workload's job back to back for ``--seconds``, each job after the
previous one finished; at least one job always runs. The correctness gate
then checks the last job's output against the oracles. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. The
traced run also runs the layers off the workload's own path once on the
sampled conversations, among them the dense-probe features, whose output
it checks against the oracle too, and restarts a batch job a few times on
its recorded manifest. The last stdout line is the result JSON; the line
before it describes the run.

``job_s`` and ``setup_s`` are wall times less the share the hypervisor
gave this machine's CPUs to other machines (see ``meter.Stopwatch``); the
description line has the plain wall time of each job and its stolen share.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import featureextraction_spark  # noqa: E402,F401  (fails fast outside a checkout)

import check  # noqa: E402
import workloads as W  # noqa: E402
from meter import (  # noqa: E402
    CpuClock, EngineCounters, NoTrace, PeakMemory, Stopwatch, Tracer, collect_heap,
    descendants,
)

# The restart time is a per-layer metric: it is short and latency-bound,
# so its spread from run to run passed any bound.
END_TO_END = {
    "job_s": "s",
    "turns_per_s": "1/s",
    "setup_s": "s",
    "peak_mem_mb": "MB",
}
PER_LAYER = {
    "plans.feature_pipeline.turn_state_s": "s",
    "plans.feature_pipeline.features_s": "s",
    "plans.feature_pipeline.state_rows_per_probe": "ratio",
    "plans.feature_pipeline.dense_features_s": "s",
    "functions.series_kernels.probes_per_s": "1/s",
    "functions.series_kernels.dense_probes_per_s": "1/s",
    "operators.sessionize.self_s": "s",
    "operators.backfill.self_s": "s",
    "operators.ordering.self_s": "s",
    "operators.asof.self_s": "s",
    "operators.asof.matched_frac": "ratio",
    "plans.pit_read.self_s": "s",
    "sources.feature_store.append_s": "s",
    "sources.feature_store.read_s": "s",
    "sources.feature_store.file_groups": "count",
    **{f"streaming.manifest.stage_s.{s}": "s" for s in W.BATCH_STAGES},
    "streaming.manifest.overhead_s": "s",
    "streaming.manifest.partition_skew": "ratio",
    "streaming.manifest.resume_s": "s",
    "streaming.manifest.resumed_frac": "ratio",
    "session.cpu_s": "s",
    "session.task_s": "s",
    "session.busy_frac": "ratio",
    "session.shuffle_read_mb": "MB",
    "session.shuffle_write_mb": "MB",
    "session.gc_s": "s",
    "session.tasks": "count",
    "session.failed_tasks": "count",
    "trace.overhead_s": "s",
}
RESUMES = 5
SETUPS = 3  # input set-ups per run; the first also loads and compiles their code
SWEEP_TURNS = 2000  # longest conversation prefix the off-path sweep uses
KERNEL_SECONDS = 0.5
# jobs the peak memory is taken over: old-generation use grows from job to
# job until the collector clears it, so a window of as many jobs as fit in
# the run would make the peak follow the host's speed
MEMORY_JOBS = 2


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cores: int):
    """``local[cores]`` with every scratch file under ``work``."""
    from featureextraction_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    return get_spark(
        "perfbench",
        parallelism=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class Bench:
    """One workload's jobs in one session, with attempt and failure counts."""

    def __init__(self, spark, wl: W.Workload, seed: int, work: str, cores: int):
        self.wl, self.seed, self.work, self.cores = wl, seed, work, cores
        self.ctx = W.Ctx(spark, work, fingerprint=f"{wl.name}:{seed}")
        self.attempted = self.failed = self.jobs = 0

    def attempt(self, fn):
        """``fn()``, or None when it raised: a failed job is an outcome."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None

    def _job_dir(self, n: int) -> str:
        return os.path.join(self.work, "jobs", str(n))

    def job(self, tr):
        """One run of the workload's job: ``(output, manifest runner)``.
        Each batch job gets a fresh work dir; the previous one is removed."""
        self.jobs += 1
        if self.wl.job == "batch":
            shutil.rmtree(self._job_dir(self.jobs - 1), ignore_errors=True)
            return W.batch_job(self.ctx, tr, self._job_dir(self.jobs))
        return W.asof_job(self.ctx, tr), None

    def restarts(self, ctx: W.Ctx, work: str) -> tuple[list[float], float]:
        """Restart the batch job on ``work``, whose manifest records every
        stage, ``1 + RESUMES`` times: the timed restarts (the first one
        loads the resume path's classes and is not timed) and the share of
        stages the last one resumed. A stage recomputed fails the run."""
        times, frac = [], 0.0
        for _ in range(1 + RESUMES):
            t0 = time.perf_counter()
            res = self.attempt(lambda: W.batch_job(ctx, NoTrace(), work))
            if res is not None:
                times.append(time.perf_counter() - t0)
                ckpt = res[1]
                frac = len(ckpt.resumed) / (len(ckpt.resumed) + len(ckpt.recomputed))
        if frac < 1.0:
            self.failed += 1
        return times[1:], frac

    def layers(self, tr, res) -> dict:
        if self.wl.job == "batch":
            return W.batch_layers(tr, res[1])
        return W.asof_layers(tr, self.ctx)


def gate(b: Bench, res) -> dict:
    """Mismatch and leakage counts of a job's output."""
    if res is None:
        return {"mismatch_rows": None, "leakage_rows": None}
    out, ctx = res[0], b.ctx
    ids = check.sample_conv_ids(b.wl.shape, b.seed)
    sample = check.collect(ctx.transcripts, ids)
    if b.wl.job == "asof":
        mismatch = check.mismatch_rows(check.collect(out, ids), check.asof_expected(sample))
        leak = check.leakage_rows(out, ctx.transcripts, "fs_turn_count", "matched_ts")
    else:
        mismatch = check.features_mismatch(out, sample, check.sparse_probes(sample))
        leak = check.leakage_rows(out, ctx.transcripts, "turn_count")
    if mismatch or leak:
        b.failed += 1
    return {"mismatch_rows": mismatch, "leakage_rows": leak}


def timed_loop(b: Bench, seconds: float, trace: bool) -> dict:
    """Jobs back to back while the next one is expected to end within
    ``seconds``. Traced, each untraced job is followed by a traced one."""
    counters, clock = EngineCounters(b.ctx.spark), CpuClock()
    times, walls, shares, traced, layers, engine, cpu, last = [], [], [], [], [], [], [], None
    start = time.perf_counter()
    with PeakMemory(b.ctx.spark) as mem:
        while not walls or time.perf_counter() - start + statistics.median(walls) <= seconds:
            before = counters.snapshot()
            c0, watch = clock(), Stopwatch()
            res = b.attempt(lambda: b.job(NoTrace()))
            if res is None:
                if b.failed > b.attempted // 2:
                    raise RuntimeError("most jobs failed")
                continue
            last = res
            run_s, wall, share = watch.stop()
            if len(walls) + 1 == MEMORY_JOBS:
                mem.stop()
            times.append(run_s)
            walls.append(wall)
            shares.append(share)
            cpu.append(clock() - c0)
            engine.append(EngineCounters.delta(before, counters.snapshot(), wall, b.cores))
            if trace:
                tr = Tracer()
                t0 = time.perf_counter()
                last = b.job(tr)
                traced.append(time.perf_counter() - t0)
                layers.append(b.layers(tr, last))
    return {"times": times, "walls": walls, "shares": shares, "traced": traced,
            "layers": layers, "engine": engine, "peak_mem": mem.peak, "cpu": cpu, "last": last}


def sweep(b: Bench, sample_ids: list[str]) -> dict:
    """Layers off the workload's own path, from the other jobs run once on
    its sampled conversations (each cut to ``SWEEP_TURNS`` turns)."""
    from pyspark.sql import functions as F

    ctx = b.ctx
    t = ctx.transcripts.filter(
        F.col("conv_id").isin(sample_ids) & (F.col("turn_idx") < SWEEP_TURNS)
    ).persist()
    sub = W.Ctx(ctx.spark, os.path.join(ctx.root, "sweep"), fingerprint="sweep",
                transcripts=t, n_turns=t.count())
    out: dict = {}
    if b.wl.job != "batch":
        tr = Tracer()
        work = os.path.join(sub.root, "batch")
        _, ckpt = W.batch_job(sub, tr, work)
        out.update(W.batch_layers(tr, ckpt))
        out["restarts"] = b.restarts(sub, work)
    tr = Tracer()
    dense = W.dense_job(sub, tr)
    out.update(W.dense_layers(tr, sub))
    out["dense_probes"] = sub.n_turns
    sample = t.toPandas()
    out["dense_mismatch_rows"] = check.features_mismatch(
        dense, sample, check.dense_probes(sample), every_row=False)
    out["dense_leakage_rows"] = check.leakage_rows(dense, t, "turn_count")
    if b.wl.job != "asof":
        W.build_store(sub, sub.root)
        tr = Tracer()
        W.asof_job(sub, tr)
        out.update(W.asof_layers(tr, sub))
    t.unpersist()
    return out


def kernel_probes_per_s(b: Bench, sample_ids: list[str]) -> dict[str, float]:
    """In-process probe throughput of both kernels on the sampled
    conversations' turn state: the per-prefix kernel at the last turns
    (the ``run_pipeline`` probe rule), the dense one at every turn."""
    from pyspark.sql import functions as F

    from featureextraction_spark.plans.feature_pipeline import (
        compute_probe_features,
        compute_probe_features_dense,
    )

    t = b.ctx.transcripts.filter(
        F.col("conv_id").isin(sample_ids) & (F.col("turn_idx") < SWEEP_TURNS))
    state = W.turn_state(t, W.GAP_SECONDS).toPandas()
    out = {}
    for name, kernel, dense in (
        ("functions.series_kernels.probes_per_s", compute_probe_features, False),
        ("functions.series_kernels.dense_probes_per_s", compute_probe_features_dense, True),
    ):
        groups = []
        for _, g in state.groupby("conv_id"):
            probes = g[["conv_id", "ts"]].drop_duplicates()
            if not dense:
                probes = probes.sort_values("ts").tail(W.PROBES_PER_CONV)
            groups.append((g, probes))
        n, elapsed = 0, 0.0
        while elapsed < KERNEL_SECONDS:
            for g, probes in groups:
                t0 = time.perf_counter()
                kernel(g, probes)
                elapsed += time.perf_counter() - t0
                n += len(probes)
        out[name] = n / elapsed
    return out


def dominance(b: Bench, layers: dict, dense_probes: int, traced_job_s: float) -> dict:
    """The figures that confirm each job's stated dominant layer: the
    largest batch stage, the share of the as-of job in operator spans, and
    the share of the dense features span that the dense kernel's measured
    throughput predicts."""
    kernel_s = dense_probes / layers["functions.series_kernels.dense_probes_per_s"] / b.cores
    out = {"dense_kernel_share_of_features": kernel_s / layers[
        "plans.feature_pipeline.dense_features_s"]}
    if b.wl.job == "batch":
        stages = {s: layers[f"streaming.manifest.stage_s.{s}"] for s in W.BATCH_STAGES}
        out["largest_stage"] = max(stages, key=stages.get)
    else:
        out["operator_share_of_job"] = sum(layers[k] for k in (
            "operators.sessionize.self_s", "operators.backfill.self_s",
            "operators.ordering.self_s", "operators.asof.self_s", "plans.pit_read.self_s",
            "sources.feature_store.read_s")) / traced_job_s
    return out


def median_of(runs: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]} if runs else {}


def run(args) -> tuple[dict, dict, Bench]:
    wl = W.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".bench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)

    marks = [time.perf_counter()]
    watch = Stopwatch()
    spark = start_session(work, cores)
    try:
        session_s = watch.stop()[0]
        b = Bench(spark, wl, args.seed, work, cores)
        marks.append(time.perf_counter())
        inputs = []
        for k in range(SETUPS):
            where = os.path.join(work, "setup", str(k))
            watch = Stopwatch()
            W.setup_inputs(b.ctx, wl, args.seed, n_files=2 * cores, where=where)
            inputs.append(watch.stop()[0])
            if k:
                shutil.rmtree(os.path.join(work, "setup", str(k - 1)))
        marks.append(time.perf_counter())
        watch = Stopwatch()
        for k in range(wl.warm_ups):
            if k == wl.warm_ups - 1:
                # the timed jobs start from the heap a collection and one
                # job leave, not from whatever the set-up left uncollected
                collect_heap(spark)
            b.attempt(lambda: b.job(NoTrace()))
        warm_up_s = watch.stop()[0]
        marks.append(time.perf_counter())
        # set-up is session start, the median input set-up and the warm-ups
        setup_s = session_s + statistics.median(inputs) + warm_up_s

        # the gate runs after the timed jobs: its other plans, run between
        # the warm-up and the timed jobs, would slow the first timed one
        loop = timed_loop(b, args.seconds, bool(args.trace))
        marks.append(time.perf_counter())
        info = {"workload": wl.name, "seed": args.seed, "cores": cores,
                "turns": b.ctx.n_turns, **gate(b, loop["last"])}
        marks.append(time.perf_counter())
        info["phases_s"] = dict(zip(("session", "inputs", "warm_up", "timed", "gate"), (
            b - a for a, b in zip(marks, marks[1:]))))
        info["inputs_s_all"] = inputs
        job_s = statistics.median(loop["times"])
        info.update(jobs=len(loop["times"]), job_s_all=loop["times"],
                    job_wall_s_all=loop["walls"], steal_share_all=loop["shares"],
                    job_cpu_s_all=loop["cpu"])

        if not args.trace:
            values = {
                "job_s": job_s,
                "turns_per_s": b.ctx.n_turns / job_s,
                "setup_s": setup_s,
                "peak_mem_mb": loop["peak_mem"] / 2**20,
            }
            return info, {k: (v, END_TO_END[k]) for k, v in values.items()}, b

        layers = {**median_of(loop["layers"]), **median_of(loop["engine"])}
        layers["session.cpu_s"] = statistics.median(loop["cpu"])
        traced_job_s = statistics.median(loop["traced"])
        layers["trace.overhead_s"] = traced_job_s - statistics.median(loop["walls"])
        sample = check.sample_conv_ids(wl.shape, args.seed)
        swept = sweep(b, sample)
        dense_probes = swept.pop("dense_probes")
        for k in ("mismatch_rows", "leakage_rows"):
            info[f"dense_{k}"] = swept.pop(f"dense_{k}")
        if info["dense_mismatch_rows"] or info["dense_leakage_rows"]:
            b.failed += 1
        if wl.job == "batch":
            resumes, resumed_frac = b.restarts(b.ctx, b._job_dir(b.jobs))
        else:
            resumes, resumed_frac = swept.pop("restarts")
        layers["streaming.manifest.resume_s"] = statistics.median(resumes) if resumes else 0.0
        layers["streaming.manifest.resumed_frac"] = resumed_frac
        for k, v in swept.items():
            layers.setdefault(k, v)
        layers.update(kernel_probes_per_s(b, sample))
        info["dominance"] = dominance(b, layers, dense_probes, traced_job_s)
        return info, {k: (layers[k], u) for k, u in PER_LAYER.items()}, b
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    info, metrics, b = run(args)
    info["failed_frac"] = b.failed / b.attempted
    correct = info["mismatch_rows"] == 0 and info["leakage_rows"] == 0 and b.failed == 0
    print(json.dumps(info))
    print(json.dumps({
        "correct": correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
