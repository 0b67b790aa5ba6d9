"""Scaling-efficiency bench — the north rule's two-cluster-size criterion.

No real cluster exists in this sandbox, so the protocol (BASELINE.md) is:
run the SAME flagship pipeline (sessionize → rolling backfill → lag/lead →
as-of join at probe points — the exact op set named by BASELINE.json's
metric) on the SAME deterministic transcript input at two parallelism
levels (default ``local[8]`` vs ``local[32]``, i.e. N and 4N cores), each
in a fresh JVM, and report::

    efficiency = (throughput_4N / throughput_N) / 4        (target ≥ 0.8)

Each level runs ``--reps`` times and keeps the best wall time (page cache
and JIT warm by rep 2; session startup is excluded — throughput measures
the job, not JVM boot). Results go to stdout as one JSON line and to
``BENCH_SCALING_RUN.{json,md}`` (the curated ``BENCH_SCALING.{json,md}``
carry the hand-merged multi-run history; a raw run never clobbers them).

Usage::

    python scripts/scaling_bench.py [--levels 8,32] [--reps 3]
        [--conversations 6000] [--mean-turns 60]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CACHE_DIR = "/tmp/fex_scaling"


def ensure_data(n_conversations: int, mean_turns: int, n_files: int = 64) -> str:
    """Generate (once) and cache the deterministic bench input — IN SPARK.

    At bench scale (10^8 turns) driver-side pandas generation is the
    anti-pattern the engine exists to avoid; the table is produced
    distributed, with ALL randomness as pure hash functions of
    ``(conv_id, turn_idx)`` (``xxhash64``) so the output is deterministic
    regardless of partitioning or core count. Same schema and statistical
    shape as ``datagen.make_transcripts`` (Zipf-skewed sizes, mega
    conversations, ts ties + session gaps, sparse tool column); text is a
    short synthetic token (the bench pipeline never reads it — and MUST not:
    column pruning is one of the things the plan audit checks).
    """
    path = os.path.join(CACHE_DIR, f"transcripts_{n_conversations}_{mean_turns}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from featureextraction_spark.session import get_spark

    spark = get_spark(
        "fex-scaling-gen",
        parallelism=os.cpu_count() or 8,
        shuffle_partitions=256,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.local.dir": "/dev/shm/spark-tmp",
        },
    )

    def u(col, k):  # uniform(0,1) as a pure function of (col, k)
        return (F.pmod(F.xxhash64(col, F.lit(k)), F.lit(1_000_000_000)) + 0.5) / 1e9

    convs = spark.range(n_conversations).select(
        F.format_string("conv_%07d", F.col("id")).alias("conv_id"),
        F.col("id").alias("cid"),
    )
    # Zipf(1.5)-ish sizes via inverse transform, capped; first 4 convs are mega
    zipf = F.pow(u(F.col("cid"), 0), F.lit(-2.0))  # pareto alpha=0.5-shaped
    size = F.least(zipf, F.lit(200.0)) * (mean_turns // 4 + 1)
    size = F.greatest(size.cast("int"), F.lit(2))
    size = F.when(F.col("cid") < 4, F.lit(mean_turns * 100)).otherwise(size)
    turns = convs.select(
        "conv_id", "cid", F.explode(F.sequence(F.lit(0), size - 1)).alias("turn_idx")
    )

    r = F.xxhash64("cid", "turn_idx")
    delta = -60.0 * F.log(u(r, 1))  # exponential(mean 60s)
    delta = F.when(u(r, 2) < 0.07, F.lit(0.0)).otherwise(delta)  # ts ties
    delta = F.when(
        u(r, 3) < 0.05, delta + 1800.0 - 3600.0 * F.log(u(r, 4))
    ).otherwise(delta)  # idle gaps > session threshold
    delta = F.when(F.col("turn_idx") == 0, 86400.0 * 5 * u(r, 5)).otherwise(delta)

    w = Window.partitionBy("cid").orderBy("turn_idx")
    roles = F.array(*[F.lit(x) for x in ("user", "assistant", "system", "tool")])
    tools = F.array(
        *[F.lit(x) for x in ("search", "python", "browser", "calculator", "retrieval")]
    )
    out = (
        turns.withColumn("off_us", F.sum((delta * 1e6).cast("long")).over(w))
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.element_at(roles, (F.pmod(F.xxhash64(r, F.lit(6)), F.lit(4)) + 1).cast("int")).alias("role"),
            F.format_string("t%d-%d", F.col("cid"), F.col("turn_idx")).alias("text"),
            F.when(
                u(r, 7) < 0.15,
                F.element_at(tools, (F.pmod(F.xxhash64(r, F.lit(8)), F.lit(5)) + 1).cast("int")),
            ).alias("tool"),
            F.timestamp_micros(
                F.lit(1704067200000000) + F.col("off_us")  # 2024-01-01 UTC
            ).alias("ts"),
        )
    )
    out.repartition(n_files).write.mode("overwrite").parquet(path)
    spark.stop()
    return path


def run_worker(level: int, path: str, reps: int, job: str = "flagship") -> dict:
    """One parallelism level in a fresh JVM/subprocess, PINNED to exactly
    ``level`` cores with taskset.

    ``local[N]`` alone only caps task threads — GC, shuffle IO and netty
    helper threads would still spread over every core, inflating the
    low-parallelism levels and under-reporting scaling efficiency. Pinning
    the whole JVM to N cores is the faithful proxy for an N-core executor
    allocation (a real cluster's executor gets N cores for EVERYTHING).
    """
    cmd = [
        sys.executable, __file__, "--worker", str(level), "--data", path,
        "--reps", str(reps), "--job", job,
    ]
    if os.path.exists("/usr/bin/taskset") and level <= (os.cpu_count() or 1):
        cmd = ["taskset", "-c", f"0-{level - 1}"] + cmd
    out = subprocess.run(
        cmd,
        capture_output=True,
        text=True,
        cwd=REPO,
        check=False,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker local[{level}] failed:\n{out.stdout}\n{out.stderr[-3000:]}")


def worker(level: int, path: str, reps: int, job: str = "flagship") -> None:
    from pyspark.sql import functions as F

    from featureextraction_spark.operators.asof import asof_join
    from featureextraction_spark.operators.backfill import forward_fill
    from featureextraction_spark.operators.ordering import with_lag_lead
    from featureextraction_spark.operators.sessionize import sessionize
    from featureextraction_spark.session import get_spark

    shm = "/dev/shm/spark-tmp"
    os.makedirs(shm, exist_ok=True)
    spark = get_spark(
        "fex-scaling",
        parallelism=level,
        # same shuffle partitioning at every level: the comparison must vary
        # ONLY the core count, and 128 partitions keeps tasks well-sized for
        # the largest level while costing the small level nothing
        shuffle_partitions=128,
        # identical at every level; tmpfs shuffle dirs model a cluster's
        # node-local SSDs (single shared /tmp disk would serialize levels)
        extra_conf={
            "spark.local.dir": shm,
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            # throughput collector: ~10% over G1 on this sort/shuffle-bound
            # job (measured); identical at every level
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
            # shuffle codec knob (identical at every level): zstd moves
            # fewer bytes through the shared memory bus per shuffled row
            # at a CPU cost — the right trade on bandwidth-starved high
            # thread counts
            "spark.io.compression.codec": os.environ.get("SPARK_GRAFT_CODEC", "lz4"),
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JIT warmup

    tr = spark.read.parquet(path)
    n_rows = tr.count()

    if job == "compute":
        # CONTROL JOB: pure per-row compute, no shuffle, negligible memory
        # traffic — isolates engine/task-scheduling scaling from the shared
        # memory bus. If THIS scales ~1.0 while the flagship reads lower,
        # the flagship's shortfall is hardware bandwidth (which a real
        # cluster's 4N nodes multiply), not the engine.
        n_compute = 3_000_000_000

        def pipeline():
            spark.range(n_compute).selectExpr(
                "sum(pmod(xxhash64(id, id * 31, id * 131), 1000000)) AS s"
            ).write.format("noop").mode("overwrite").save()

        n_rows = n_compute
    else:

        def pipeline():
            enriched = sessionize(tr, key="conv_id", ts="ts", tie="turn_idx")
            enriched = forward_fill(
                enriched, ["tool"], key="conv_id", order=("ts", "turn_idx")
            )
            enriched = with_lag_lead(
                enriched, ["role"], by="conv_id", order=("ts", "turn_idx")
            )
            probes = (
                tr.filter(F.col("role") == "user")
                .select("conv_id", "ts")
                .dropDuplicates(["conv_id", "ts"])
            )
            data = enriched.select(
                "conv_id",
                F.col("turn_idx").alias("data_turn_idx"),
                "ts",
                "role",
                "session_id",
                "last_tool",
                "prev_role",
                "next_role",
            )
            res = asof_join(
                probes,
                data,
                on="ts",
                by="conv_id",
                tie="data_turn_idx",
                value_cols=["role", "session_id", "last_tool", "prev_role"],
            )
            res.write.format("noop").mode("overwrite").save()

    best = float("inf")
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        pipeline()
        dt = time.perf_counter() - t0
        times.append(round(dt, 3))
        best = min(best, dt)
    print(
        json.dumps(
            {
                "level": level,
                "rows": n_rows,
                "best_sec": round(best, 3),
                "times": times,
                "turns_per_sec": round(n_rows / best, 1),
            }
        )
    )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--conversations", type=int, default=24000)
    ap.add_argument("--mean-turns", type=int, default=60)
    ap.add_argument("--worker", type=int, default=None)
    ap.add_argument("--data", default=None)
    ap.add_argument(
        "--job",
        default="flagship",
        choices=["flagship", "compute"],
        help="flagship = the north-rule pipeline; compute = shuffle-free "
        "pure-CPU control job isolating engine scaling from memory bandwidth",
    )
    ap.add_argument(
        "--rounds",
        type=int,
        default=1,
        help="interleaved visits per level (each a fresh JVM running "
        "--reps reps); >1 makes the pair ratio robust to one-sided "
        "host-noise windows",
    )
    ap.add_argument(
        "--control",
        action="store_true",
        help="also run the compute control at every level and report "
        "engine-attributable efficiency = flagship speedup / control "
        "speedup (the control measures the BOX's achievable ceiling — "
        "host clocks/contention — which a real 4N-node cluster does not "
        "share)",
    )
    args = ap.parse_args()

    if args.worker is not None:
        worker(args.worker, args.data, args.reps, args.job)
        return

    path = ensure_data(args.conversations, args.mean_turns)
    levels = [int(x) for x in args.levels.split(",")]
    # interleave level visits across rounds: host-noise windows hit BOTH
    # levels instead of whichever level happened to be running, making the
    # pair ratio robust to one-sided contamination. Each visit is still a
    # fresh multi-rep JVM (in-JVM reps carry the JIT warmup).
    def merge(a: dict, b: dict) -> dict:
        best = a if a["best_sec"] <= b["best_sec"] else b
        return {**best, "times": a["times"] + b["times"]}

    by_level: dict[int, dict] = {}
    for _ in range(max(args.rounds, 1)):
        for lv in levels:
            r = run_worker(lv, path, args.reps, args.job)
            by_level[lv] = merge(by_level[lv], r) if lv in by_level else r
    results = [by_level[lv] for lv in levels]

    # the north rule compares N vs 4N executors: report every 4x pair the
    # measured levels admit (plus adjacent pairs when no 4x pair exists)
    pairs = []
    for lo in results:
        for hi in results:
            if hi["level"] == 4 * lo["level"]:
                speedup = hi["turns_per_sec"] / lo["turns_per_sec"]
                pairs.append(
                    {
                        "from": lo["level"],
                        "to": hi["level"],
                        "ratio": 4.0,
                        "speedup": round(speedup, 3),
                        "efficiency": round(speedup / 4.0, 3),
                    }
                )
    if not pairs:
        for lo, hi in zip(results, results[1:]):
            ratio = hi["level"] / lo["level"]
            speedup = hi["turns_per_sec"] / lo["turns_per_sec"]
            pairs.append(
                {
                    "from": lo["level"],
                    "to": hi["level"],
                    "ratio": ratio,
                    "speedup": round(speedup, 3),
                    "efficiency": round(speedup / ratio, 3),
                }
            )
    control_results = None
    if args.control and args.job == "flagship":
        control_results = [
            run_worker(lv, path, max(args.reps - 1, 3), "compute") for lv in levels
        ]
        by_level = {r["level"]: r for r in control_results}
        for p in pairs:
            lo, hi = by_level.get(p["from"]), by_level.get(p["to"])
            if lo and hi:
                ctl = hi["turns_per_sec"] / lo["turns_per_sec"]
                p["control_speedup"] = round(ctl, 3)
                p["engine_efficiency"] = round(p["speedup"] / ctl, 3)

    # headline selection stays within ONE metric (raw efficiency); the
    # control-normalized engine efficiency is reported as a separate,
    # clearly-labelled field rather than silently replacing the basis of
    # value/pass when --control happens to be set
    headline = max(pairs, key=lambda p: p["efficiency"])
    headline_eff = headline["efficiency"]
    norm_pairs = [p for p in pairs if "engine_efficiency" in p]
    engine_headline = (
        max(norm_pairs, key=lambda p: p["engine_efficiency"])
        if norm_pairs
        else None
    )
    summary = {
        "metric": "scaling_efficiency_raw",
        "value": headline_eff,
        "unit": f"speedup/{headline['ratio']:g}x-cores "
        f"(local[{headline['from']}]->local[{headline['to']}])",
        "levels": results,
        "pairs": pairs,
        "control_levels": control_results,
        "target": 0.8,
        "pass": headline_eff >= 0.8,
    }
    if engine_headline is not None:
        summary["engine_metric"] = "scaling_efficiency_vs_compute_ceiling"
        summary["engine_value"] = engine_headline["engine_efficiency"]
        summary["engine_unit"] = (
            f"flagship speedup / pure-compute control speedup "
            f"(local[{engine_headline['from']}]->local[{engine_headline['to']}])"
        )
        summary["engine_pass"] = engine_headline["engine_efficiency"] >= 0.8
    print(json.dumps(summary))
    if args.job != "flagship":
        # control jobs report to stdout only — BENCH_SCALING.* holds the
        # north-rule pipeline's evidence
        return
    # write the fresh run to *_RUN.* — the curated BENCH_SCALING.{json,md}
    # carry the hand-merged multi-run history and floors
    # (merge-not-overwrite); a raw run must never clobber them
    with open(os.path.join(REPO, "BENCH_SCALING_RUN.json"), "w") as f:
        json.dump(summary, f)

    ctl_block = ""
    if control_results:
        ctl_block = (
            "\n## Hardware-ceiling control (pure compute, no shuffle)\n\n"
            "`--job compute` runs a shuffle-free, embarrassingly-parallel "
            "per-row hash aggregate — zero memory-bus pressure, zero engine "
            "state. Its speedup IS the box's achievable ceiling at each core "
            "ratio (shared host clocks / hypervisor contention); a real "
            "4N-node cluster does not share this ceiling (each node brings "
            "its own sockets and memory channels). "
            "`engine_efficiency = flagship speedup / control speedup` "
            "isolates what the ENGINE leaves on the table.\n\n"
            "| level | best sec | rows/sec | all reps (sec) |\n|---|---|---|---|\n"
            + "".join(
                f"| local[{r['level']}] | {r['best_sec']} | "
                f"{r['turns_per_sec']:,} | {r['times']} |\n"
                for r in control_results
            )
        )

    def pair_row(p: dict) -> str:
        extra = (
            f" | {p['control_speedup']}× | **{p['engine_efficiency']}**"
            if "control_speedup" in p
            else ""
        )
        return (
            f"| local[{p['from']}] → local[{p['to']}] | {p['ratio']:g}× | "
            f"{p['speedup']}× | {p['efficiency']}{extra} |\n"
        )

    pair_header = (
        "| pair | cores | flagship speedup | raw efficiency | control speedup | engine efficiency |\n"
        "|---|---|---|---|---|---|\n"
        if control_results
        else "| pair | cores | speedup | efficiency |\n|---|---|---|---|\n"
    )

    with open(os.path.join(REPO, "BENCH_SCALING_RUN.md"), "w") as f:
        f.write(
            "# Scaling-efficiency evidence (north rule)\n\n"
            "Same flagship pipeline (sessionize → backfill → lag/lead → "
            "as-of join at probe points), same deterministic input, each "
            "parallelism level a fresh JVM pinned to exactly N cores "
            f"(taskset), run back-to-back; best of {args.reps} reps per "
            "level (first reps absorb JIT/page-cache warmup).\n\n"
            f"- input: `{path}` — {results[0]['rows']:,} turns "
            f"({args.conversations} conversations, Zipf-skewed, mega-convs)\n"
            "- local-mode caveat: all threads share ONE memory bus, heap and "
            "host clock budget, so high thread counts under-report what 4× "
            "the *nodes* would give on a real cluster; the pure-compute "
            "control below MEASURES that ceiling instead of hand-waving it.\n\n"
            "| level | best sec | turns/sec | all reps (sec) |\n"
            "|---|---|---|---|\n"
            + "".join(
                f"| local[{r['level']}] | {r['best_sec']} | "
                f"{r['turns_per_sec']:,} | {r['times']} |\n"
                for r in results
            )
            + "\n"
            + pair_header
            + "".join(pair_row(p) for p in pairs)
            + ctl_block
            + f"\n- headline (N→4N): efficiency **{headline_eff}** "
            f"at local[{headline['from']}]→local[{headline['to']}]"
            + (" (engine-attributable, hardware-ceiling-normalized)"
               if "engine_efficiency" in headline else "")
            + f" (target ≥ 0.8 → {'PASS' if headline_eff >= 0.8 else 'FAIL'})\n"
        )


if __name__ == "__main__":
    main()
