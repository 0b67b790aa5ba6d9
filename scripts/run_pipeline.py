"""End-to-end resumable feature job — the spark-submit ship vehicle.

The north rule's job shape: read a transcript table, compute point-in-time
features, land them in the feature store — with every stage writing
per-partition lineage + metrics to the checkpoint manifest so a restarted
run resumes mid-job without recomputation (the formalization of the
reference's every-10-entities flush, ``src/preparation/writer.py:122-126``).

Usage (local or cluster — same file)::

    zip -r fex.zip featureextraction_spark
    spark-submit --driver-memory 24g --py-files fex.zip scripts/run_pipeline.py \
        --input /path/to/transcripts.parquet \
        --work  /path/to/workdir \
        [--gap-seconds 1800] [--probes-per-conv 3] [--run-id r1]

Driver/executor memory MUST be sized via spark-submit flags (the JVM is
already running by the time session-level conf is read); local-mode runs
at 10^7+ turns want >= 16g.

Stages (each checkpointed + manifested):
  1. turn_state  — sessionize + lag + forward-fill + running transitions
  2. probes      — deterministic probe points (last N turns per conv)
  3. features    — point-in-time vectors at the probes
  4. store       — snapshot append into the parquet/Iceberg feature store

Each stage is keyed on a chained hash of the input fingerprint, its own
parameters and its upstream stages' keys (``stage_key``). Re-running with
the same --work skips a completed stage only when its key is unchanged
(its output is re-read from the checkpoint parquet): a new --gap-seconds
recomputes turn_state, features and store, a new --probes-per-conv
recomputes probes, features and store. The store stage also needs its
recorded ``store_version`` to be live in the snapshot log; when
``FeatureStore.expire_snapshots`` has dropped it, the run's store tag
resolves to the oldest kept snapshot, which still holds the run's rows, and
the stage adopts that version instead of appending the rows again. The
final JSON line reports which stages resumed vs recomputed plus per-stage
wall/rows from the manifest.
Its ``feature_rows`` is the store's row count at this run's
``store_version``, not at the latest version: the two differ only when
another run appended to the same store afterwards. Row counts come from
parquet footers, so a fully resumed run starts no Spark job.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F


def input_fingerprint(path: str) -> str:
    """Deterministic fingerprint of the input: the relative path, size and
    mtime of every data file, walked recursively so a Hive-partitioned
    directory (``col=val/part-*.parquet``) is covered. Names starting with
    ``_`` or ``.`` (``_SUCCESS``, ``.crc``, ``_temporary``) are skipped, as
    Spark's reader skips them."""
    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files += [os.path.join(root, n) for n in names if not n.startswith(("_", "."))]
    else:
        files = [path]
    parts = []
    for fp in sorted(files):
        st = os.stat(fp)
        rel = os.path.relpath(fp, path) if fp != path else os.path.basename(fp)
        parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def stage_key(name: str, *parts) -> str:
    """Resume key of stage ``name``: a hash of its parameters and the keys
    (or input fingerprint) it reads, so any upstream change reaches it."""
    return hashlib.md5("|".join(map(str, (name, *parts))).encode()).hexdigest()


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet path")
    ap.add_argument("--work", required=True, help="checkpoint/workdir")
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--gap-seconds", type=int, default=1800)
    ap.add_argument("--probes-per-conv", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=0)
    args = ap.parse_args(argv)

    from featureextraction_spark.plans.feature_pipeline import (
        point_in_time_features,
        turn_state,
    )
    from featureextraction_spark.session import get_spark
    from featureextraction_spark.sources.feature_store import FeatureStore
    from featureextraction_spark.streaming.manifest import CheckpointedRunner

    spark = get_spark("fex-pipeline", parallelism=args.cpus or None)
    ckpt = CheckpointedRunner(spark, os.path.join(args.work, "ckpt"), args.run_id)
    fp = input_fingerprint(args.input)
    keys = {
        "turn_state": stage_key("turn_state", fp, args.gap_seconds),
        "probes": stage_key("probes", fp, args.probes_per_conv),
    }
    keys["features"] = stage_key("features", keys["turn_state"], keys["probes"])
    keys["store"] = stage_key("store", keys["features"])

    state = ckpt.stage(
        "turn_state",
        lambda: turn_state(spark.read.parquet(args.input), args.gap_seconds),
        fingerprint=keys["turn_state"],
    )

    def probes_fn():
        tr = spark.read.parquet(args.input)
        w = Window.partitionBy("conv_id").orderBy(F.desc("ts"), F.desc("turn_idx"))
        return (
            tr.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= args.probes_per_conv)
            .select("conv_id", "ts")
            .distinct()
        )

    probes = ckpt.stage("probes", probes_fn, fingerprint=keys["probes"])

    features = ckpt.stage(
        "features",
        lambda: point_in_time_features(
            None, probes, args.gap_seconds, state=state
        ),
        fingerprint=keys["features"],
    )

    store = FeatureStore(
        spark, os.path.join(args.work, "feature_store"), key_cols=["conv_id", "ts"]
    )
    store_manifest = ckpt.read_manifest("store")
    store_tag = f"{args.run_id}:{keys['store']}:store"
    live = {s["version"] for s in store.snapshots()}
    if (
        store_manifest is not None
        and store_manifest.get("input_fingerprint") == keys["store"]
        and store_manifest.get("store_version") in live
    ):
        ckpt.resumed.append("store")
        version = store_manifest["store_version"]
    else:
        import time as _t

        t0 = _t.perf_counter()
        # idempotent under restart: if a previous attempt committed the
        # snapshot but crashed before recording the manifest, or its
        # snapshot has since expired, adopt the live snapshot holding that
        # commit instead of appending the same feature rows again
        version = store.find_version_by_tag(store_tag)
        adopted = version is not None
        if not adopted:
            version = store.append(features, tag=store_tag)
        ckpt.record(
            "store", keys["store"], store.count(version),
            int((_t.perf_counter() - t0) * 1000),
            extra={"store_version": version},
            resumed=adopted,
        )

    summary = {
        "run_id": args.run_id,
        "input": args.input,
        "fingerprint": fp,
        "resumed": sorted(set(ckpt.resumed)),
        "recomputed": sorted(set(ckpt.recomputed)),
        "store_version": version,
        "feature_rows": store.count(version),
        "stages": [
            {k: m[k] for k in ("stage", "status", "wall_ms", "total_rows", "n_partitions")}
            for m in ckpt.manifest_rows()
        ],
    }
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main()
