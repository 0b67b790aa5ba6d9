"""Checkpoint manifest with per-partition lineage — mid-job resume without
recomputation (SURVEY.md W10 → §4 'incremental / resumable execution').

Reference analog: the periodic flush every 10 completed entities that
protects against late failure (``src/preparation/writer.py:114-128``) —
formalized here as stage-granular checkpointing:

- every stage writes its output to ``<base>/<run_id>/<stage>/data`` (parquet,
  partition-atomic: Spark commits via _SUCCESS) in one write, nothing added
  to its rows;
- the per-partition lineage ``(partition_id, row_count)`` comes from the
  committed files' parquet footers, read on the driver: the NNNNN of each
  ``part-NNNNN-*`` file is the partition that wrote it, and its footer
  holds its row count (Iceberg keeps record counts in metadata the same
  way). Reading every footer also proves each committed file is complete;
- the manifest entry — stage-level ``(input_fingerprint, wall_ms,
  total_rows, status)``, the partitions and the output's Spark schema — is
  committed AFTER the data: the commit-ordering invariant that makes
  restart safe (a manifest entry implies readable data);
- on restart, stages whose manifest entry is ``done``, whose
  input_fingerprint matches, which carry a schema and whose data files'
  footers still add up to the recorded partitions are loaded from their
  checkpoint with that schema, not recomputed. Neither the commit nor the
  read-back runs a Spark job beyond the write itself.

Spark gives task-level retry within a job but nothing across driver
restarts; this is the custom subsystem the north rule asks for. Local-FS
JSON here; the identical protocol works on any object store (or an Iceberg
manifest table) on a real cluster.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import Counter
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_PART_FILE = re.compile(r"part-(\d+)-")


def _footer_lineage(data_path: str) -> list[dict]:
    """Rows per write partition of a committed parquet directory, summed
    over each ``part-NNNNN-*`` file's footer (a partition writes several
    files under ``spark.sql.files.maxRecordsPerFile``). Partitions with no
    rows are left out, so an all-empty output has no partitions."""
    rows: Counter[int] = Counter()
    for fn in os.listdir(data_path):
        m = _PART_FILE.match(fn)
        if m:
            rows[int(m.group(1))] += pq.read_metadata(os.path.join(data_path, fn)).num_rows
    return [{"partition_id": p, "row_count": n} for p, n in sorted(rows.items()) if n]


class CheckpointedRunner:
    """Runs a named sequence of DataFrame stages with resume-from-manifest.

    Usage::

        runner = CheckpointedRunner(spark, base_dir, run_id="r1")
        turns = runner.stage("load", lambda: spark.read.parquet(...),
                             fingerprint="sf0.01")
        feats = runner.stage("features", lambda: pipeline(turns))
    """

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str):
        self.spark = spark
        self.base = os.path.join(base_dir, run_id)
        self.run_id = run_id
        os.makedirs(os.path.join(self.base, "manifest"), exist_ok=True)
        self.recomputed: list[str] = []
        self.resumed: list[str] = []

    # -- manifest bookkeeping ------------------------------------------------

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.base, "manifest", f"{stage}.json")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.base, stage, "data")

    def read_manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def manifest_rows(self) -> list[dict]:
        rows = []
        mdir = os.path.join(self.base, "manifest")
        for fn in sorted(os.listdir(mdir)):
            if not fn.endswith(".json"):  # an uncommitted ``.tmp``
                continue
            with open(os.path.join(mdir, fn)) as f:
                rows.append(json.load(f))
        return rows

    def _commit(
        self,
        name: str,
        fingerprint: str | None,
        wall_ms: int,
        total_rows: int,
        partitions: list[dict],
        **extra,
    ) -> None:
        """Commit stage ``name``'s manifest entry: temp file + atomic rename,
        called only after the stage's data has committed."""
        entry = {
            "run_id": self.run_id,
            "stage": name,
            "status": "done",
            "input_fingerprint": fingerprint,
            "wall_ms": wall_ms,
            "total_rows": total_rows,
            "n_partitions": len(partitions),
            "partitions": partitions,
            "committed_at_unix": int(time.time()),
            **extra,
        }
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f, indent=1)
        os.replace(tmp, self._manifest_path(name))

    # -- execution -----------------------------------------------------------

    def stage(
        self,
        name: str,
        df_fn: Callable[[], DataFrame],
        fingerprint: str | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage; returns the stage's output DataFrame
        backed by its checkpoint parquet (stable lineage for downstream
        stages even across restarts). A manifest without a schema (an older
        format), or whose partitions the data files' footers no longer add
        up to (a part file deleted or replaced), counts as not done."""
        manifest = self.read_manifest(name)
        data_path = self._data_path(name)
        if (
            manifest is not None
            and manifest.get("status") == "done"
            and manifest.get("input_fingerprint") == fingerprint
            and "schema" in manifest
            and os.path.exists(os.path.join(data_path, "_SUCCESS"))
            and _footer_lineage(data_path) == manifest["partitions"]
        ):
            self.resumed.append(name)
            schema = StructType.fromJson(manifest["schema"])
            return self.spark.read.schema(schema).parquet(data_path)

        t0 = time.perf_counter()
        df = df_fn()
        df.write.mode("overwrite").parquet(data_path)  # partition-atomic commit
        wall_ms = int((time.perf_counter() - t0) * 1000)

        partitions = _footer_lineage(data_path)
        self._commit(
            name, fingerprint, wall_ms, sum(p["row_count"] for p in partitions),
            partitions, schema=df.schema.jsonValue(),
        )
        self.recomputed.append(name)
        return self.spark.read.schema(df.schema).parquet(data_path)

    def record(
        self,
        name: str,
        fingerprint: str | None,
        total_rows: int,
        wall_ms: int,
        extra: dict | None = None,
        resumed: bool = False,
    ) -> None:
        """Manifest a side-effect stage (e.g. a feature-store append) that
        has no checkpoint parquet of its own — same atomic commit protocol,
        so restarts can skip the side effect too. ``resumed=True`` records
        the manifest without counting the stage as recomputed (healing a
        lost manifest for a side effect that had already committed)."""
        self._commit(name, fingerprint, wall_ms, total_rows, [], **(extra or {}))
        (self.resumed if resumed else self.recomputed).append(name)

    def metrics(self) -> DataFrame:
        """All manifest rows as a DataFrame (stage-level metrics sink, S9)."""
        rows = [
            (
                m["run_id"],
                m["stage"],
                m["status"],
                m["wall_ms"],
                m["total_rows"],
                m["n_partitions"],
            )
            for m in self.manifest_rows()
        ]
        return self.spark.createDataFrame(
            rows,
            schema="run_id string, stage string, status string, wall_ms long,"
            " total_rows long, n_partitions long",
        )
