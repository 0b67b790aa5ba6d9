"""Feature store sink — snapshot-versioned parquet with Iceberg semantics.

Re-expresses the reference's two CSV write disciplines
(``src/preparation/writer.py:20-34`` row append and ``writer.py:37-77``
positional column merge) as a table-format sink:

* ``append(df)``   — S4: a new snapshot that REFERENCES existing data files
  and adds new ones (no rewrite — exactly Iceberg's append snapshot).
* ``merge_columns(df)`` — S5: schema-evolving column merge keyed on
  the ROW KEY, never on row position — fixing the defect the reference's own
  TODO admits (``writer.py:47``: "Implement write_features with smarter
  merging such that features are added based on the file names"). Rows are
  matched by key (e.g. ``(conv_id, ts)``); unmatched left rows keep nulls in
  the new columns. Implemented as a copy-on-write rewrite snapshot — the
  parquet stand-in for Iceberg ``MERGE INTO`` (see ``IcebergFeatureStore``).
* ``read(version=...)`` — time travel over the snapshot log;
  ``count(version=...)`` — its row count from the data files' footers.

Scale notes (100 TB): the snapshot log holds file PATHS, not data — append
is O(new data) regardless of table size, like Iceberg manifests.
``merge_columns`` is the only rewriting op; on a real cluster it is issued
as Iceberg ``MERGE INTO`` (merge-on-read) via ``IcebergFeatureStore`` so it
rewrites nothing either. The local parquet engine keeps identical user
semantics so every test exercises the same API the cluster path ships.

Commit protocol: data files are written first, then the log is replaced via
atomic rename — a half-written snapshot is never visible (single-writer;
Iceberg's optimistic-concurrency swap is the multi-writer analog). Expiry
runs the other way round: the shorter log first, then the file groups it
no longer names.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from featureextraction_spark.streaming.manifest import _footer_lineage

_LOG = "_feature_store_log.json"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime jar + a catalog are on the session.

    This container ships no Iceberg jar, so the parquet engine below is the
    tested path; ``IcebergFeatureStore`` is the drop-in for clusters that do.
    """
    try:
        jconf = spark.sparkContext._jsc.sc().conf()
        if not any(
            "iceberg" in str(v).lower()
            for _k, v in jconf.getAll()
        ):
            return False
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


class FeatureStore:
    """Snapshot-versioned parquet feature store keyed on ``key_cols``.

    Layout::

        <path>/data/<uuid>/part-*.parquet     immutable data-file groups
        <path>/_feature_store_log.json        snapshot log (atomic rename)

    Each snapshot is ``{"version", "op", "files": [dirs], "schema",
    "struct"}``: ``schema`` lists the column names, ``struct`` is the Spark
    struct as JSON (Iceberg keeps the table schema in metadata the same way).
    Reads union the referenced dirs with that struct, so they infer nothing
    from the files; a snapshot without one (an older log) is read by
    inference. ``version`` is monotonically increasing. ``find_version_by_tag``
    reads the optional ``tag`` and ``expired_tags``.
    """

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str]):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- snapshot log ------------------------------------------------------

    def _log_path(self) -> str:
        return os.path.join(self.path, _LOG)

    def snapshots(self) -> list[dict]:
        if not os.path.exists(self._log_path()):
            return []
        with open(self._log_path()) as f:
            return json.load(f)

    def current_version(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1]["version"] if snaps else None

    def _commit(
        self,
        op: str,
        files: list[str],
        schema: list[str],
        struct: dict | None,
        tag: str | None = None,
    ) -> int:
        snaps = self.snapshots()
        version = (snaps[-1]["version"] + 1) if snaps else 0
        snap = {"version": version, "op": op, "files": files, "schema": schema}
        if struct is not None:
            snap["struct"] = struct
        if tag is not None:
            snap["tag"] = tag
        snaps.append(snap)
        self._write_log(snaps)
        return version

    def _write_log(self, snaps: list[dict]) -> None:
        tmp = self._log_path() + f".tmp.{uuid.uuid4().hex}"
        try:
            with open(tmp, "w") as f:
                json.dump(snaps, f, indent=1)
            os.replace(tmp, self._log_path())  # atomic commit point
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
            raise

    def _write_group(self, df: DataFrame) -> str:
        group = uuid.uuid4().hex
        df.write.mode("overwrite").parquet(os.path.join(self.path, "data", group))
        return group

    # -- operations --------------------------------------------------------

    def find_version_by_tag(self, tag: str) -> int | None:
        """Latest snapshot version committed with ``tag``, or None.

        Tags make appends idempotent across job restarts: a writer that
        crashed AFTER committing but BEFORE recording its own bookkeeping
        can look its commit up instead of appending the same rows again
        (Iceberg analog: snapshot summary properties), also after
        ``expire_snapshots`` dropped the commit's snapshot.
        """
        for s in reversed(self.snapshots()):
            if s.get("tag") == tag or tag in s.get("expired_tags", ()):
                return s["version"]
        return None

    def append(self, df: DataFrame, tag: str | None = None) -> int:
        """S4 row append: new snapshot = previous files + one new file group.

        Columns are matched BY NAME against the current schema (the
        reference appends headerless CSV rows positionally,
        ``writer.py:32-34`` — a silent-corruption hazard we do not copy).
        ``tag`` stamps the snapshot for idempotent-restart lookup
        (``find_version_by_tag``). A column whose type differs from the
        table's is rejected before anything is written.
        """
        snaps = self.snapshots()
        if snaps:
            schema = snaps[-1]["schema"]
            struct = snaps[-1].get("struct")
            missing = [c for c in schema if c not in df.columns]
            if missing:
                raise ValueError(f"append missing columns: {missing}")
            df = df.select(*schema)  # name-aligned, order-normalized
            if struct is not None:
                table = {f.name: f.dataType.simpleString() for f in StructType.fromJson(struct)}
                wrong = [f"{c}: {t} (table has {table[c]})" for c, t in df.dtypes if t != table[c]]
                if wrong:
                    raise ValueError(f"append column types differ from the table: {wrong}")
        else:
            schema = df.columns
            struct = df.schema.jsonValue()
        group = self._write_group(df)
        prev_files = snaps[-1]["files"] if snaps else []
        return self._commit("append", prev_files + [group], schema, struct, tag=tag)

    def merge_columns(self, df: DataFrame, tag: str | None = None) -> int:
        """S5 column merge KEYED ON ``key_cols`` (never positional).

        ``df`` must carry the key columns plus the feature columns to adopt;
        only columns absent from the current schema are added (reference
        ``np.setdiff1d(new.columns, old.columns)``, ``writer.py:67``).
        Existing rows without a match keep nulls. Copy-on-write rewrite —
        on Iceberg this is ``MERGE INTO`` + ``ADD COLUMNS`` instead.
        """
        snaps = self.snapshots()
        if not snaps:
            return self.append(df, tag=tag)
        current = self.read()
        schema = snaps[-1]["schema"]
        new_cols = [c for c in df.columns if c not in schema]
        if not new_cols:
            return snaps[-1]["version"]
        right = df.select(*self.key_cols, *new_cols)
        if right.groupBy(*self.key_cols).count().filter("count > 1").limit(1).count():
            raise ValueError("merge_columns: right side has duplicate keys")
        merged = current.join(right, on=self.key_cols, how="left")
        group = self._write_group(merged)
        return self._commit(
            "merge_columns", [group], schema + new_cols, merged.schema.jsonValue(), tag=tag
        )

    def _snapshot(self, version: int | None) -> dict:
        """The snapshot at ``version`` (default: latest)."""
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"empty feature store at {self.path}")
        if version is None:
            return snaps[-1]
        snap = next((s for s in snaps if s["version"] == version), None)
        if snap is None:
            live = [s["version"] for s in snaps]
            raise ValueError(
                f"feature store at {self.path} has no version {version}; "
                f"live versions: {live}"
            )
        return snap

    def read(self, version: int | None = None) -> DataFrame:
        """Read the table at ``version`` (default: latest) — time travel."""
        snap = self._snapshot(version)
        paths = [os.path.join(self.path, "data", g) for g in snap["files"]]
        reader = self.spark.read
        if "struct" in snap:
            reader = reader.schema(StructType.fromJson(snap["struct"]))
        return reader.parquet(*paths).select(*snap["schema"])

    def count(self, version: int | None = None) -> int:
        """Rows of the table at ``version`` (default: latest), summed from
        the parquet footers of the snapshot's file groups on the driver —
        no Spark job (Iceberg answers it from manifest record counts)."""
        snap = self._snapshot(version)
        return sum(
            p["row_count"]
            for g in snap["files"]
            for p in _footer_lineage(os.path.join(self.path, "data", g))
        )

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Keep the last ``keep_last`` snapshots and drop every file group
        they do not reference (Iceberg ``expire_snapshots``); returns the
        number of groups removed. Every operation keeps the rows of the
        snapshot before it, so the oldest kept snapshot holds the dropped
        snapshots' rows and takes over their tags as ``expired_tags``.

        The shorter log is committed before any group is removed, so a
        crash leaves every logged version readable; the groups it leaves
        behind are unreferenced, and the next call removes them. It also
        removes log temp files: with a single writer, one found here was
        left by a kill between a log write and its rename.
        """
        if keep_last < 1:
            raise ValueError(f"expire_snapshots: keep_last must be >= 1, got {keep_last}")
        snaps = self.snapshots()
        kept = snaps[-keep_last:]
        if len(snaps) > keep_last:
            tags = (t for s in snaps[:-keep_last] for t in (*s.get("expired_tags", ()), s.get("tag")))
            kept[0]["expired_tags"] = [t for t in tags if t]
            self._write_log(kept)
        for n in os.listdir(self.path):
            if n.startswith(_LOG + ".tmp."):
                os.remove(os.path.join(self.path, n))
        live = {g for s in kept for g in s["files"]}
        removed = 0
        data_dir = os.path.join(self.path, "data")
        for g in os.listdir(data_dir):
            if g not in live:
                shutil.rmtree(os.path.join(data_dir, g))
                removed += 1
        return removed


class IcebergFeatureStore:
    """The same API issued as real Iceberg SQL — the cluster ship path.

    Untestable in this container (no Iceberg jar — ``iceberg_available``);
    every statement below is standard public Iceberg-Spark SQL.
    """

    def __init__(self, spark: SparkSession, table: str, key_cols: list[str]):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on classpath; use FeatureStore (parquet)"
            )
        self.spark = spark
        self.table = table
        self.key_cols = list(key_cols)

    def append(self, df: DataFrame, tag: str | None = None) -> None:
        w = df.writeTo(self.table)
        if tag is not None:
            # public Iceberg write option: lands in the snapshot summary,
            # queryable via the table's .snapshots metadata table
            w = w.option("snapshot-property.run-tag", tag)
        w.append()

    def merge_columns(self, df: DataFrame, new_cols: list[str]) -> None:
        for c in new_cols:
            dt = dict(df.dtypes)[c]
            self.spark.sql(
                f"ALTER TABLE {self.table} ADD COLUMNS ({c} {dt})"
            )
        df.createOrReplaceTempView("_fex_merge_src")
        on = " AND ".join(f"t.{k} = s.{k}" for k in self.key_cols)
        sets = ", ".join(f"t.{c} = s.{c}" for c in new_cols)
        self.spark.sql(
            f"MERGE INTO {self.table} t USING _fex_merge_src s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets}"
        )

    def read(self, version: int | None = None) -> DataFrame:
        reader = self.spark.read
        if version is not None:
            reader = reader.option("snapshot-id", str(version))
        return reader.format("iceberg").load(self.table)
