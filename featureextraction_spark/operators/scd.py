"""SCD2 (slowly-changing-dimension type 2) validity-interval builder.

The WRITE side of a point-in-time feature store: turn an append-only
state-change event log into the half-open validity intervals
``[valid_from, valid_to)`` a warehouse dimension stores — the table an
as-of/range join then reads. One window family (lead + row_number) over
the per-entity total order, i.e. exactly one ``HashPartitioning(by)``
exchange and one sort; the open (current) row has ``valid_to = NULL``.

Half-open semantics: a state is valid from its own event µs up to but
NOT including the next change's µs — the convention that makes
``valid_from <= ts < valid_to`` containment unambiguous when changes
share a µs with a probe. (Backward as-of at ts then equals the interval
row containing ts — the two read paths agree by construction.)

Reference analog: the memoized "latest derived state"
(``src/preparation/models.py:21-24``) is the in-memory special case of
reading this dimension at NOW.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.time import epoch_us


def scd2_intervals(
    df: DataFrame,
    by: str = "user_id",
    ts: str = "ts",
    tie: str = "event_id",
    state: str = "event_type",
) -> DataFrame:
    """One row per state-change event: (by, tie, state, valid_from_us,
    valid_to_us NULL-when-open, version 1..n)."""
    t = df.withColumn("__us", epoch_us(df, ts))
    w = Window.partitionBy(by).orderBy("__us", tie)
    return t.select(
        F.col(by),
        F.col(tie),
        F.col(state).alias("state"),
        F.col("__us").cast("long").alias("valid_from_us"),
        F.lead("__us").over(w).cast("long").alias("valid_to_us"),
        F.row_number().over(w).cast("long").alias("version"),
    )


def cdc_apply(
    changelog: DataFrame,
    key: str,
    seq: tuple[str, ...],
    op: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Latest-wins changelog compaction (the read half of CDC / the
    Delta-style MERGE): one row per key — the payload of the key's
    highest-``seq`` change — with keys whose final change is a
    ``delete_op`` absent from the result.

    ``seq`` must be a per-key total order (e.g. (ts_us, change_id)), so
    "latest" is engine-independent. One key exchange + one row_number;
    for a mega-hot key (one entity receiving a large share of all
    changes) pre-thin with the :func:`..ranking.top_per_group` salted
    two-phase pattern at k=1 — same rows by the subset property.
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in seq])
    return (
        changelog.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col(op) != F.lit(delete_op)))
        .drop("__rn")
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare: tuple[str, ...],
) -> DataFrame:
    """Keyed snapshot diff: one row per key in either snapshot with
    ``status`` ∈ {added, removed, changed, unchanged} and the old/new
    values of every compared column (prefixed ``old_`` / ``new_``).

    The audit you run after a CDC apply or a backfill. One full outer
    hash equi-join on the key; comparisons are null-safe (`<=>` — a
    NULL→value transition counts as changed, not silently equal).
    """
    o = old.select(
        F.col(key), *[F.col(c).alias(f"old_{c}") for c in compare]
    ).withColumn("__in_old", F.lit(1))
    n = new.select(
        F.col(key), *[F.col(c).alias(f"new_{c}") for c in compare]
    ).withColumn("__in_new", F.lit(1))
    j = o.join(n, key, "full_outer")
    same = F.lit(True)
    for c in compare:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.withColumn("status", status).drop("__in_old", "__in_new")


def scd2_lookup(
    probes: DataFrame,
    dim: DataFrame,
    by: str = "user_id",
    probe_ts_us: str = "ts_us",
) -> DataFrame:
    """Point-in-time dimension read: each probe row joined to the ONE
    SCD2 interval containing its timestamp (``valid_from_us <= ts <
    valid_to_us``, open row = NULL upper bound). Left join keeps probes
    before the entity's first version (state NULL) — the as-of contract.

    Physical shape: an equi-join on the entity key with the containment
    as a join residual — one key exchange each side, no range explode;
    per-entity version chains are short (a dimension, not a log), so the
    residual scan is bounded. Probing a mega-entity's long chain at 100×
    → bucket both sides on ``by`` for a zero-exchange sort-merge.
    """
    # rename the dim's key: probes and dim often share lineage (both cut
    # from one log), and same-name equality on a shared source resolves
    # to a trivially-true predicate instead of a join key
    d = dim.select(
        F.col(by).alias("__dim_key"),
        F.col("state"),
        F.col("version"),
        F.col("valid_from_us"),
        F.col("valid_to_us"),
    )
    cond = (
        (probes[by] == d["__dim_key"])
        & (d["valid_from_us"] <= probes[probe_ts_us])
        & (
            d["valid_to_us"].isNull()
            | (probes[probe_ts_us] < d["valid_to_us"])
        )
    )
    return probes.join(d, cond, "left").select(
        probes["*"],
        d["state"].alias("dim_state"),
        d["version"].alias("dim_version"),
        d["valid_from_us"].alias("dim_valid_from_us"),
    )
