"""Cache lifecycle for persisted pipeline intermediates.

Several operators (``blockpair.with_global_rank``, the shingle / vocab /
position / packed-bitset intermediates in ``dedup``) persist DataFrames
that are consumed both eagerly (a count for offsets or a gate) and by the
LAZY plan they return — so the operator itself can never know when it is
safe to unpersist. The contract is therefore:

  **callers own cache lifecycle** — every such persist is registered
  here, and a caller (a bench harness, a long-lived session, a pipeline
  step) calls :func:`release_persisted_intermediates` once the consuming
  action has completed. Without a release, caches live until Spark's LRU
  eviction reclaims them (correct, but a long-lived session accumulates
  cold blocks until eviction pressure).

Registration is intentionally module-global and append-only between
releases: operators run sequentially within a driver program, and the
release is an idempotent best-effort sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` + registration for a later bulk release."""
    out = df.persist()
    _PERSISTED.append(out)
    return out


def release_persisted_intermediates() -> int:
    """Unpersist every registered intermediate; returns how many."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n
