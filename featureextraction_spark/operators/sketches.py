"""Mergeable frequency/cardinality sketches with EXACT cross-engine replay.

Count-Min (Cormode & Muthukrishnan '05) and HyperLogLog (Flajolet '07)
are the two workhorse sketches of a 100-TB profiling pass: both are one
map-side-combinable aggregate whose state is a tiny fixed-size table,
mergeable across partitions, files, days, and clusters — the shape that
makes "frequency of everything" and "distinct count" affordable at scale
(Spark's own ``approx_count_distinct`` is an HLL, but its binary state is
implementation-private; this one is built from relational primitives so
ANY engine can replay it bit-for-bit).

Portability contract (the repo's md5-60-bit uniform, ``_seed_hash``):

- CMS row d hashes ``h_d(x) = hash60(x:d) mod width`` — pure integer ops.
- HLL splits ``hash60`` into an 8-bit register index (top bits, integer
  division) and a 52-bit tail; ``rho`` = position of the tail's highest
  set bit = ``53 − length(bin(tail))`` — ``bin()`` renders without
  leading zeros identically in Spark and DuckDB, so the register table
  is EXACT, not approximately equal.
- The HLL estimate avoids float summation-order entirely: the harmonic
  denominator is the INTEGER ``Z = Σ 2^(53−M[j])`` (≤ 2^61, no
  overflow), and the estimate is one double expression
  ``ALPHA · m² · 2^53 / Z`` evaluated in the same literal/op order on
  both engines. No small-range (linear-counting) correction: it needs
  ``log``, whose libm bits are not portable — documented, not hidden.

No reference counterpart; standard public practice (Cormode's and
Flajolet's published constructions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import _seed_hash

HLL_P = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_TAIL_BITS = 60 - HLL_P  # 52
# Flajolet's bias constant for m ≥ 128: 0.7213 / (1 + 1.079 / m)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# the whole estimate numerator ALPHA·m²·2^53 folded into ONE python double
# so both engines evaluate est = LIT / Z — a single division, no literal-
# parsing drift (DuckDB reads long float literals as DECIMAL; it gets this
# constant as CAST('<repr>' AS DOUBLE) instead, which round-trips exactly)
HLL_EST_NUM = HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)


def count_min_sketch(
    items: DataFrame,
    col: str,
    weight: str | None = None,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build a depth×width Count-Min table over ``items[col]``.

    Returns one row per OCCUPIED cell: (depth d, bucket, cell_count).
    ``weight`` (optional long column) adds that many occurrences per row;
    default 1 each. One explode to ``depth`` rows per item (a constant
    fan-out) + one map-combinable groupBy onto ≤ depth·width rows.

    Row hashes are ``(h0 + d·h1) mod width`` over two independent 60-bit
    hashes (Carter–Wegman pairwise independence); ``depth ≤ 8`` keeps
    ``h0 + d·h1 < 2^63`` — no int64 overflow.
    """
    if depth > 8:
        raise ValueError("depth > 8 would overflow the int64 hash combine")
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    d = items.select(
        F.col(col).cast("string").alias("__x"),
        w.alias("__w"),
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d"),
    )
    d = d.withColumn("bucket", F.pmod(_seed_hash("__x", 0) + F.col("d") * _seed_hash("__x", 1), F.lit(width)).cast("long"))
    return (
        d.groupBy("d", "bucket")
        .agg(F.sum("__w").cast("long").alias("cell_count"))
    )


def count_min_estimate(
    cms: DataFrame,
    probes: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate each probe's frequency: min over the sketch rows.

    ``cms`` is :func:`count_min_sketch` output; ``probes[col]`` the query
    keys. A probe whose cell was never occupied reads 0. Broadcast-sized
    work: probes explode ``depth`` ways and equi-join the sketch."""
    p = probes.select(F.col(col).cast("string").alias("__x")).distinct()
    p = p.select(
        "__x",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d"),
    ).withColumn("bucket", F.pmod(_seed_hash("__x", 0) + F.col("d") * _seed_hash("__x", 1), F.lit(width)).cast("long"))
    j = p.join(F.broadcast(cms), ["d", "bucket"], "left")
    return (
        j.groupBy("__x")
        .agg(
            F.min(F.coalesce(F.col("cell_count"), F.lit(0)))
            .cast("long")
            .alias("cm_estimate")
        )
        .withColumnRenamed("__x", col)
    )


def _rho(tail: F.Column) -> F.Column:
    """1-based position of the highest set bit in a 52-bit tail; 53 for 0.
    ``bin()`` has identical no-leading-zeros semantics on both engines."""
    return F.when(tail > 0, F.lit(HLL_TAIL_BITS + 1) - F.length(F.bin(tail))).otherwise(
        F.lit(HLL_TAIL_BITS + 1)
    )


def hll_occupied_registers(items: DataFrame, col: str) -> DataFrame:
    """The mergeable core: (register, m_rho) for OCCUPIED registers only —
    one map-combinable groupBy, legal on a stream in complete mode (the
    streaming twin runs exactly this)."""
    h = items.select(_seed_hash(col, 0).alias("__h"))
    return (
        h.select(
            # integer division — h reaches 2^60, beyond double's exact
            # integer range, so float floor(h / 2^52) could misround
            F.expr(f"CAST(__h div {1 << HLL_TAIL_BITS} AS BIGINT)").alias(
                "register"
            ),
            _rho(F.pmod(F.col("__h"), F.lit(1 << HLL_TAIL_BITS))).alias("__rho"),
        )
        .groupBy("register")
        .agg(F.max("__rho").cast("long").alias("m_rho"))
    )


def hll_registers(items: DataFrame, col: str) -> DataFrame:
    """HyperLogLog register table over DISTINCT ``items[col]``.

    Returns exactly 256 rows (register, m_rho, z) — ``m_rho`` the max rho
    observed (0 for untouched registers), ``z = 2^(53 − m_rho)`` the
    register's exact integer contribution to the harmonic denominator.
    One groupBy onto 256 rows; untouched registers restored via a
    range(256) left join (sketches must be fixed-shape to merge).
    """
    spark = items.sparkSession
    regs = hll_occupied_registers(items, col)
    full = spark.range(HLL_M).select(F.col("id").cast("long").alias("register"))
    out = full.join(regs, "register", "left").select(
        "register",
        F.coalesce(F.col("m_rho"), F.lit(0)).cast("long").alias("m_rho"),
    )
    return out.withColumn(
        "z",
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_TAIL_BITS + 1} - m_rho AS INT))"
        ),
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """One-row cardinality estimate from a register table.

    ``est = ALPHA · m² · 2^53 / Z`` with integer ``Z = Σ z`` — a single
    double division from exact integers, identical literal and op order
    on every engine (caller nudge-rounds). No linear-counting small-range
    correction (needs libm log; documented trade-off — profiling corpora
    here are far above the 2.5·m threshold where it matters).
    """
    return registers.agg(
        F.sum("z").cast("long").alias("z_sum"),
        F.sum((F.col("m_rho") == 0).cast("long")).cast("long").alias("n_zero_regs"),
    ).select(
        "z_sum",
        "n_zero_regs",
        (F.lit(HLL_EST_NUM) / F.col("z_sum").cast("double")).alias("hll_estimate"),
    )


# ---------------------------------------------------------------- Bloom

BLOOM_WORD_BITS = 62  # stay clear of the BIGINT sign bit on both engines


def bloom_build(
    items: DataFrame,
    col: str,
    k: int = 5,
    m_bits: int = 8192,
) -> DataFrame:
    """Build an ``m_bits``-bit Bloom filter over ``items[col]`` as a
    relational word table: one row per OCCUPIED 62-bit word,
    ``(word, bits)`` with ``bits = OR of (1 << bit_in_word)``.

    The third mergeable sketch next to CMS/HLL (Bloom 1970, public
    knowledge), and the one that matters most to a 100-TB JOIN: a
    broadcast Bloom of the small side's keys pre-filters the big side
    before the shuffle (semi-join reduction — what Spark's own runtime
    bloom filter join does; this one is engine-portable). Hash family is
    the repo's portable md5-60-bit uniform, ``pos_j = hash60(x:j) mod
    m_bits`` — every op integer, so Spark and DuckDB build bit-identical
    word tables.

    Scale: explode k ways, one map-side-combinable ``bit_or`` groupBy
    onto ≤ m_bits/62 rows. Mergeable across shards/days by the same
    ``bit_or``.
    """
    x = items.select(F.col(col).cast("string").alias("__x")).where(
        F.col("__x").isNotNull()
    )
    pos = x.select(
        F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("__j"), "__x"
    ).select(
        F.pmod(
            F.pmod(_seed_hash("__x", 0), F.lit(m_bits))
            + F.col("__j") * (F.pmod(_seed_hash("__x", 1), F.lit(m_bits)) * 2 + 1),
            F.lit(m_bits),
        ).alias("__pos")
    )
    return (
        pos.select(
            F.expr(f"CAST(__pos div {BLOOM_WORD_BITS} AS BIGINT)").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(__pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("__m"),
        )
        .groupBy("word")
        .agg(F.bit_or("__m").cast("long").alias("bits"))
    )


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    col: str,
    k: int = 5,
    m_bits: int = 8192,
) -> DataFrame:
    """Membership-test each DISTINCT probe value against a
    :func:`bloom_build` word table: ``maybe_member`` = all k probed bits
    set (no false negatives by construction; false-positive rate set by
    k, m_bits vs build cardinality).

    Scale: the filter is ≤ m_bits/62 rows — broadcast; probes explode k
    ways, one broadcast left join, one all-bits-set groupBy. The big
    side is never shuffled — exactly the semi-join-reduction deployment.
    """
    p = probes.select(F.col(col).cast("string").alias("__x")).where(
        F.col("__x").isNotNull()
    ).distinct()
    pos = p.select(
        "__x",
        F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("__j"),
    ).select(
        "__x",
        F.pmod(
            F.pmod(_seed_hash("__x", 0), F.lit(m_bits))
            + F.col("__j") * (F.pmod(_seed_hash("__x", 1), F.lit(m_bits)) * 2 + 1),
            F.lit(m_bits),
        ).alias("__pos"),
    ).select(
        "__x",
        F.expr(f"CAST(__pos div {BLOOM_WORD_BITS} AS BIGINT)").alias("word"),
        F.expr(f"CAST(__pos % {BLOOM_WORD_BITS} AS INT)").alias("__bit"),
    )
    j = pos.join(F.broadcast(bloom), "word", "left").withColumn(
        "__hit",
        F.when(
            F.expr("(shiftright(coalesce(bits, CAST(0 AS BIGINT)), __bit) % 2) = 1"),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        j.groupBy("__x")
        .agg(
            F.sum("__hit").cast("long").alias("n_hits"),
            (F.sum("__hit") == F.lit(k)).alias("maybe_member"),
        )
        .withColumnRenamed("__x", col)
    )


# ---------------------------------------------------- histogram quantiles

HQ_DEFAULT_QUANTILES = ((1, 2), (9, 10), (99, 100))


def hist_bins(df: DataFrame, value: str, bin_width: int) -> DataFrame:
    """Fixed-width histogram sketch of a non-negative integer column:
    one row per occupied bin ``(value div bin_width, cnt)``.

    The mergeable quantile state for 100 TB: one map-side-combinable
    groupBy onto ≤ max(value)/bin_width rows, merged across shards/days
    by adding counts — the same contract as CMS/HLL/Bloom. Integer
    ``div`` (not float floor) so bin boundaries never misround."""
    return (
        df.where(F.col(value).isNotNull())
        .select(F.expr(f"CAST({value} div {bin_width} AS BIGINT)").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def hist_quantile_estimate(
    bins: DataFrame,
    bin_width: int,
    quantiles: tuple[tuple[int, int], ...] = HQ_DEFAULT_QUANTILES,
) -> DataFrame:
    """Quantile reads off a :func:`hist_bins` sketch. Contract (exact on
    both engines): for rational q = num/den, ``rank = ceil(q·N)`` via
    integer ``(num·N + den − 1) div den`` clamped to ≥ 1; the answer bin
    is the unique one with ``cum_before < rank ≤ cum``; the estimate
    interpolates linearly inside it:
    ``est = bin·w + w·(rank − cum_before)/cnt`` — all-integer until ONE
    IEEE division + one addition, through the shared nudged rounding.

    Scale: the cumulative window runs over the BIN table (bounded by
    value range / width, not corpus size — documented bounded single
    partition); quantile probes join against it broadcast."""
    from pyspark.sql import Window

    spark = bins.sparkSession
    tot = bins.agg(F.sum("cnt").cast("long").alias("n"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.withColumn("cum", F.sum("cnt").over(w).cast("long")).withColumn(
        "cum_before", (F.col("cum") - F.col("cnt")).cast("long")
    )
    qdf = spark.createDataFrame(
        [(int(n), int(d)) for n, d in quantiles], "q_num long, q_den long"
    )
    ranks = qdf.join(F.broadcast(tot)).select(
        "q_num",
        "q_den",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("CAST((q_num * n + q_den - 1) div q_den AS BIGINT)"),
        ).alias("rank"),
    )
    hit = F.broadcast(ranks).join(
        cum,
        (F.col("cum_before") < F.col("rank")) & (F.col("rank") <= F.col("cum")),
    )
    est = (
        (F.col("bin") * F.lit(bin_width)).cast("double")
        + ((F.col("rank") - F.col("cum_before")) * F.lit(bin_width)).cast(
            "double"
        )
        / F.col("cnt").cast("double")
    )
    return hit.select(
        "q_num",
        "q_den",
        "rank",
        "bin",
        F.col("cnt").alias("bin_cnt"),
        F.round(est + F.lit(1e-9), 6).alias("est_q"),
    )


# ------------------------------------------------------------------ KMV

KMV_SPACE = float(1 << 60)  # hash space size as an exactly-representable double


def kmv_sketch(
    items: DataFrame,
    col: str,
    k: int = 32,
    group: str | None = None,
) -> DataFrame:
    """K-Minimum-Values distinct-count sketch (Bar-Yossef et al. 2002):
    the k smallest DISTINCT 60-bit hashes of ``items[col]``, per
    ``group`` (or globally). The fourth mergeable sketch next to
    CMS/HLL/Bloom, and the one whose state is also a uniform SAMPLE of
    the distinct values — set operations (union/intersection estimates)
    come free by merging states, which HLL registers cannot give.

    Returns the STATE table (group?, rn, h): mergeable by unioning two
    states and re-keeping the k smallest (idempotent — hashes are a pure
    function of the value, so shared values collapse on distinct).

    Exactness contract: ``h`` is the repo's md5-60-bit ``_seed_hash``,
    so the state is bit-identical on any engine; no float touches the
    sketch until :func:`kmv_estimate`'s single closing division.

    Scale: one map-combinable distinct over (group, h), then ONE
    window — Spark 4 plans ``rn ≤ k`` as a map-side WindowGroupLimit
    (partial per-task top-k before the exchange), so the sort input per
    group is ~k·n_tasks rows, never the full distinct-hash table.
    """
    keys = [group] if group else []
    h = items.select(*keys, _seed_hash(col, 0).alias("h")).distinct()
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(F.col("h").asc())
    return (
        h.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
        .select(*keys, "rn", "h")
    )


def kmv_estimate(state: DataFrame, k: int, group: str | None = None) -> DataFrame:
    """Per-group cardinality from a :func:`kmv_sketch` state table.

    With u_(k) = kth_hash / 2^60 the k-th smallest of n uniform draws,
    the standard unbiased estimator is ``(k−1) / u_(k)``; below k kept
    hashes the state IS the distinct set, so the count is exact. The
    estimate is one double expression ``(k−1) · 2^60 / kth_hash`` from
    exact integers — identical op order on both engines (caller
    nudge-rounds for the hash gate). ``n_kept``/``kth_hash`` are the
    BIGINT-exact hash vehicles.
    """
    keys = [group] if group else []
    agg = state.groupBy(*keys).agg(
        F.max("rn").cast("long").alias("n_kept"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_SPACE) / F.col("kth_hash").cast("double")
    )
    return agg.select(*keys, "n_kept", "kth_hash", est.alias("kmv_estimate"))


def kmv_set_ops(state_a: DataFrame, state_b: DataFrame, k: int) -> DataFrame:
    """Set-operation estimates from two GROUPLESS :func:`kmv_sketch`
    states — the payoff CMS/HLL/Bloom can't give: because a KMV state
    is the k smallest hashes (a uniform sample of the distinct values),
    two states MERGE by re-taking the k smallest of their union, and the
    fraction ρ of the merged sketch present in BOTH inputs estimates the
    Jaccard similarity (Beyer et al. SIGMOD'07):

        |A ∪ B| ≈ (k−1) · 2^60 / h_k(merged)
        J(A,B)  ≈ matches / k,      |A ∩ B| ≈ J · |A ∪ B|

    One row out: n_merged, kth_hash, matches (all BIGINT hash
    vehicles); the three estimates are fixed double trees over them.
    Exact below k: when the merged state holds fewer than k hashes it IS
    A ∪ B, so union/intersection counts are exact.

    Scale: the states are ≤ k rows each — everything here is driver-
    negligible; the heavy lifting happened in the two sketch builds.
    """
    a = state_a.select(F.col("h").alias("ha")).distinct()
    b = state_b.select(F.col("h").alias("hb")).distinct()
    merged = (
        a.select(F.col("ha").alias("h"))
        .unionByName(b.select(F.col("hb").alias("h")))
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(k)
    )
    j = (
        merged.join(a, merged.h == a.ha, "left")
        .join(b, merged.h == b.hb, "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_merged"),
            F.max("h").cast("long").alias("kth_hash"),
            F.sum(
                (F.col("ha").isNotNull() & F.col("hb").isNotNull()).cast("long")
            )
            .cast("long")
            .alias("matches"),
        )
    )
    union_est = F.when(
        F.col("n_merged") < k, F.col("n_merged").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_SPACE) / F.col("kth_hash").cast("double")
    )
    return j.select(
        "n_merged",
        "kth_hash",
        "matches",
        union_est.alias("union_est"),
        (F.col("matches").cast("double") / F.col("n_merged").cast("double"))
        .alias("jaccard_est"),
        (
            F.col("matches").cast("double")
            / F.col("n_merged").cast("double")
            * union_est
        ).alias("intersection_est"),
    )


def mg_compress(
    counts: DataFrame,
    item: str,
    count: str,
    k: int,
    group: str | None = None,
) -> DataFrame:
    """One deterministic Misra–Gries compression step: keep the k largest
    (count, item) pairs per ``group`` (or globally), subtract the
    (k+1)-th largest count from each, drop non-positives.

    This is the "prune" half of Agarwal et al.'s mergeable-summaries
    construction (PODS'12 §3.1): summing two MG count tables and pruning
    back to k keys yields a valid MG(k) summary whose undercount grows by
    at most the pruned offset. Starting each step from an EXACT count
    table (instead of a streaming pass) makes the result a pure function
    of the input multiset — deterministic under any partitioning, task
    order, or engine, which is what lets DuckDB replay it bit-for-bit.
    Ties break on the item value, so rank-(k+1) is unambiguous.

    Returns (group?, item, mg_count, offset): ``offset`` is the same
    per-group scalar on every row — the undercount this step introduced
    (0 when the group had ≤ k items).

    Scale: with ``group`` set the window is group-keyed; groupless calls
    are for summary-of-summaries tables (≤ shards·(k+1) rows) only — the
    ``heavy_hitters`` composition never puts a global window over
    corpus-sized input.
    """
    keys = [group] if group else []
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(
        F.col(count).desc(), F.col(item).asc()
    )
    wall = Window.partitionBy(*[F.col(c) for c in keys])
    ranked = counts.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__off",
        F.coalesce(
            F.max(F.when(F.col("__rn") == k + 1, F.col(count))).over(wall),
            F.lit(0),
        ),
    )
    return (
        ranked.where((F.col("__rn") <= k) & (F.col(count) - F.col("__off") > 0))
        .select(
            *keys,
            F.col(item).alias("item"),
            (F.col(count) - F.col("__off")).cast("long").alias("mg_count"),
            F.col("__off").cast("long").alias("offset"),
        )
    )


def heavy_hitters(
    items: DataFrame,
    col: str,
    shard: F.Column,
    k: int = 16,
) -> DataFrame:
    """Deterministic mergeable heavy-hitters summary with an explicit
    error certificate (Misra–Gries '82 via Agarwal et al. PODS'12).

    ``shard`` partitions the OCCURRENCE stream (e.g. ``doc_id % 8``
    — each shard stands in for a day/file/cluster of a 100-TB corpus):

    1. exact per-shard counts — one map-combinable (shard, item) agg;
    2. per-shard MG(k) compress — state shrinks to ≤ k rows/shard;
    3. merge: sum the ≤ n_shards·k summary rows by item, compress once
       more to k — the order-free "sum then prune" merge of PODS'12 §3.1.

    Output (item, mg_count, err_bound) sandwiches the truth:
    ``mg_count ≤ exact_count ≤ mg_count + err_bound`` where
    ``err_bound = Σ per-shard offsets + final offset`` — every item whose
    true count exceeds err_bound is guaranteed present. All-integer, so
    the certificate (not just the estimate) is bit-exact cross-engine.

    Scale: stages 1–2 are shard-keyed (no global window over data); the
    only groupless window runs over the merged summary table,
    ≤ n_shards·(k+1) rows by construction.
    """
    shard_counts = (
        items.select(shard.cast("long").alias("__s"), F.col(col).alias("item"))
        .groupBy("__s", "item")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    per_shard = mg_compress(shard_counts, "item", "cnt", k, group="__s")
    # per-shard offsets taken from the RANKED counts, not the surviving
    # summary rows: a shard whose k+1 top counts all tie prunes to empty,
    # and its offset must still enter the error certificate
    w = Window.partitionBy("__s").orderBy(F.col("cnt").desc(), F.col("item").asc())
    shard_err = (
        shard_counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == k + 1)
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("__shard_err"))
    )
    merged = per_shard.groupBy("item").agg(
        F.sum("mg_count").cast("long").alias("cnt")
    )
    final = mg_compress(merged, "item", "cnt", k)
    return final.crossJoin(F.broadcast(shard_err)).select(
        "item",
        "mg_count",
        (F.col("__shard_err") + F.col("offset")).cast("long").alias("err_bound"),
    )
