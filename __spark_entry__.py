"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Conventions used throughout so Spark and DuckDB hash identically:
- timestamps are emitted as epoch microseconds (``unix_micros`` /
  ``epoch_us``) — immune to session-timezone rendering differences;
- floating-point outputs are rounded (2–6 dp) on BOTH sides;
- every computed column is aliased to the same name on both sides;
- sums of integers are cast to BIGINT (DuckDB would return HUGEINT).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from featureextraction_spark.operators.asof import asof_join  # noqa: E402
from featureextraction_spark.operators.backfill import forward_fill  # noqa: E402
from featureextraction_spark.operators.joins import membership_join  # noqa: E402
from featureextraction_spark.operators.ordering import with_lag_lead  # noqa: E402
from featureextraction_spark.operators.runlength import run_length_encode  # noqa: E402
from featureextraction_spark.operators.sessionize import sessionize  # noqa: E402
from featureextraction_spark.functions.time import epoch_us, epoch_seconds  # noqa: E402
from featureextraction_spark.plans.feature_pipeline import (  # noqa: E402
    NUMERIC_FEATURES as PIPELINE_NUMERIC_FEATURES,
    point_in_time_features,
)
from featureextraction_spark.functions.textstats import (  # noqa: E402
    STOPWORDS,
    language_id,
    with_quality_features,
)
from featureextraction_spark.operators import dedup as dedup_ops  # noqa: E402
from featureextraction_spark.operators import similarity as sim_ops  # noqa: E402

SESSION_GAP_SECONDS = 1800

# Hash-vehicle rounding for float-summed feature columns: nudge by +1e-9
# BEFORE round-to-6 on BOTH engines. Spark's round (BigDecimal HALF_UP of
# the exact double) and DuckDB's round (scaled-double) can disagree only
# when the value sits exactly at a .xxxxxx5 decimal boundary — and
# float-summed features land exactly on such boundaries whenever the true
# value is a small rational, so a 1-ulp accumulation-order difference
# flips the 6th digit run-to-run (the r2 `feature_families` / r3
# `feature_vectors_oracled` flake class). The identical nudge on both
# sides moves every boundary value consistently upward, and is value-
# neutral otherwise: round(x + 1e-9, 6) ≠ round(x, 6) only when x lies
# within 1e-9 below a boundary.
HASH_EPS = 1e-9


def _hround6(col: Column) -> Column:
    """round(col + 1e-9, 6) — the Spark half of the nudged hash vehicle;
    the DuckDB oracles apply the literal same `round(x + 1e-9, 6)`."""
    return F.round(col + F.lit(HASH_EPS), 6)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# queries — each maps a SURVEY.md §2 operator onto the driver's test tables
# (events ~ transcripts: user_id≈conv_id, event_id≈turn_idx tie-break)
# --------------------------------------------------------------------------


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 lag/lead over the event stream (order: ts, event_id)."""
    ev = _load(spark, sf_dir, "events")
    out = with_lag_lead(ev, ["event_type"], by="user_id", order=("ts", "event_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return out.select(
        "user_id",
        "event_id",
        "prev_event_type",
        "next_event_type",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 gap-based sessionization + per-session aggregates."""
    ev = _load(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", tie="event_id", gap_seconds=SESSION_GAP_SECONDS)
    us, sec = epoch_us(s, "ts"), epoch_seconds(s, "ts")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
        F.round(F.max(sec) - F.min(sec), 6).alias("duration_sec"),
    )


def q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 rolling backfill: last purchase value carried forward per user."""
    ev = _load(spark, sf_dir, "events").withColumn(
        "purchase_value", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    out = forward_fill(
        ev, ["purchase_value"], key="user_id", order=("ts", "event_id")
    )
    return out.select(
        "user_id", "event_id", F.round("last_purchase_value", 4).alias("last_purchase_value")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 as-of backward join: each purchase ← latest click at ts' <= ts."""
    ev = _load(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("click_value"),
            F.max("event_id").alias("click_event_id"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    res = asof_join(
        purchases,
        clicks,
        on="ts",
        by="user_id",
        tie="click_event_id",
        value_cols=["click_value"],
        matched_cols=True,
    )
    return res.select(
        "user_id",
        "event_id",
        epoch_us(res, "ts").alias("ts_us"),
        epoch_us(res, "matched_ts").alias("matched_ts_us"),
        F.round("click_value", 4).alias("click_value"),
    )


def q_asof_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 salted variant: identical semantics to q_asof_join, executed via
    time-bucket salting + cross-bucket carry (the mega-conversation skew
    path) — same DuckDB oracle proves the physical strategies equal."""
    from featureextraction_spark.operators.asof import asof_join_salted

    ev = _load(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("click_value"),
            F.max("event_id").alias("click_event_id"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    res = asof_join_salted(
        purchases,
        clicks,
        on="ts",
        by="user_id",
        tie="click_event_id",
        value_cols=["click_value"],
        matched_cols=True,
        bucket_seconds=7 * 86400,
    )
    return res.select(
        "user_id",
        "event_id",
        epoch_us(res, "ts").alias("ts_us"),
        epoch_us(res, "matched_ts").alias("matched_ts_us"),
        F.round("click_value", 4).alias("click_value"),
    )


def q_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 salted variant: identical semantics to q_sessionize, executed via
    time-bucket salting + cross-bucket offset merge (the mega-conversation
    skew path) — same DuckDB oracle proves the physical strategies equal."""
    from featureextraction_spark.operators.sessionize import sessionize_salted

    ev = _load(spark, sf_dir, "events")
    s = sessionize_salted(
        ev,
        key="user_id",
        ts="ts",
        tie="event_id",
        gap_seconds=SESSION_GAP_SECONDS,
        bucket_seconds=7 * 86400,
    )
    us, sec = epoch_us(s, "ts"), epoch_seconds(s, "ts")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
        F.round(F.max(sec) - F.min(sec), 6).alias("duration_sec"),
    )


def q_backfill_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 salted variant: identical semantics to q_backfill via in-bucket
    fill + cross-bucket carry join — same oracle as the plain form."""
    from featureextraction_spark.operators.backfill import forward_fill_salted

    ev = _load(spark, sf_dir, "events").withColumn(
        "purchase_value", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    out = forward_fill_salted(
        ev,
        ["purchase_value"],
        key="user_id",
        ts="ts",
        tie="event_id",
        bucket_seconds=7 * 86400,
    )
    return out.select(
        "user_id", "event_id", F.round("last_purchase_value", 4).alias("last_purchase_value")
    )


def q_run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 run-length encoding: islands of equal event_type per user."""
    ev = _load(spark, sf_dir, "events")
    runs = run_length_encode(ev, "event_type", key="user_id", order=("ts", "event_id"))
    return runs.select(
        "user_id",
        F.col("run_id").cast("long").alias("run_id"),
        F.col("run_value").alias("run_value"),
        "run_length",
        epoch_us(runs, "run_start").alias("run_start_us"),
        epoch_us(runs, "run_end").alias("run_end_us"),
    )


def q_membership_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/P6 membership join with 'unknown' default (categoriser semantics)."""
    cust = _load(spark, sf_dir, "customer")
    dim = (
        cust.filter(F.col("c_custkey") % 5 != 0)
        .select(
            "c_custkey",
            F.element_at(
                F.array(F.lit("train"), F.lit("test"), F.lit("validation_1"), F.lit("validation_2")),
                (F.col("c_custkey") % 4 + 1).cast("int"),
            ).alias("type"),
        )
    )
    joined = membership_join(cust, dim, key="c_custkey", label="type")
    return joined.groupBy("type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
    )


def q_column_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/S5 keyed column merge: two independently-derived feature frames
    adopted onto the customer spine BY KEY (never position) — the engine
    behavior behind FeatureStore.merge_columns, relationally."""
    from featureextraction_spark.operators.joins import merge_feature_columns

    cust = _load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = _load(spark, sf_dir, "orders")
    f1 = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
    )
    f2 = orders.filter(F.col("o_orderstatus") == "O").groupBy(
        F.col("o_custkey").alias("c_custkey")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_open_orders"))
    merged = merge_feature_columns(cust, f1, keys=["c_custkey"])
    merged = merge_feature_columns(merged, f2, keys=["c_custkey"])
    return merged.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "n_orders",
        "total_spend",
        "n_open_orders",
    )


def q_categorise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 categorisation plan end-to-end (P5 derive key → J2/P6 membership
    label with default → P3 split filter → P4 drop+cast)."""
    from featureextraction_spark.plans.categorise import (
        categorise,
        derive_key,
        drop_and_cast,
        split_filter,
    )

    docs = _load(spark, sf_dir, "documents").select(
        F.concat(F.col("doc_id").cast("string"), F.lit(".png")).alias("filename"),
        F.col("doc_id"),
        F.length("text").cast("double").alias("n_chars"),
    )
    keyed = derive_key(docs, "filename", "line_id", ".png")
    splits = (
        _load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 != 0)
        .select(
            F.col("doc_id").cast("string").alias("line_id"),
            F.element_at(
                F.array(F.lit("train"), F.lit("test"), F.lit("validation_1"), F.lit("validation_2")),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ).alias("type"),
        )
    )
    labeled = categorise(keyed, splits, key="line_id", label="type")
    train = split_filter(labeled, "train")
    out = drop_and_cast(train, drop_cols=["filename"], feature_cols=["n_chars"], dtype="float")
    return out.select(
        "doc_id", "line_id", "type", F.round(F.col("n_chars").cast("double"), 2).alias("n_chars")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 partial/final aggregation showcase (TPC-H Q1 shape) over lineitem."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


def _events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the events table onto the transcript shape used by the
    point-in-time pipeline (user_id≈conv_id, (ts, event_id) order)."""
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.coalesce(F.col("props"), F.lit("")).alias("text"),
        F.when(F.col("event_type") == "error", F.col("event_type")).alias("tool"),
        "ts",
    )


def q_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full point-in-time feature pipeline at the production probe set
    (every purchase timestamp). Rows-only driver check at THIS probe
    density; the per-probe contract itself is externally SQL-gated by
    ``feature_vectors_oracled`` (same pipeline, bounded probe ordinals,
    full 30-column DuckDB replay)."""
    tr = _events_as_transcripts(spark, sf_dir)
    probes = tr.filter(F.col("role") == "purchase").select("conv_id", "ts")
    return point_in_time_features(tr, probes)


# probe turn ordinals for the oracled twin: one prefix below the 64-bin
# zones histogram cap (plain path) and one above it (binned path; sf0.01
# conversations run 49-86 events, so 70 exists for roughly half of them)
FV_PROBE_RNS = (40, 70)


def q_feature_vectors_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME point-in-time pipeline as ``feature_vectors``, probed at
    fixed turn ordinals (the 40th and 70th event per user) so DuckDB can
    replay every one of the 30 output columns per probe — relational
    state read at the matched turn, zones (both the raw and the binned
    histogram path), median width, lc/uc contour OLS + local extremes +
    local slopes, and the slantness angles. This closes the last
    rows-only gap: the per-probe PREFIX evaluation (the point-in-time
    contract) is externally hash-gated, not just pytest-gated."""
    tr = _events_as_transcripts(spark, sf_dir)
    probes = tr.filter(
        F.col("turn_idx").isin([r - 1 for r in FV_PROBE_RNS])
    ).select("conv_id", "ts")
    out = point_in_time_features(tr, probes)
    return out.select(
        "conv_id",
        "ts",
        "session_id",
        "turn_count",
        *[
            _hround6(F.when(~F.isnan(F.col(c)), F.col(c))).alias(c)
            for c in PIPELINE_NUMERIC_FEATURES
        ],
        "prev_role",
        "last_tool",
        "role_transitions",
    )


# --------------------------------------------------------------------------
# training-data pipeline ops: dedup / similarity / text analysis
# --------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5 fingerprint of whitespace-normalized text."""
    docs = _load(spark, sf_dir, "documents")
    return dedup_ops.exact_dedup(docs)


def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated token-3-gram fraction (cross-doc df >= 2) —
    the substring-dedup diagnostic; DuckDB replays tokenization, n-gram
    positions, df counting, and the ratio exactly."""
    docs = _load(spark, sf_dir, "documents")
    return dedup_ops.dup_ngram_fraction(docs, n=3)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-addressed train/valid/test assignment per doc —
    stable across runs/engines; DuckDB recomputes the identical u and
    split from the same md5 contract."""
    from featureextraction_spark.operators.sampling import hash_split

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(docs, id_col="doc_id", seed=42)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-5-gram Jaccard similar pairs (inverted-index join)."""
    docs = _load(spark, sf_dir, "documents")
    return dedup_ops.ngram_jaccard_pairs(docs, threshold=0.35)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified. The DuckDB oracle
    replays the identical md5-based signature/banding pipeline in SQL."""
    docs = _load(spark, sf_dir, "documents")
    return dedup_ops.minhash_lsh_pairs(docs, num_hashes=32, bands=16, threshold=0.4)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document."""
    docs = _load(spark, sf_dir, "documents")
    return dedup_ops.simhash(docs)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive-closure clusters with canonical ids
    (min-label propagation; the DuckDB oracle replays the closure with a
    recursive CTE over the same exact-Jaccard pair set)."""
    from featureextraction_spark.operators.graph import dedup_clusters

    docs = _load(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(docs, threshold=0.35)
    return dedup_clusters(pairs)


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash local minima, SIGMOD'03) per
    document — the substring-match-guaranteeing signature; the oracle
    replays the positional k-grams, md5 hashes and window minima in SQL."""
    docs = _load(spark, sf_dir, "documents")
    return dedup_ops.winnow_fingerprints(docs, k=5, window=4)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pair generation + hamming verification; the
    oracle replays the fingerprint, the 15-bit banding and the xor-popcount
    in SQL."""
    docs = _load(spark, sf_dir, "documents")
    out = dedup_ops.simhash_near_dup_pairs(docs, band_bits=15, max_hamming=8)
    return out.select("a_id", "b_id", F.col("hamming").cast("long").alias("hamming"))


FEATURE_FAMILY_PREFIX = 48  # < ZONES_MAX_HIST: the SQL oracle replays the
# unbinned histogram grid; binning is pytest-oracled (test_kernels.py)


def q_feature_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numeric feature spine (A1–A6, A8–A10) externally oracled.

    zones + median width + contour-OLS slant + slantness angles over each
    user's series of text lengths (first ``FEATURE_FAMILY_PREFIX`` events
    by (ts, event_id)) — the same ``series_kernels`` the point-in-time
    pipeline's Arrow kernel calls, here per full prefix so DuckDB can
    replay every formula (grid argmin with round-half-even idealization,
    closed-white-run median, clamped-cumsum contour OLS, drift-vote
    angle histogram)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from featureextraction_spark.functions import series_kernels as K

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= FEATURE_FAMILY_PREFIX)
        .select(
            "user_id",
            "__rn",
            F.length(F.coalesce(F.col("props"), F.lit(""))).cast("double").alias("n_chars"),
        )
    )

    schema = (
        "user_id long, n_points long, upper_zone double, middle_zone double, "
        "lower_zone double, median_width double, slant double, slant_mse double, "
        "slant_max_angle double, slant_avg_angle double, slant_stdev_angle double"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__rn")
        s = pdf["n_chars"].to_numpy(dtype=np.float64)
        lc = s[s > 0]
        z1, z2, z3 = K.zones(s)
        mw = K.median_width(s)
        cf = K.contour_features(lc)
        mx, av, sd = K.slantness(K.characteristic_contour(lc))
        return pd.DataFrame(
            [
                {
                    "user_id": pdf["user_id"].iloc[0],
                    "n_points": len(s),
                    "upper_zone": z1,
                    "middle_zone": z2,
                    "lower_zone": z3,
                    "median_width": mw,
                    "slant": cf["slant"],
                    "slant_mse": cf["slant_mse"],
                    "slant_max_angle": mx,
                    "slant_avg_angle": av,
                    "slant_stdev_angle": sd,
                }
            ]
        )

    # explicit repartition before the CPU-heavy Python stage — AQE would
    # coalesce these small-byte groups onto 1-2 tasks (same pattern as
    # point_in_time_features)
    out = (
        d.repartition(256, "user_id")
        .groupBy("user_id")
        .applyInPandas(kernel, schema=schema)
    )
    num_cols = [
        "upper_zone", "middle_zone", "lower_zone", "median_width",
        "slant", "slant_mse", "slant_max_angle", "slant_avg_angle",
        "slant_stdev_angle",
    ]
    # NaN → NULL so the DuckDB side (which yields NULLs) hashes identically
    return out.select(
        "user_id",
        "n_points",
        *[
            _hround6(F.when(~F.isnan(F.col(c)), F.col(c))).alias(c)
            for c in num_cols
        ],
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals (length/alpha/punct/stopword ratios)."""
    from featureextraction_spark.functions.textstats import bpe_ish_token_count

    docs = _load(spark, sf_dir, "documents")
    q = with_quality_features(docs)
    return q.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars_calc"),
        "n_tokens",
        bpe_ish_token_count("text").alias("n_tokens_bpe"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style word-level repetition filters: duplicate-word
    fraction, top-word fraction, duplicate-bigram instance fraction."""
    from featureextraction_spark.functions.textstats import repetition_features

    docs = _load(spark, sf_dir, "documents")
    return repetition_features(docs)


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID vs the labeled lang column."""
    docs = _load(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang", "lang_pred")


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for the first 10 vectors."""
    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return sim_ops.cosine_topk(queries_df, emb, k=10)


def q_ivf_topk_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN probed at n_probe == n_lists — provably ≡ exact brute
    force (every inverted list is scanned), so the exact cosine_topk SQL
    replay externally gates the whole IVF machinery: spherical k-means
    list assignment, per-query centroid scoring, the probe equi-join and
    the final ranking. Partial-probe recall is pytest-gated
    (tests/test_dedup_similarity.py::test_ivf_topk_partial_probe_recall)."""
    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    # full probe is exact for ANY centroids, so a short k-means fit
    # exercises the identical machinery without 20 training iterations
    return sim_ops.ivf_topk(
        queries_df, emb, k=10, n_lists=8, n_probe=8, max_iter=2,
        init_mode="random",
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the auto-gated pair engine:
    blocked-GEMM exact all-pairs below the corpus-size gate (this sf —
    one numpy matmul per block pair), hyperplane-LSH candidates + exact
    verification above it (sub-quadratic; row-equality with the exact
    engine is pytest-verified on a tight-cluster corpus forcing the LSH
    path)."""
    from featureextraction_spark.operators.similarity import embedding_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return embedding_pairs(emb, threshold=0.35)


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs → transitive-closure clusters (the same
    min-label propagation as dedup_clusters, over the cosine pair set;
    oracle = exact-pair SQL + recursive closure). Pair generation rides
    the same auto-gated engine as q_embedding_near_dup."""
    from featureextraction_spark.operators.graph import dedup_clusters
    from featureextraction_spark.operators.similarity import embedding_pairs

    emb = _load(spark, sf_dir, "embeddings")
    pairs = embedding_pairs(emb, threshold=0.35)
    return dedup_clusters(pairs)


def q_component_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (components family, 1-D reading): islands of consecutive 'click'
    events per user; inter-island distance stats with the reference's
    word-gap threshold split (components_blobs.py:154-172)."""
    from pyspark.sql import Window

    from featureextraction_spark.operators.components import (
        island_gap_stats,
        tool_islands,
    )

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        "user_id",
        (F.row_number().over(w) - 1).cast("int").alias("idx"),
        F.when(F.col("event_type") == "click", F.lit("click")).alias("tool"),
        "ts",
    )
    islands = tool_islands(tr, col="tool", key="user_id", order=("idx", "idx"))
    out = island_gap_stats(islands, key="user_id")
    return out.select(
        "user_id",
        "n_gaps",
        F.round("avg_distance", 6).alias("avg_distance"),
        F.round("stdev_distance", 6).alias("stdev_distance"),
        F.round("avg_within_word_distance", 6).alias("avg_within_word_distance"),
        F.round("avg_between_word_distance", 6).alias("avg_between_word_distance"),
    )


def q_triplet_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 per-label sampling join: deterministic (anchor, positive,
    negative) triplets over the labeled embeddings — 2 ring-offset
    positives per anchor; ranks are the portable md5 hash, so DuckDB
    replays the exact same triplets."""
    from featureextraction_spark.operators.sampling import triplet_sample

    emb = _load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return triplet_sample(emb, id_col="vec_id", label="label", per_anchor=2, seed=42)


def q_components_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13–A15, 2-D reading: the real image kernel
    (``find_components_and_blobs_2d``) over a deterministic 8×8 grid per
    user (cell k = k-th event, black ⇔ non-click — the dense phase, so
    interior white islands exist and the blob path is exercised),
    externally oracled by a
    DuckDB recursive-CTE replay of 4-connected components, blob
    containment and border-pixel perimeters."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from featureextraction_spark.operators.components import (
        find_components_and_blobs_2d,
    )

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 64)
        .select("user_id", "__rn", "event_type")
    )
    schema = (
        "user_id long, n_components long, total_component_area long, "
        "max_comp_width long, max_comp_height long, n_blobs long, "
        "total_blob_area long, total_blob_perimeter long"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        img = np.full((8, 8), 255, dtype=np.uint8)
        idx = pdf["__rn"].to_numpy(dtype=np.int64) - 1
        black = (pdf["event_type"] != "click").to_numpy()
        img[idx // 8, idx % 8] = np.where(black, 0, 255)
        comps, blobs = find_components_and_blobs_2d(img, threshold=200, min_blob_size=3)
        return pd.DataFrame(
            [
                {
                    "user_id": pdf["user_id"].iloc[0],
                    "n_components": len(comps),
                    "total_component_area": sum(c["area"] for c in comps),
                    "max_comp_width": max(
                        (c["max_x"] - c["min_x"] + 1 for c in comps), default=0
                    ),
                    "max_comp_height": max(
                        (c["max_y"] - c["min_y"] + 1 for c in comps), default=0
                    ),
                    "n_blobs": len(blobs),
                    "total_blob_area": sum(b["area"] for b in blobs),
                    "total_blob_perimeter": sum(b["perimeter"] for b in blobs),
                }
            ]
        )

    return (
        d.repartition(128, "user_id")
        .groupBy("user_id")
        .applyInPandas(kernel, schema=schema)
    )


EVAL_THRESHOLDS = [0.5, 1.0, 1.25, 1.5, 2.0]


def q_embedding_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+A16+A17 evaluation dataflow: all-pairs euclidean distance →
    thresholded confusion counts → derived metrics (reference
    src/training/statistics.py:17-51, 102-132). Labels are deterministic
    (vec_id % 8); input bounded to 80 vectors — all-pairs is O(n²) by
    definition (the reference evaluates one embedded split at a time)."""
    from featureextraction_spark.operators.evaluation import evaluate_embeddings

    emb = (
        _load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 80)
        .withColumn("label", F.col("vec_id") % 8)
    )
    out = evaluate_embeddings(emb, EVAL_THRESHOLDS, metric="euclidean")
    return out.select(
        F.round("threshold", 2).alias("threshold"),
        "tp",
        "tn",
        "fp",
        "fn",
        F.round("recall", 6).alias("recall"),
        F.round("precision", 6).alias("precision"),
        F.round("accuracy", 6).alias("accuracy"),
        F.round("balanced_accuracy", 6).alias("balanced_accuracy"),
        F.round("f1_score", 6).alias("f1_score"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: token-3-gram containment of each train
    document against the eval slice (docs with doc_id % 20 == 0 stand in
    for the benchmark corpus — deterministic, no external data). DuckDB
    replays tokenization, distinct n-grams, and the containment ratio."""
    from featureextraction_spark.operators.curation import decontaminate

    docs = _load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    tr = docs.filter(F.col("doc_id") % 20 != 0)
    return decontaminate(tr, ev, n=3, threshold=0.05)


DOMAIN_MIX_WEIGHTS = {f"src{i}": 1.0 for i in range(20)}
DOMAIN_MIX_TOTAL = 200


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sample: 200 docs at equal source
    weights (quota 10/source); the md5(id:seed) rank makes the sample
    content-addressed — DuckDB replays the identical rank and quota."""
    from featureextraction_spark.operators.curation import domain_mix

    docs = _load(spark, sf_dir, "documents")
    return domain_mix(
        docs, weights=DOMAIN_MIX_WEIGHTS, total=DOMAIN_MIX_TOTAL, domain="source"
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per source with the exact rational BM25-style
    idf (2N−2df+1)/(2df+1) — integer-exact products, one correctly-rounded
    division, so the ranking is bit-identical across engines."""
    from featureextraction_spark.operators.curation import tfidf_top_terms

    docs = _load(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=5, by="source")


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source n_chars quantiles (q ∈ {.25,.5,.75,.9}), sort-based
    with explicit linear interpolation — the oracle replays the identical
    pos/floor/frac expression rather than trusting quantile_cont's ULPs."""
    from featureextraction_spark.operators.curation import group_quantiles

    docs = _load(spark, sf_dir, "documents")
    return group_quantiles(docs, value="n_chars", by="source")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with deterministic synthetic PII
    (emails/IPs/phones/ID runs derived from doc_id — the corpus text has
    no digits, so injection makes the gate non-trivial); counts + typed
    placeholder redaction, replayed byte-for-byte in DuckDB."""
    from featureextraction_spark.operators.curation import pii_scrub

    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" contact user"), d.cast("string"), F.lit("@example.com")
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.concat(F.lit(" host 10.0."), (d % 256).cast("string"), F.lit(".1")),
            ).otherwise(F.lit("")),
            F.when(
                d % 7 == 0,
                F.concat(
                    F.lit(" call +1 555 000 "), (F.lit(1000) + d % 9000).cast("string")
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 11 == 0,
                F.concat(
                    F.lit(" ref 9"),
                    F.lpad((d % 100000000).cast("string"), 8, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(aug)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within coarse clusters (label column): per vector, the max
    rounded cosine to any lower-id same-cluster peer and the deterministic
    keep flag; the oracle replays the in-cluster pairwise cosine (DuckDB's
    list_dot_product is the same sequential fold as the engine's
    zip_with/aggregate, bit-for-bit)."""
    emb = _load(spark, sf_dir, "embeddings")
    return sim_ops.semdedup(emb, cluster_col="label", threshold=0.35)


PACK_SEQ_LEN = 512  # power of 2: /512.0 is an exact float op in any engine


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing summary: each document's span in the virtual
    concatenated token stream sliced into 512-token training sequences.
    Order is the content-addressed md5(id:42) rank; the oracle replays
    the cumsum with a plain global window (DuckDB-side scale is fine) —
    the engine computes it range-partitioned with broadcast offsets."""
    from featureextraction_spark.operators.packing import pack_sequences

    docs = _load(spark, sf_dir, "documents")
    return pack_sequences(docs, PACK_SEQ_LEN)


def q_pack_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded packing assignment: one row per (document, training
    sequence it crosses) with in-document offset, length, and position
    within the sequence — the table a packing shard writer consumes."""
    from featureextraction_spark.operators.packing import pack_segments

    docs = _load(spark, sf_dir, "documents")
    return pack_segments(docs, PACK_SEQ_LEN)


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line/page cleaning over a deterministic multi-line
    fixture built from each document (the corpus text is single-line, so
    the fixture injects line structure: punctuated/unpunctuated/short
    lines plus javascript/brace/lorem markers keyed on doc_id — both
    engines replay the construction byte-for-byte)."""
    from featureextraction_spark.operators.curation import c4_line_filter

    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.substring("text", 1, 60), F.lit(".")),
            F.substring("text", 61, 40),
            F.lit("ok."),
            F.when(
                d % 7 == 0, F.lit("please enable javascript to view this page.")
            ).otherwise(F.concat(F.substring("text", 101, 50), F.lit("?"))),
            F.when(d % 13 == 0, F.lit("function f() { return 1; }")).otherwise(
                F.lit("")
            ),
            F.when(d % 17 == 0, F.lit("Lorem ipsum dolor sit amet.")).otherwise(
                F.concat(F.substring("text", 151, 60), F.lit("!"))
            ),
        ).alias("text"),
    )
    return c4_line_filter(aug)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (the PQ half of IVF-PQ, Jégou et
    al. 2011) with the deterministic sample-codebook path: codebooks are
    the 8 smallest-id vectors' subvectors, encode is decomposed-L2
    argmin, scoring is the per-query LUT scan. Every step is replayed in
    SQL (DuckDB's list_dot_product is the same sequential fold as the
    engine's zip_with/aggregate, bit-for-bit; ADC adds in fixed j
    order)."""
    emb = _load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return sim_ops.pq_topk(q, emb, m=4, ks=8, k=10)


def q_ivfpq_topk_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the billion-scale ANN composition (Jégou et al., TPAMI
    2011) — probed at n_probe == n_lists: every inverted list is
    ADC-scanned, so the result is provably row-identical to the flat PQ
    scan with the same codebooks REGARDLESS of the coarse assignment
    (each corpus vector lives in exactly one list; scanning all lists
    scans the corpus exactly once, and ADC scores don't depend on
    list_id). The DuckDB oracle is therefore the flat ADC replay — this
    externally hash-gates the whole composition: coarse k-means listing,
    per-query probe selection, the list_id candidate equi-join, PQ
    encode, per-query LUT build and the fixed-j-order ADC adds.
    Partial-probe recall vs the exact scan is pytest-gated
    (tests/test_dedup_similarity.py::test_ivfpq_partial_probe_recall;
    full-probe ≡ flat equality: test_ivfpq_full_probe_equals_pq_scan)."""
    emb = _load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # full probe is exact for ANY centroids, so a short random-init fit
    # exercises the identical machinery without 20 training iterations
    return sim_ops.ivfpq_topk(
        q, emb, k=10, n_lists=8, n_probe=8, m=4, ks=8,
        max_iter=2, init_mode="random",
    )


def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document bigram repetition coverage: most
    frequent bigram + union token-coverage fractions. DuckDB replays the
    positional grams, the (count desc, gram asc) tie-break, and the
    DISTINCT position-union aggregation."""
    from featureextraction_spark.functions.textstats import (
        ngram_repetition_features,
    )

    docs = _load(spark, sf_dir, "documents")
    return ngram_repetition_features(docs, n=2)


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed uni+bigram importance weights with the
    doc_id % 10 == 0 slice as the target distribution. Ships the integer
    quantized-ratio columns through the hash gate; the float
    log-likelihood-ratio column is pytest-oracled with tolerance."""
    from featureextraction_spark.operators.curation import dsir_weights

    docs = _load(spark, sf_dir, "documents")
    return dsir_weights(
        docs, target=F.col("doc_id") % 10 == 0, buckets=1024
    ).select("doc_id", "n_grams", "weight_q", "ratio_score")


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped LM quality proxy: Laplace unigram LM fit on the
    doc_id % 10 == 0 reference slice, every document scored under it.
    Only the bit-exact columns ship through the hash gate (the integer
    numerator and its single-division mean probability); the float
    avg-logprob/ppl columns are pytest-oracled with tolerance instead
    (multi-term float sums are accumulation-order-dependent)."""
    from featureextraction_spark.functions.textstats import unigram_lm_score

    docs = _load(spark, sf_dir, "documents")
    return unigram_lm_score(docs, ref=F.col("doc_id") % 10 == 0).select(
        "doc_id", "n_tokens", "oov_tokens", "lm_num", "mean_tok_prob"
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style line-level duplication fractions over a deterministic
    multi-line fixture (repeated nav/footer lines and duplicate empties
    keyed on doc_id — the corpus text is single-line, so line structure
    is injected; both engines replay the construction byte-for-byte)."""
    from featureextraction_spark.functions.textstats import line_dedup_features

    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.substring("text", 41, 30),
            F.when(d % 3 == 0, F.substring("text", 1, 40)).otherwise(
                F.substring("text", 71, 30)
            ),
            F.lit("contact us at example dot com"),
            F.when(d % 5 == 0, F.lit("contact us at example dot com")).otherwise(
                F.substring("text", 101, 25)
            ),
            F.when(d % 2 == 0, F.lit("")).otherwise(F.lit("x")),
            F.lit(""),
        ).alias("text"),
    )
    return line_dedup_features(aug)


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup (Lee et al. ACL'22): maximal runs
    of token positions whose 4-gram occurs in ≥2 distinct documents.
    Deterministic boilerplate (copyright header / newsletter footer keyed
    on doc_id) is injected so cross-document duplicated spans exist in
    the synthetic corpus; DuckDB replays injection, positional n-grams,
    doc frequencies, and the island merge."""
    return dedup_ops.duplicated_spans(_spans_corpus(spark, sf_dir), n=4, min_df=2)


def _spans_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic boilerplate injected (copyright header
    on doc_id % 4 == 0, newsletter footer on % 6 == 0) so cross-document
    duplicated spans exist; shared by the substring-dedup queries and
    replayed verbatim by their oracles."""
    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.when(
                d % 4 == 0,
                F.lit(
                    "copyright acme corp all rights reserved "
                    "do not redistribute this file "
                ),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                d % 6 == 0,
                F.lit(
                    " subscribe to our newsletter for more updates"
                    " and exclusive offers"
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_cut_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply step of span-level substring dedup: cut every token covered
    by a cross-document duplicated 4-gram run (same boilerplate injection
    as ``duplicated_spans``) and reassemble the survivors. DuckDB replays
    the cover-set union and the token-level anti-join reassembly."""
    return dedup_ops.cut_duplicated_spans(
        _spans_corpus(spark, sf_dir), n=4, min_df=2
    )


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window=16, stride=12) — the
    pretraining/RAG shard-prep explode. Map-only: zero exchanges in the
    plan; DuckDB replays the covering-rule start grid and slices."""
    from featureextraction_spark.operators.chunking import chunk_documents

    docs = _load(spark, sf_dir, "documents")
    return chunk_documents(docs, window=16, stride=12)


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sampling (600 tokens/source): documents
    walk in the deterministic md5-60-bit order (hash_split contract) and
    the budget-crossing doc is admitted. One windowed shuffle."""
    from featureextraction_spark.operators.curation import quota_sample

    docs = _load(spark, sf_dir, "documents")
    return quota_sample(docs, budget_tokens=600, group="source")


def q_render_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template render of the transcript table under stable
    (conv_id, turn_idx) ordering — a hash-green row on ``rendered``
    proves per-turn text byte-equality AND order stability (the north
    rule's per-row invariant) in one externally-gated query."""
    from featureextraction_spark.operators.render import render_conversations

    tr = _events_as_transcripts(spark, sf_dir)
    return render_conversations(tr)


def q_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-only logistic quality classifier (fixed public weights
    over the text_quality signals). Map-only scoring; logit/prob ride
    the shared nudged hash vehicle."""
    from featureextraction_spark.functions.textstats import quality_classifier

    docs = _load(spark, sf_dir, "documents")
    out = quality_classifier(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        _hround6(F.col("logit")).alias("logit"),
        _hround6(F.col("prob")).alias("prob"),
        F.col("keep").cast("long").alias("keep"),
    )


def q_turn_taking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation turn-taking / agent-loop features (alternation
    rate, longest same-role run, tool density, longest tool chain, mean
    inter-turn latency) — one window pass + key-local aggs; every float
    is a single integer÷integer division riding the nudged rounding."""
    from featureextraction_spark.operators.turns import turn_taking_features

    tr = _events_as_transcripts(spark, sf_dir)
    out = turn_taking_features(tr)
    return out.select(
        "conv_id",
        "n_turns",
        "n_roles",
        "alternations",
        _hround6(F.col("alternation_rate")).alias("alternation_rate"),
        "max_role_run",
        "tool_turns",
        _hround6(F.col("tool_fraction")).alias("tool_fraction"),
        "max_tool_chain",
        "gap_sum_us",
        _hround6(F.col("mean_gap_sec")).alias("mean_gap_sec"),
    )


def q_context_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-side context-window truncation: longest suffix of each
    conversation within a 60-token budget (newest turn always kept) —
    one descending window pass, integer token counts only."""
    from featureextraction_spark.operators.chunking import truncate_context

    tr = _events_as_transcripts(spark, sf_dir)
    return truncate_context(tr, budget_tokens=60)


BM25_QUERY_TERMS = ("filter", "join", "merge", "scan", "vector", "window")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 over documents for a fixed query — corpus
    filtered to query terms before the only explode, broadcast
    df/corpus stats, TakeOrdered top-k; score quantized through the
    nudged rounding BEFORE ranking so the k-set is engine-stable."""
    from featureextraction_spark.operators.retrieval import bm25_topk

    docs = _load(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_QUERY_TERMS, k=20)


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE merge statistics: top-50 adjacent character
    pairs by word-frequency-weighted count — vocabulary-sized shuffles
    only (distinct words first, then pairs), exact integer counts."""
    from featureextraction_spark.functions.textstats import bpe_pair_counts

    docs = _load(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top=50)


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-minute rolling features at every event (RANGE frame
    over epoch µs — tie-deterministic on both engines): window turn /
    tool counts, distinct roles, exact quantized value sum, and a mean
    that is one integer÷integer division on the nudged rounding."""
    from featureextraction_spark.operators.rolling import rolling_time_features

    ev = _load(spark, sf_dir, "events")
    ev = ev.withColumn(
        "tool", F.when(F.col("event_type") == "error", F.col("event_type"))
    )
    out = rolling_time_features(
        ev, key="user_id", ts="ts", role="event_type", tool="tool",
        value="value", window_sec=300,
    )
    return out.select(
        "user_id",
        "event_id",
        "win_turns",
        "win_tool_turns",
        "win_roles",
        "win_value_sum_q",
        _hround6(F.col("win_value_mean")).alias("win_value_mean"),
    )


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free cumulative target encoding of event_type by the
    quantized value mean over strictly-earlier events — the scalable
    two-phase (bucket partials + in-bucket window) formulation; the
    DuckDB oracle replays the single-window spec it is row-equal to."""
    from featureextraction_spark.operators.encoding import cumulative_target_encode

    ev = _load(spark, sf_dir, "events")
    out = cumulative_target_encode(
        ev, category="event_type", ts="ts", tie=("event_id",),
        value="value", bucket_sec=86_400,
    )
    return out.select(
        "event_id",
        "event_type",
        "prior_n",
        "prior_sum_q",
        _hround6(F.col("te_mean")).alias("te_mean"),
    )


def q_transition_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus (prev_role → role) hand-off matrix with exact integer
    latency aggregates — one conversation window + one map-combinable
    groupBy onto |roles|² rows."""
    from featureextraction_spark.operators.turns import role_transition_latency

    tr = _events_as_transcripts(spark, sf_dir)
    out = role_transition_latency(tr)
    return out.select(
        "prev_role",
        "role",
        "n",
        "gap_sum_us",
        "gap_min_us",
        "gap_max_us",
        _hround6(F.col("mean_gap_sec")).alias("mean_gap_sec"),
    )


def q_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (200-char) length histogram per language over the
    document corpus — integer bin ids (`div`), exact counts, share as
    one integer÷integer division on the nudged rounding."""
    from featureextraction_spark.operators.profiling import length_histogram

    docs = _load(spark, sf_dir, "documents")
    out = length_histogram(docs, col="n_chars", group="lang", bin_width=200)
    return out.select(
        "lang",
        "bin",
        "bin_lo",
        "bin_hi",
        "n",
        _hround6(F.col("share")).alias("share"),
    )


def q_embedding_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the embedding corpus — the PCA
    foundation as map-side-combinable integer moments (quantized
    component sums + pairwise product sums); auto-gated expr/GEMM
    strategies are bit-identical by test; cov is one float expression
    over the integers on the nudged rounding."""
    from featureextraction_spark.operators.decomposition import embedding_covariance

    emb = _load(spark, sf_dir, "embeddings")
    out = embedding_covariance(emb, strategy="auto")
    return out.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "n",
        "sum_i",
        "sum_j",
        "s_ij",
        _hround6(F.col("cov")).alias("cov"),
    )


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier screen per event_type over the value
    column — doubled/quadrupled integer medians (both engines linearly
    interpolate), pure-integer outlier test, robust z as one division
    of integers on the nudged rounding."""
    from featureextraction_spark.operators.profiling import robust_outliers

    ev = _load(spark, sf_dir, "events")
    out = robust_outliers(ev, value="value", group="event_type", id_col="event_id")
    return out.select(
        "event_id",
        "event_type",
        "vq",
        "med_x2",
        "mad_x4",
        "dev_x2",
        "is_outlier",
        _hround6(F.col("robust_z")).alias("robust_z"),
    )


def q_conv_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation summary features (size/tempo/role-mix/tool-use)
    — one conv_id exchange serves the gap window AND the aggregation;
    role diversity is Gini impurity (rational in integer counts, chosen
    over entropy's libm-dependent ln), floats are single divisions on
    the nudged rounding."""
    from featureextraction_spark.operators.turns import conversation_summary

    tr = _events_as_transcripts(spark, sf_dir)
    out = conversation_summary(tr)
    return out.select(
        "conv_id",
        "n_turns",
        "duration_us",
        "n_roles",
        "tool_turns",
        "text_chars",
        "max_gap_us",
        _hround6(F.col("mean_turn_chars")).alias("mean_turn_chars"),
        _hround6(F.col("role_gini")).alias("role_gini"),
    )


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer: tokens → 64 signed-count buckets via
    the portable 60-bit md5; bucket and sign are independent bits of the
    same digest, all outputs exact integers — no vocabulary fit, the
    unbounded-vocab path a 100-TB corpus needs."""
    from featureextraction_spark.operators.encoding import hashed_features

    docs = _load(spark, sf_dir, "documents")
    return hashed_features(docs, text="text", id_col="doc_id", n_buckets=64)


def q_fold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group 5-fold assignment (whole conversations share a fold — the
    group-leakage guard) + the per-fold balance sheet; content-addressed
    md5 folds, zero RNG, zero fitted state, exact integer counts."""
    from featureextraction_spark.operators.sampling import fold_stats, group_kfold

    tr = _events_as_transcripts(spark, sf_dir)
    return fold_stats(group_kfold(tr, "conv_id", k=5, seed=23), "conv_id")


def q_standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free z-scaling: mean/std fitted on train CONVERSATIONS
    only (md5 group split), applied everywhere — integer milli-unit
    moments, double-spelled transform with IEEE sqrt on the nudged
    rounding."""
    from featureextraction_spark.operators.encoding import standard_scale

    ev = _load(spark, sf_dir, "events")
    out = standard_scale(
        ev, value="value", id_col="event_id", group_id="user_id",
        train_frac=0.8, seed=42,
    )
    return out.select(
        "event_id",
        "user_id",
        "split",
        "vq",
        "n_train",
        "sum_q",
        "sum_sq_q",
        _hround6(F.col("z")).alias("z"),
    )


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dyadic EWMA (α = 1/2, depth 20) of the value per user —
    integer fold ``acc·2 + x`` over the trailing frame, weight total
    ``2^len − 1``; the only float is one division on the nudged
    rounding."""
    from featureextraction_spark.operators.rolling import dyadic_ewma

    ev = _load(spark, sf_dir, "events")
    out = dyadic_ewma(
        ev, key="user_id", ts="ts", tie="event_id", value="value", depth=20
    )
    return out.select(
        "event_id",
        "user_id",
        "ewma_num",
        "ewma_len",
        _hround6(F.col("ewma")).alias("ewma"),
    )


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth per 150-doc corpus bin — new types
    via min-doc-id per token (one token-keyed agg), cumulative
    types/tokens over the bounded bin table, type-token ratio as one
    integer÷integer division on the nudged rounding."""
    from featureextraction_spark.functions.textstats import vocab_growth

    docs = _load(spark, sf_dir, "documents")
    out = vocab_growth(docs, text="text", id_col="doc_id", bin_width=150)
    return out.select(
        "bin",
        "n_tokens",
        "new_types",
        "cum_types",
        "cum_tokens",
        _hround6(F.col("ttr")).alias("ttr"),
    )


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token collocations by lift (monotone with PMI,
    rational in exact integer counts — no libm log on the hash path);
    min-count 5 floor, nudge-rounded lift ranked with pair tiebreak so
    the k-set is engine-stable."""
    from featureextraction_spark.functions.textstats import pmi_collocations

    docs = _load(spark, sf_dir, "documents")
    return pmi_collocations(docs, text="text", min_count=5, top=50)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-time feature lookup — for every purchase probe,
    the session id, running state and latest click value as of that ts,
    leakage-free. Runs on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _load(spark, sf_dir, "events")
    enriched = sessionize(ev, key="user_id", ts="ts", tie="event_id")
    enriched = forward_fill(
        enriched.withColumn(
            "purchase_value", F.when(F.col("event_type") == "purchase", F.col("value"))
        ),
        ["purchase_value"],
        key="user_id",
        order=("ts", "event_id"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    data = enriched.select(
        "user_id",
        F.col("event_id").alias("data_event_id"),
        "ts",
        "event_type",
        "session_id",
        "last_purchase_value",
    )
    return asof_join(
        probes,
        data,
        on="ts",
        by="user_id",
        tie="data_event_id",
        value_cols=["event_type", "session_id", "last_purchase_value"],
    )


def q_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-prior recency state per turn (µs since conversation
    start / since last tool turn, turns since last 'view', prior tool
    count) — all-integer outputs, one exchange + one sort for the whole
    family, zero leakage by frame construction (upper bound −1)."""
    from featureextraction_spark.operators.recency import recency_features

    tr = _events_as_transcripts(spark, sf_dir)
    out = recency_features(tr, anchor_role="view")
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "us_since_conv_start",
        "us_since_tool",
        "turns_since_anchor",
        "prior_tool_turns",
    )


def q_expanding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free expanding value stats over strictly-earlier events of
    the same user — exact quantized integer sum/min/max plus ONE
    integer÷integer mean through the nudged rounding."""
    from pyspark.sql import Window

    from featureextraction_spark.operators.recency import expanding_features

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn("turn_ord", F.row_number().over(w))
    out = expanding_features(ev, value="value", by="user_id", order="turn_ord")
    return out.select(
        "event_id",
        "prior_n",
        "prior_sum_q",
        "prior_min_q",
        "prior_max_q",
        _hround6(F.col("expanding_mean")).alias("expanding_mean"),
    )


def q_label_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookahead LABEL construction (deliberate forward windows, kept in
    a separate operator from every feature family): next role, tool
    within the next 5 turns, µs to the next tool turn."""
    from featureextraction_spark.operators.recency import lookahead_labels

    tr = _events_as_transcripts(spark, sf_dir)
    out = lookahead_labels(tr, horizon=5)
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "next_role",
        "tool_within_h",
        "us_to_next_tool",
    )


def q_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language normalized rank (quantile transform, deterministic
    tie-break by doc_id) of document length — the two-phase
    range-partition + offset rank: no per-group single-task sort."""
    from featureextraction_spark.operators.ranking import group_normalized_rank

    docs = _load(spark, sf_dir, "documents")
    out = group_normalized_rank(docs, value="n_chars", by="lang", tie="doc_id")
    return out.select(
        "doc_id",
        "lang",
        "rank",
        "n",
        _hround6(F.col("norm_rank")).alias("norm_rank"),
    )


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize document length at exact per-language p05/p95 (the
    group_quantiles interpolation, bounds rounded identically on both
    engines) — clip flags are strict comparisons, so boundary values are
    untouched everywhere."""
    from featureextraction_spark.operators.ranking import winsorize

    docs = _load(spark, sf_dir, "documents")
    out = winsorize(docs, value="n_chars", by="lang", lo_q=0.05, hi_q=0.95)
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        _hround6(F.col("w_lo")).alias("w_lo"),
        _hround6(F.col("w_hi")).alias("w_hi"),
        _hround6(F.col("winsorized")).alias("winsorized"),
        "clipped_lo",
        "clipped_hi",
    )


def q_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift screen between the two md5-hash halves of the
    corpus over 50-char length bins — ONE map-combinable |bins|-row
    aggregate over the whole scan; chi2 is rational in the exact counts
    (no log), through the nudged rounding."""
    from featureextraction_spark.operators.drift import histogram_drift

    docs = _load(spark, sf_dir, "documents")
    out = histogram_drift(docs, value="n_chars", id_col="doc_id", bin_width=50)
    return out.select(
        "bin", "n_a", "n_b", _hround6(F.col("chi2")).alias("chi2")
    )


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus's own top-500 vocabulary
    (total-frequency ranked, term-ascending ties — a stable k-boundary):
    TakeOrdered top-k + broadcast membership, exact integer counts."""
    from featureextraction_spark.operators.curation import vocab_coverage

    docs = _load(spark, sf_dir, "documents")
    out = vocab_coverage(docs, top_k=500)
    return out.select(
        "doc_id",
        "n_tokens",
        "oov_tokens",
        _hround6(F.col("oov_rate")).alias("oov_rate"),
    )


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one row per token occurrence (the shared lowercased
    whitespace contract)."""
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                F.lit("[^ \\t\\n\\r\\f\\u000B]+"),
                F.lit(0),
            )
        ).alias("term")
    )


CMS_PROBE_TERMS = BM25_QUERY_TERMS + ("qzx_never_seen",)


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (4×256, Carter–Wegman row hashes over the 60-bit
    md5 contract) of token frequencies — ONE constant fan-out explode +
    one map-combinable groupBy onto ≤1024 cells; the mergeable 100-TB
    frequency-profiling primitive, replayed cell-exact by the oracle."""
    from featureextraction_spark.operators.sketches import count_min_sketch

    toks = _doc_tokens(spark, sf_dir)
    out = count_min_sketch(toks, "term", depth=4, width=256)
    return out.select(
        F.col("d").cast("long").alias("d"), "bucket", "cell_count"
    )


def q_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point reads for a fixed probe set (incl. a never-seen
    term → 0) next to the exact counts — the over-estimate-only CMS
    guarantee is visible in the columns; all integers."""
    from featureextraction_spark.operators.sketches import (
        count_min_estimate,
        count_min_sketch,
    )

    from featureextraction_spark.operators.cache import persist_tracked

    # toks feeds BOTH the sketch build and the exact-count comparison —
    # persist or the document explode runs twice
    toks = _doc_tokens(spark, sf_dir).transform(persist_tracked)
    cms = count_min_sketch(toks, "term", depth=4, width=256)
    probes = spark.createDataFrame(
        [(t,) for t in CMS_PROBE_TERMS], schema="term string"
    )
    est = count_min_estimate(cms, probes, "term", depth=4, width=256)
    true = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    return (
        est.join(true, "term", "left")
        .select(
            "term",
            "cm_estimate",
            F.coalesce(F.col("true_count"), F.lit(0)).cast("long").alias("true_count"),
        )
    )


def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (p=8, 256 registers) over token
    occurrences — rho from `bin()` length (identical no-leading-zeros
    semantics on both engines), so the sketch STATE is exact, not
    approximately equal; one groupBy onto 256 rows."""
    from featureextraction_spark.operators.sketches import hll_registers

    toks = _doc_tokens(spark, sf_dir)
    return hll_registers(toks, "term")


def q_hll_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-token estimate: integer harmonic denominator
    Z = Σ 2^(53−M[j]) (exact, order-free) and ONE double division by the
    folded ALPHA·m²·2^53 literal through the nudged rounding."""
    from featureextraction_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    toks = _doc_tokens(spark, sf_dir)
    out = hll_estimate(hll_registers(toks, "term"))
    return out.select(
        "z_sum", "n_zero_regs", _hround6(F.col("hll_estimate")).alias("hll_estimate")
    )


RANGE_JOIN_WINDOW_US = 1_800 * 1_000_000  # 30 min post-purchase window


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (clicks inside each purchase's 30-min
    window, same user) via the bucketized equi-join rewrite — never a
    BroadcastNestedLoop/cartesian; exact µs containment as the residual
    filter; DuckDB replays the plain theta join it must equal."""
    from featureextraction_spark.operators.intervals import bucketed_range_join

    ev = _load(spark, sf_dir, "events")
    us = epoch_us(ev, "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        us.alias("start_us"),
        (us + F.lit(RANGE_JOIN_WINDOW_US)).alias("end_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), us.alias("us")
    )
    out = bucketed_range_join(
        clicks, purch, by="user_id", bucket_us=RANGE_JOIN_WINDOW_US
    )
    return out.select("user_id", "purchase_id", "click_id", "us", "start_us")


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension builder — the feature store's WRITE side: the
    event log becomes half-open validity intervals [from, to) per user
    state change (open row: NULL), one window family / one exchange."""
    from featureextraction_spark.operators.scd import scd2_intervals

    ev = _load(spark, sf_dir, "events")
    return scd2_intervals(ev)


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity ROLLUP report over (event_type, hour-of-day):
    ONE Expand + one map-combinable aggregate for all three levels;
    grouping() flags disambiguate subtotal rows; exact quantized sums."""
    from featureextraction_spark.operators.olap import rollup_counts
    from featureextraction_spark.operators.rolling import quantize_q6

    ev = _load(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.pmod(epoch_us(ev, "ts"), F.lit(DAY_US)).alias("__day_us"),
        quantize_q6(F.col("value")).alias("vq"),
    ).withColumn("hour", F.expr(f"CAST(__day_us div {HOUR_US} AS BIGINT)"))
    return rollup_counts(t.select("event_type", "hour", "vq"), "event_type", "hour", "vq")


PIVOT_TYPES = ("click", "view", "purchase", "error", "signup")


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity × category pivot (explicit category list — single pass, no
    hidden distinct scan): per-user event-type count matrix, zero-filled."""
    from featureextraction_spark.operators.olap import pivot_counts

    ev = _load(spark, sf_dir, "events")
    return pivot_counts(ev, by="user_id", category="event_type", values=PIVOT_TYPES)


def q_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer apply: every token occurrence mapped to its top-500
    vocabulary id (rank order, OOV = −1), fully relational output
    (doc, 0-based position, term, id) — TakeOrdered vocab + broadcast."""
    from featureextraction_spark.operators.curation import tokenize_to_ids

    docs = _load(spark, sf_dir, "documents")
    return tokenize_to_ids(docs, top_k=500)


HOUR_US = 3_600 * 1_000_000
DAY_US = 24 * HOUR_US
EMBARGO_US = 86_400 * 1_000_000  # 1-day purge gap


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged temporal holdout: train strictly before the exact 0.8 time
    quantile (floored to integer µs — every membership test is
    BIGINT-vs-BIGINT), a 1-day embargo band PURGED, test after it."""
    from featureextraction_spark.operators.sampling import temporal_split

    ev = _load(spark, sf_dir, "events")
    ev = ev.withColumn("us", epoch_us(ev, "ts"))
    out = temporal_split(ev, ts_us="us", train_frac=0.8, embargo_us=EMBARGO_US)
    return out.select("event_id", "split", "cutoff_us")


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids, relational (label, dim) rows:
    exact quantized component sums (float32 → double widened identically
    on both engines) + one division through the nudged rounding."""
    from featureextraction_spark.operators.decomposition import label_centroids

    emb = _load(spark, sf_dir, "embeddings")
    out = label_centroids(emb)
    return out.select(
        F.col("label").cast("long").alias("label"),
        "dim",
        "n",
        "sum_cq",
        _hround6(F.col("centroid")).alias("centroid"),
    )


BLOOM_K, BLOOM_M = 5, 16384


def q_bloom_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter of the order-side join keys as a relational word
    table (one row per occupied 62-bit word) — the mergeable semi-join-
    reduction sketch you broadcast to pre-filter the 100-TB side before
    a shuffle; every op integer over the md5-60-bit contract, so the
    oracle replays the words bit-for-bit."""
    from featureextraction_spark.operators.sketches import bloom_build

    orders = _load(spark, sf_dir, "orders")
    return bloom_build(orders, "o_custkey", k=BLOOM_K, m_bits=BLOOM_M)


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-probe every customer key against the orders Bloom
    filter: broadcast ≤265-word filter, k-way explode, one groupBy —
    the big probe side never shuffles. `maybe_member` is exact-integer
    (no false negatives by construction; FPs are deterministic given
    the hash contract, so the oracle agrees on every row)."""
    from featureextraction_spark.operators.sketches import bloom_build, bloom_probe

    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    bloom = bloom_build(orders, "o_custkey", k=BLOOM_K, m_bits=BLOOM_M)
    out = bloom_probe(cust, bloom, "c_custkey", k=BLOOM_K, m_bits=BLOOM_M)
    return out.select(
        "c_custkey",
        "n_hits",
        F.col("maybe_member").cast("long").alias("maybe_member"),
    )


def q_skew_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of the events join key: top-20 hottest
    user_ids with exact counts, key-universe size, and integer ppm
    share — the report read before choosing a salting factor for a
    100-TB shuffle. Deterministic cut: (count desc, key asc)."""
    from featureextraction_spark.operators.profiling import skew_topk

    ev = _load(spark, sf_dir, "events")
    return skew_topk(ev, "user_id", top_n=20)


def q_skew_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2 histogram of per-key group sizes (bucket = length(bin(cnt)),
    identical no-leading-zeros semantics on both engines): the one-page
    skew answer; two map-combinable groupBys, ≤63 output rows."""
    from featureextraction_spark.operators.profiling import skew_histogram

    ev = _load(spark, sf_dir, "events")
    return skew_histogram(ev, "user_id")


HQ_BIN_WIDTH = 16


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/p90/p99 of document length read off a fixed-width histogram
    sketch: ONE map-side-combinable groupBy onto ≤ max(n_chars)/16 bins,
    mergeable across shards by adding counts (the CMS/HLL/Bloom contract),
    then a rank walk over the bounded bin table. All-integer until one
    IEEE division, through the shared nudged rounding."""
    from featureextraction_spark.operators.sketches import (
        hist_bins,
        hist_quantile_estimate,
    )

    docs = _load(spark, sf_dir, "documents")
    bins = hist_bins(docs, "n_chars", bin_width=HQ_BIN_WIDTH)
    return hist_quantile_estimate(bins, bin_width=HQ_BIN_WIDTH)


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² term/label feature selection (Yang & Pedersen ICML'97) with
    label = (lang = 'en'): presence explode + one groupBy onto the
    VOCABULARY, class totals broadcast in as a 1-row dim; the score is
    one IEEE division of two exact BIGINTs, so both engines agree
    bit-for-bit before the shared rounding."""
    from featureextraction_spark.operators.selection import chi2_terms

    docs = _load(spark, sf_dir, "documents")
    return chi2_terms(
        docs, label=(F.col("lang") == "en").cast("long"), min_df=5
    )


def q_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU + trailing-7-day distinct actives: the event log
    collapses to DISTINCT (user, day) first — the only state the metric
    needs, ~10⁴× smaller than a 100-TB log — then a bounded ×7 explode
    of that small table; three map-combinable user-day shuffles."""
    from featureextraction_spark.operators.activity import rolling_active

    ev = _load(spark, sf_dir, "events")
    return rolling_active(ev, window_days=7)


def q_rolling_active_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same trailing-window actives as max-merged per-day HLL
    register tables (union-of-sketches): state is ≤256 rows/day
    regardless of user count — the variant that survives billions of
    users. Integer z_sum; the estimate is one double division."""
    from featureextraction_spark.operators.activity import rolling_active_hll

    ev = _load(spark, sf_dir, "events")
    out = rolling_active_hll(ev, window_days=7)
    return out.select(
        "day", "z_sum", "n_occupied", _hround6(F.col("hll_active")).alias("hll_active")
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution report: each purchase credits the user's
    most recent strictly-prior non-purchase event type (else 'direct') —
    one user-keyed carry-forward window + one tiny channel groupBy;
    value totals are exact BIGINT thousandths."""
    from featureextraction_spark.operators.activity import (
        attribution_report,
        last_touch_attribution,
    )

    ev = _load(spark, sf_dir, "events")
    return attribution_report(last_touch_attribution(ev))


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read profile of the integral `$.k` field inside the
    JSON `props` column, per event type — pure get_json_object
    expressions riding the scan, one groupBy onto the type vocabulary."""
    from featureextraction_spark.operators.semistructured import (
        json_field_profile,
    )

    ev = _load(spark, sf_dir, "events")
    return json_field_profile(ev, by="event_type")


def q_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 documents per (lang, source) by length — forced onto the
    skew-proof two-phase salted top-k (per-salt top-k, then re-rank the
    ≤ k·salts survivors) so a mega-domain never lands on one task;
    row-equal to the plain window by test."""
    from featureextraction_spark.operators.ranking import top_per_group

    docs = _load(spark, sf_dir, "documents")
    return top_per_group(
        docs,
        by=("lang", "source"),
        value="n_chars",
        tie="doc_id",
        k=3,
        strategy="two_phase",
    ).select("doc_id", "lang", "source", "n_chars", "rnk")


def q_vocab_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal frequency-ranked vocabulary prefix covering ≥90% of the
    corpus token mass — integer-only cut, two-phase range-partitioned
    global cumsum (no single-partition window)."""
    from featureextraction_spark.operators.selection import vocab_prefix

    docs = _load(spark, sf_dir, "documents")
    return vocab_prefix(docs, coverage_num=90, coverage_den=100)


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic hash-bucketed negatives per embedding query
    from the documents corpus — bucket equi-join (per-query cost
    corpus/B, never the full corpus) + per-query top-k by pair hash."""
    from featureextraction_spark.operators.sampling import negative_sample

    emb = _load(spark, sf_dir, "embeddings")
    docs = _load(spark, sf_dir, "documents")
    return negative_sample(
        emb, docs, query_id="vec_id", doc_id="doc_id", k=2, n_buckets=16
    )


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM segmentation: one user-keyed collapse of the log,
    then three two-phase global-rank passes over the users table (never
    the log, never a single-partition window); tiles are pure integer
    rank·5 div n arithmetic."""
    from featureextraction_spark.operators.activity import rfm_segments

    ev = _load(spark, sf_dir, "events")
    return rfm_segments(ev)


def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Morton (Z-order) layout key over (user, day) — the
    file-clustering sort key behind OPTIMIZE ZORDER BY; pure integer
    shift/mask expressions, bit-identical on every engine."""
    from featureextraction_spark.operators.layout import zorder_keys
    from featureextraction_spark.functions.time import epoch_us

    ev = _load(spark, sf_dir, "events")
    d = ev.select(
        "event_id", "user_id", epoch_us(ev, "ts").alias("__us")
    ).select(
        "event_id",
        "user_id",
        F.expr("CAST(__us div 86400000000 AS BIGINT)").alias("day"),
    )
    return zorder_keys(d, "user_id", "day", bits=21)


def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-10th-row ordered thinning by global event-id rank — the
    two-phase range-partitioned rank, one mod filter."""
    from featureextraction_spark.operators.sampling import systematic_sample

    ev = _load(spark, sf_dir, "events")
    return systematic_sample(ev, "event_id", every_k=10).select(
        "event_id", "user_id", "event_type"
    )


def q_rolling_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day mean/extremes/variance partials per event type via
    the lambda pattern: ONE pass builds exact-integer daily moment
    partials, the window merges ×W over the tiny daily table — history
    is never rescanned."""
    from featureextraction_spark.operators.activity import (
        daily_moments,
        merge_moments,
    )

    ev = _load(spark, sf_dir, "events")
    out = merge_moments(daily_moments(ev), window_days=7)
    return out.select(
        "day", "event_type", "n", "sum_q", "min_q", "max_q", "sum_sq",
        _hround6(F.col("mean_q")).alias("mean_q"),
    )


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the co-purchase graph (parts that
    share an order): ordered two-join enumeration — each triangle
    produced exactly once — all hash equi-joins, fan-out bounded by
    Σdeg² over middle vertices."""
    from featureextraction_spark.operators.graph import triangle_counts

    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    return triangle_counts(edges)


_CDC_CUTOFF_US = 1_705_363_200_000_000  # 2024-01-16 00:00:00 UTC


def _cdc_state(spark: SparkSession, sf_dir: str, before_us: int | None = None):
    from featureextraction_spark.operators.scd import cdc_apply
    from featureextraction_spark.functions.time import epoch_us

    ev = _load(spark, sf_dir, "events")
    log = ev.select(
        "user_id", "event_id", "ts", "event_type", "value",
        epoch_us(ev, "ts").alias("ts_us"),
    )
    if before_us is not None:
        log = log.where(F.col("ts_us") < F.lit(before_us))
    return cdc_apply(
        log, key="user_id", seq=("ts", "event_id"),
        op="event_type", delete_op="error",
    )


def q_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins changelog compaction (the read half of CDC): one row
    per user — the payload of their last event — users whose final
    event is an 'error' tombstone absent. One key exchange + one
    row_number; hot keys pre-thinnable with the salted top-k pattern."""
    return _cdc_state(spark, sf_dir).select(
        "user_id", "event_id", "ts_us", "event_type", "value"
    )


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff between the mid-month CDC state and the
    final state: one full-outer hash equi-join on the key, null-safe
    column comparison, status ∈ added/removed/changed/unchanged."""
    from featureextraction_spark.operators.scd import table_diff

    old = _cdc_state(spark, sf_dir, before_us=_CDC_CUTOFF_US)
    new = _cdc_state(spark, sf_dir)
    return table_diff(
        old, new, key="user_id", compare=("event_type", "value")
    ).select(
        "user_id", "status",
        "old_event_type", "new_event_type", "old_value", "new_value",
    )


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC of value predicting purchase: distinct-
    score collapse + two-phase exclusive cumsum (no single-partition
    window) + one-row fold; auc_num2/n_pos/n_neg are the integer-exact
    hash vehicles, auc the one closing division."""
    from featureextraction_spark.operators.evaluation import roc_auc

    ev = _load(spark, sf_dir, "events")
    d = ev.select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("long").alias("label"),
    )
    out = roc_auc(d, quant=10_000)
    return out.select(
        "n_pos", "n_neg", "auc_num2", _hround6(F.col("auc")).alias("auc")
    )


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins of value (0–100, 10 bins) vs purchase
    rate — integer-only bin assignment (clamped quantized score, exact
    division), one map-combinable aggregate."""
    from featureextraction_spark.operators.evaluation import calibration_bins

    ev = _load(spark, sf_dir, "events")
    d = ev.select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("long").alias("label"),
    )
    out = calibration_bins(
        d, n_bins=10, lo=0.0, hi=100.0, quant=1_000
    )
    return out.select(
        "bin", "n", "n_pos", "sum_score_q",
        _hround6(F.col("pos_rate")).alias("pos_rate"),
    )


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout: users hash-assigned to variants by the shared md5
    contract, per-user conversion collapse, 2×2 chi-squared in exact
    rational form (integer num/den hash vehicles, one closing division)."""
    from featureextraction_spark.operators.evaluation import ab_chi2
    from featureextraction_spark.operators.sampling import _seed_hash

    ev = _load(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("converted")
    )
    units = users.select(
        F.when(_seed_hash("user_id", 7) % 2 == 0, "A")
        .otherwise("B").alias("variant"),
        "converted",
    )
    out = ab_chi2(units)
    return out.select(
        "n_a", "conv_a", "n_b", "conv_b", "chi2_num", "chi2_den",
        _hround6(F.col("chi2")).alias("chi2"),
    )


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension read: purchases probe the SCD2 tier
    dimension built from signup events — equi-join on the entity key
    with interval containment as the join residual, left-preserving
    (pre-first-signup purchases keep NULL state)."""
    from featureextraction_spark.operators.scd import scd2_intervals, scd2_lookup
    from featureextraction_spark.functions.time import epoch_us

    ev = _load(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").withColumn(
        "tier",
        F.when(F.col("value") < 33, "bronze")
        .when(F.col("value") < 66, "silver")
        .otherwise("gold"),
    )
    dim = scd2_intervals(signups, state="tier")
    probes = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", epoch_us(ev, "ts").alias("ts_us")
    )
    return scd2_lookup(probes, dim)


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column data-quality profile of the event log
    (nulls / exact distincts / min-max) — one scan + Expand ×k, floats
    pre-quantized so no engine float formatting reaches the output."""
    from featureextraction_spark.operators.profiling import profile_columns
    from featureextraction_spark.functions.time import epoch_us

    ev = _load(spark, sf_dir, "events")
    p = ev.select(
        "event_id", "user_id", "event_type", "props",
        epoch_us(ev, "ts").alias("ts_us"),
        F.floor(F.col("value").cast("double") * 10000.0 + 0.5)
        .cast("long").alias("value_q"),
    )
    return profile_columns(
        p, ["event_id", "user_id", "event_type", "props", "ts_us", "value_q"]
    )


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style expectation gate over the event log — completeness,
    key uniqueness, set membership, value range, min row count — ONE
    aggregate pass, integer-rational metrics."""
    from featureextraction_spark.operators.profiling import expectation_checks

    ev = _load(spark, sf_dir, "events")
    return expectation_checks(
        ev,
        completeness=["user_id", "value", "props"],
        unique=["event_id"],
        member_of={
            "event_type": ["click", "view", "purchase", "signup", "error"]
        },
        ranges={"value": (0.0, 100.0)},
        min_rows=1_000,
    )


PHRASE_TOKENS = ("stream", "table", "hash")


def q_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients over the co-purchase graph —
    triangle enumeration + vertex-keyed degree join; 2T and deg·(deg-1)
    are the integer hash vehicles."""
    from featureextraction_spark.operators.graph import clustering_coeffs

    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    out = clustering_coeffs(edges)
    return out.select(
        "node", "degree", "n_triangles",
        _hround6(F.col("clustering_coeff")).alias("clustering_coeff"),
    )


def q_pit_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature store's get_historical_features read: purchases
    probe TWO backward as-of logs (last click / last view value) and
    one SCD2 dimension (signup tier) in a single leakage-free plan —
    one entity-keyed exchange per source."""
    from featureextraction_spark.plans.pit_read import point_in_time_read
    from featureextraction_spark.operators.scd import scd2_intervals
    from featureextraction_spark.functions.time import epoch_us

    ev = _load(spark, sf_dir, "events")
    # collapse same-(user, ts) log rows exactly as the oracle's max_by
    def _log(etype: str, out: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .groupBy("user_id", "ts")
            .agg(
                F.max("event_id").alias("event_id"),
                F.max_by("value", "event_id").alias(out),
            )
        )

    signups = ev.where(F.col("event_type") == "signup").withColumn(
        "tier",
        F.when(F.col("value") < 33, "bronze")
        .when(F.col("value") < 66, "silver")
        .otherwise("gold"),
    )
    probes = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", epoch_us(ev, "ts").alias("ts_us")
    )
    out = point_in_time_read(
        probes,
        asof_sources=[
            ("click_", _log("click", "cv"), ["cv"]),
            ("view_", _log("view", "vv"), ["vv"]),
        ],
        dim_sources=[("tier_", scd2_intervals(signups, state="tier"))],
    )
    return out.select(
        "user_id",
        "event_id",
        "ts_us",
        F.round(F.col("click_cv"), 4).alias("click_value"),
        F.round(F.col("view_vv"), 4).alias("view_value"),
        F.col("tier_state").alias("tier"),
        F.col("tier_version").alias("tier_version"),
    )


def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour OHLC bars per user — order-dependent open/close pinned by
    asc+desc row_numbers on ONE (user, bucket) exchange; all outputs
    exact quantized integers."""
    from featureextraction_spark.operators.rolling import resample_bars

    ev = _load(spark, sf_dir, "events")
    return resample_bars(ev, bucket_us=6 * 3_600 * 1_000_000)


def q_auc_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sliced ROC-AUC of doc length predicting lang='en' —
    the per-slice model-eval read; group-keyed window cumsum, integer
    auc_num2 vehicles, degenerate slices NULL."""
    from featureextraction_spark.operators.evaluation import roc_auc_by

    docs = _load(spark, sf_dir, "documents")
    d = docs.select(
        F.col("source"),
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").cast("long").alias("label"),
    )
    out = roc_auc_by(d, group="source", quant=1)
    return out.select(
        F.col("grp").alias("source"), "n_pos", "n_neg", "auc_num2",
        _hround6(F.col("auc")).alias("auc"),
    )


def q_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift/gains deciles of value targeting purchases — two-phase
    global rank (no single-partition window over the log), cumulative
    sums on the 10-row bucket table, rational lift vehicles."""
    from featureextraction_spark.operators.evaluation import gains_table

    ev = _load(spark, sf_dir, "events")
    d = ev.select(
        F.col("value").alias("score"),
        F.col("event_id"),
        (F.col("event_type") == "purchase").cast("long").alias("label"),
    )
    out = gains_table(d, n_buckets=10)
    return out.select(
        "bucket", "n", "n_pos", "cum_n", "cum_pos", "lift_num", "lift_den",
        _hround6(F.col("lift")).alias("lift"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive snapshot fingerprint of the event log (md5-60
    row hashes folded by modular sum) — one scan, one row; the cheap
    run-to-run divergence detector in front of table_diff."""
    from featureextraction_spark.operators.profiling import table_fingerprint
    from featureextraction_spark.functions.time import epoch_us

    ev = _load(spark, sf_dir, "events")
    p = ev.select(
        "event_id", "user_id", "event_type",
        epoch_us(ev, "ts").alias("ts_us"),
        F.floor(F.col("value").cast("double") * 10000.0 + 0.5)
        .cast("long").alias("value_q"),
    )
    return table_fingerprint(
        p, ["event_id", "user_id", "event_type", "ts_us", "value_q"]
    )


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (support /
    confidence / lift, all integer-rational until the closing
    divisions); distinct-items-first so multiplicity can't inflate
    support."""
    from featureextraction_spark.operators.graph import association_rules

    li = _load(spark, sf_dir, "lineitem")
    out = association_rules(
        li, basket="l_orderkey", item="l_partkey", min_pair_support=3
    )
    return out.select(
        "ante", "cons", "pair_n", "ante_n", "cons_n", "n_baskets",
        _hround6(F.col("confidence")).alias("confidence"),
        _hround6(F.col("lift")).alias("lift"),
    )


def q_threads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reply-chain reconstruction by pointer doubling: each user's
    timeline becomes a parent-pointer chain, tree_paths resolves
    (root, depth) in O(log depth) self-join rounds — the oracle replays
    it with one window (chains are the SQL-checkable special case of
    the general forest the operator handles)."""
    from featureextraction_spark.operators.graph import tree_paths
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    from featureextraction_spark.functions.time import epoch_us

    w = Window.partitionBy("user_id").orderBy(
        epoch_us(ev, "ts"), F.col("event_id")
    )
    nodes = ev.select(
        F.col("event_id").alias("id"),
        F.lag("event_id").over(w).alias("parent"),
    )
    return tree_paths(nodes)


def q_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance, externally gated: moment
    partials built SEPARATELY over the pre-cutoff log (the 'stored'
    state) and the post-cutoff delta, then algebraically combined —
    the oracle computes the same totals from scratch, so the gate
    proves merge(partials(old), partials(delta)) == full scan."""
    from featureextraction_spark.operators.activity import (
        combine_moments,
        daily_moments,
    )
    from featureextraction_spark.functions.time import epoch_us

    ev = _load(spark, sf_dir, "events")
    us = epoch_us(ev, "ts")
    old = daily_moments(ev.where(us < F.lit(_CDC_CUTOFF_US)))
    delta = daily_moments(ev.where(us >= F.lit(_CDC_CUTOFF_US)))
    return combine_moments(old.unionByName(delta))


def q_ooo_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing diagnostic: log2 lateness histogram of events
    replayed in a deterministically jittered ingestion order (md5
    contract, 0-2 min jitter) — one sessionize-shaped exchange + a
    <=64-row histogram. Read bucket b as 'a 2^b us watermark admits it'."""
    from featureextraction_spark.operators.profiling import out_of_order_profile
    from featureextraction_spark.operators.sampling import _seed_hash
    from featureextraction_spark.functions.time import epoch_us

    ev = _load(spark, sf_dir, "events")
    jitter = F.pmod(_seed_hash("event_id", 9), F.lit(120_000_000))
    d = ev.select(
        "user_id", "ts", "event_id",
        (epoch_us(ev, "ts") + jitter).alias("arrival_us"),
    )
    return out_of_order_profile(
        d, key="user_id", ts="ts", arrival=("arrival_us", "event_id")
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE vocabulary induction (12 merge rules) — iterative by
    nature, so recorded rows-only at the driver gate (like
    feature_vectors); the bit-exact naive oracle lives in pytest. Every
    iteration is vocabulary-sized: one corpus collapse up front, then
    pair-count + argmax + JVM fold per merge."""
    from featureextraction_spark.functions.textstats import bpe_merge_table

    docs = _load(spark, sf_dir, "documents")
    return bpe_merge_table(docs, n_merges=12)


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval via positional postings chained by
    (doc, pos+i) equi-joins — only the phrase terms' postings shuffle."""
    from featureextraction_spark.operators.retrieval import phrase_match

    docs = _load(spark, sf_dir, "documents")
    return phrase_match(docs, PHRASE_TOKENS)


def q_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-k retrieval quality of the exact cosine top-10 run judged
    against same-label relevance: hits@10 / MRR / precision / recall /
    linear DCG per query — recall@k is THE metric ANN indexes report.
    One (query, doc) equi-join of the Q·k run against qrels plus two
    map-side-combinable per-query aggregates; rational 2520-trick
    integer vehicles for the rank-discounted metrics."""
    from featureextraction_spark.operators.evaluation import ranking_metrics

    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    run = sim_ops.cosine_topk(queries_df, emb, k=10)
    qrels = (
        queries_df.select(F.col("vec_id").alias("query_id"), "label")
        .join(
            emb.select(F.col("vec_id").alias("rel_id"), "label"), "label"
        )
        .where(F.col("rel_id") != F.col("query_id"))
        .select("query_id", "rel_id")
    )
    out = ranking_metrics(run, qrels, k=10)
    return out.select(
        "query_id", "n_rel", "hits", "first_rel_rank", "rr_x2520",
        "dcg_lin_x2520",
        _hround6(F.col("precision_at_10")).alias("precision_at_10"),
        _hround6(F.col("recall_at_10")).alias("recall_at_10"),
    )


def q_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stopword-voting language-ID heuristic
    and the trusted lang label — the chance-corrected labeler audit run
    before trusting a cheap classifier to filter at scale. One global
    agree count + two alphabet-sized marginal aggregates; kappa_num /
    kappa_den BIGINT-exact, the float is the single closing division."""
    from featureextraction_spark.operators.evaluation import cohens_kappa

    docs = _load(spark, sf_dir, "documents")
    labeled = language_id(docs).select(
        "lang", F.coalesce(F.col("lang_pred"), F.lit("unknown")).alias("lang_pred")
    )
    out = cohens_kappa(labeled, "lang", "lang_pred")
    return out.select(
        "n", "agree", "rc_sum", "kappa_num", "kappa_den",
        _hround6(F.col("kappa")).alias("kappa"),
    )


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1/2/3 autocorrelation of the value series — the
    burstiness/periodicity feature; denominator-cleared form keeps
    acf_num/acf_den BIGINT-exact under any partial aggregation, one
    user-keyed exchange serves windows, leads and the final agg."""
    from featureextraction_spark.operators.rolling import autocorrelation

    ev = _load(spark, sf_dir, "events")
    out = autocorrelation(
        ev, value="value", by="user_id", order=["ts", "event_id"]
    )
    return out.select(
        "user_id", "lag", "n", "acf_num", "acf_den",
        _hround6(F.col("acf")).alias("acf"),
    )


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of orders on (price, recency) — the non-dominated
    rows no trade-off can discard. Bucket-local skylines + a broadcast
    suffix-max over the tiny bucket table; the only unpartitioned window
    runs over <= 64 bucket rows."""
    from featureextraction_spark.operators.skyline import skyline_2d

    o = _load(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice").cast("double") * 100.0 + 0.5)
        .cast("long")
        .alias("price_q"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_q"),
    )
    return skyline_2d(d, x="price_q", y="day_q", keep=["o_orderkey"])


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford profile of value per event type — the cheap
    fabricated-metrics detector; string-based significand (no libm),
    ppm-integer deviation vehicle, fixed 9-digit grid per group."""
    from featureextraction_spark.operators.profiling import benford_profile

    ev = _load(spark, sf_dir, "events")
    out = benford_profile(ev, value="value", by="event_type", quant=100.0)
    return out.select(
        "grp", "digit", "n_d", "n", "ppm", "dev_ppm_n",
        _hround6(F.col("ratio")).alias("ratio"),
    )


def q_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full r×c chi-squared contingency grid: per-user modal event type
    vs FIRST event type — does the first action predict the dominant
    one? Unit pre-collapse (one row per user) keeps the squared integer
    vehicles in int64; zero cells included so the grid sums to the
    statistic."""
    from pyspark.sql import Window

    from featureextraction_spark.operators.evaluation import contingency_table

    ev = _load(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), "event_type"
    )
    modal = (
        per.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"))
    )
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = (
        ev.withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_type"))
    )
    base = modal.join(first, "user_id")
    out = contingency_table(base, "modal_type", "first_type")
    return out.select(
        "cat_a", "cat_b", "o", "r", "c", "n", "dev_num", "dev_den",
        _hround6(F.col("chi2_cell")).alias("chi2_cell"),
    )


def q_sorted_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs (merge/purge blocking) on a
    lowercased 12-char text prefix — n·w candidates via the two-phase
    global rank + adjacent-bucket equi-join; no single-partition
    window, no all-pairs."""
    from featureextraction_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    docs = _load(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        docs, F.lower(F.substring("text", 1, 12)), "doc_id", window=3
    )


def q_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit of (lang, source) QI
    groups with the length-centile bucket as the sensitive attribute —
    one QI groupBy, integer flags."""
    from featureextraction_spark.operators.curation import k_anonymity_audit

    docs = _load(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.expr("n_chars div 100")
    )
    return k_anonymity_audit(
        docs, ["lang", "source"], "len_bucket", k=5, l_div=2
    )


def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS distance from seed parts (partkey % 97 == 0) over
    the co-purchase graph — level-synchronous frontier join rounds with
    anti-join settlement; the oracle replays it as a recursive CTE in
    UNION mode with min(hop)."""
    from featureextraction_spark.operators.graph import bfs_hops

    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    seeds = (
        li.select(F.col("l_partkey").alias("node"))
        .where(F.pmod(F.col("node"), F.lit(97)) == 0)
        .distinct()
    )
    return bfs_hops(edges, seeds, max_hops=4)


def q_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the cosine (scale-invariant) and raw
    inner-product (MIPS) top-10 runs — the hybrid-retrieval combiner;
    rrf_num kept BIGINT-exact by lcm pre-scaling."""
    from featureextraction_spark.operators.retrieval import rrf_fusion

    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    run_a = sim_ops.cosine_topk(queries_df, emb, k=10)
    run_b = sim_ops.dot_topk(queries_df, emb, k=10)
    return rrf_fusion([run_a, run_b], k=60, topn=10, rank_cap=10)


def q_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D between purchase and view
    value distributions — rational d_num/d_den vehicles, support-table
    collapse + two-phase cumsums, no single-partition window."""
    from featureextraction_spark.operators.drift import ks_test

    ev = _load(spark, sf_dir, "events")
    return ks_test(
        ev, value="value", group="event_type",
        group_a="purchase", group_b="view", quant=100.0,
    ).select(
        "n_a", "n_b", "at_vq", "d_num", "d_den",
        _hround6(F.col("d")).alias("d"),
    )


def q_neighbor_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style 1-hop mean aggregation over the co-purchase
    graph with part price as the node feature — one symmetrized edge
    pass, feature join on the message source, destination groupBy;
    isolated parts keep degree 0."""
    from featureextraction_spark.operators.graph import neighbor_agg

    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    part = _load(spark, sf_dir, "part")
    feats = part.select(
        F.col("p_partkey").alias("node"),
        F.floor(F.col("p_retailprice").cast("double") * 100.0 + 0.5)
        .cast("long")
        .alias("q"),
    )
    out = neighbor_agg(edges, feats)
    return out.select(
        "node", "self_q", "degree", "nbr_sum_q",
        _hround6(F.col("nbr_mean")).alias("nbr_mean"),
    )


def q_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean index of dispersion per event type — the
    Poisson-vs-clumped burstiness screen; n·Σq²−(Σq)² and n·Σq exact
    BIGINT vehicles, one map-combinable aggregate."""
    from featureextraction_spark.operators.profiling import dispersion_index

    ev = _load(spark, sf_dir, "events")
    out = dispersion_index(ev, value="value", by="event_type", quant=10.0)
    return out.select(
        "grp", "n", "sum_q", "sum_q2", "disp_num", "disp_den",
        _hround6(F.col("dispersion")).alias("dispersion"),
    )


def _copurchase_weighted_edges(spark: SparkSession, sf_dir: str, min_w: int = 2):
    """Co-purchase part graph thinned to pairs sharing >= min_w distinct
    orders — the weight threshold that turns the dense clique union into
    a peelable sparse graph."""
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.countDistinct("l_orderkey").alias("w"))
        .where(F.col("w") >= int(min_w))
        .select("src", "dst")
    )


def q_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART stump split scan: per source, every candidate n_chars
    threshold scored by exact-rational weighted Gini for predicting
    lang='en'; cost_num/cost_den BIGINT vehicles, cost one IEEE
    division."""
    from featureextraction_spark.operators.splits import gini_split_scan

    docs = _load(spark, sf_dir, "documents")
    scan = gini_split_scan(
        docs, feature="n_chars", label=(F.col("lang") == "en"), by="source"
    )
    return scan.select(
        "grp", "threshold", "n_l", "pos_l", "neg_l", "n_r", "pos_r", "neg_r",
        "cost_num", "cost_den", _hround6(F.col("cost")).alias("cost"),
    )


def q_gini_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winning stump per source: rank-1 over the split scan ordered by
    the exact-division cost with threshold tiebreak (map-side
    WindowGroupLimit ships <=1 row per partition)."""
    from featureextraction_spark.operators.splits import (
        best_gini_split,
        gini_split_scan,
    )

    docs = _load(spark, sf_dir, "documents")
    best = best_gini_split(
        gini_split_scan(
            docs, feature="n_chars", label=(F.col("lang") == "en"), by="source"
        )
    )
    return best.select(
        "grp", "threshold", "n_l", "pos_l", "neg_l", "n_r", "pos_r", "neg_r",
        "cost_num", "cost_den", _hround6(F.col("cost")).alias("cost"),
    )


KCORE_K = 3
KCORE_ROUNDS = 12


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peeling of the weight-thresholded co-purchase
    graph: per node the removal sweep (0 = survives the 3-core) and the
    degree at removal / in the final core."""
    from featureextraction_spark.operators.graph import kcore_peel

    edges = _copurchase_weighted_edges(spark, sf_dir, min_w=2)
    return kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


def q_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of four FK relations of the star
    schema (incl. events.user_id -> customer, which really has
    orphans): child rows, NULL keys, orphan rows/keys per relation."""
    from featureextraction_spark.operators.profiling import referential_audit

    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    lineitem = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    events = _load(spark, sf_dir, "events")
    return referential_audit(
        [
            ("orders->customer", orders, "o_custkey", customer, "c_custkey"),
            ("lineitem->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
            ("lineitem->part", lineitem, "l_partkey", part, "p_partkey"),
            ("events->customer", events, "user_id", customer, "c_custkey"),
        ]
    )


def q_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch t² per event type: users hash-assigned to A/B by the
    shared md5 contract, value quantized to 0.01 units; six exact
    BIGINT sums + n-cleared variance numerators as hash vehicles,
    t2/df_w closed in a fixed double tree."""
    from featureextraction_spark.operators.evaluation import welch_t2
    from featureextraction_spark.operators.sampling import _seed_hash

    ev = _load(spark, sf_dir, "events")
    units = ev.select(
        F.col("event_type").alias("grp"),
        F.when(_seed_hash("user_id", 7) % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
        F.floor(F.col("value").cast("double") * 100.0 + 0.5)
        .cast("long")
        .alias("q"),
    )
    out = welch_t2(units, q="q", by="grp", variant="variant")
    return out.select(
        "grp", "n_a", "s_a", "q2_a", "n_b", "s_b", "q2_b",
        "var_num_a", "var_num_b",
        _hround6(F.col("t2")).alias("t2"),
        _hround6(F.col("df_w")).alias("df_w"),
    )


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan pairwise Pearson over four lineitem measures: the
    five integer sums + n-cleared cov/var BIGINT vehicles per pair,
    sign + r-squared closed in a fixed double tree (sqrt-free)."""
    from featureextraction_spark.operators.profiling import corr_matrix

    li = _load(spark, sf_dir, "lineitem")
    out = corr_matrix(
        li,
        [
            ("l_quantity", 1.0),
            ("l_extendedprice", 0.01),
            ("l_discount", 100.0),
            ("l_tax", 100.0),
        ],
    )
    return out.select(
        "col_x", "col_y", "n", "sum_x", "sum_y", "sum_xy",
        "cov_num", "varx_num", "vary_num", "r_sign",
        _hround6(F.col("r2")).alias("r2"),
    )


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-one apply step: near-dup clusters (same exact-Jaccard
    pair set as dedup_clusters) resolved to canonical docs — longest
    n_chars wins, ties to the smallest id, singletons self-canonical."""
    from featureextraction_spark.operators.dedup import canonical_pick
    from featureextraction_spark.operators.graph import dedup_clusters

    docs = _load(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(docs, threshold=0.35)
    return canonical_pick(docs, dedup_clusters(pairs))


PAGERANK_ROUNDS = 5


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round quantized PageRank over the weight-thresholded
    co-purchase graph (the kcore graph): five synchronous integer
    power-iteration steps, rank_q the BIGINT hash vehicle, the float
    rank one closing division."""
    from featureextraction_spark.operators.graph import pagerank_fixed

    edges = _copurchase_weighted_edges(spark, sf_dir, min_w=2)
    out = pagerank_fixed(edges, rounds=PAGERANK_ROUNDS)
    return out.select(
        "node", "outdeg", "rank_q", _hround6(F.col("rank")).alias("pr")
    )


def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent users per event type: one activity interval per
    (type, user) = [first event, last event], swept by the +1/−1
    delta sort — exact BIGINT counts and µs timestamps."""
    from featureextraction_spark.operators.intervals import max_concurrency

    ev = _load(spark, sf_dir, "events")
    us = epoch_us(ev, "ts")
    iv = ev.groupBy("event_type", "user_id").agg(
        F.min(us).cast("long").alias("start_us"),
        F.max(us).cast("long").alias("end_us"),
    )
    return max_concurrency(iv, by="event_type", id_col="user_id")


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch–Kincaid grade per document: the
    vowel-group syllable heuristic, BIGINT formula numerators as hash
    vehicles, the two float scores closing divisions."""
    from featureextraction_spark.functions.textstats import (
        readability_features,
    )

    docs = _load(spark, sf_dir, "documents")
    out = readability_features(docs)
    return out.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        "flesch_num",
        "fk_num",
        "rd_den",
        _hround6(F.col("flesch")).alias("flesch"),
        _hround6(F.col("fk_grade")).alias("fk_grade"),
    )


def q_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural link prediction on the co-purchase part graph:
    common-neighbor / Jaccard / resource-allocation scores for
    non-adjacent pairs sharing >= 2 neighbors; ra_q the fixed-point
    BIGINT vehicle (log-free RA replaces Adamic-Adar by design)."""
    from featureextraction_spark.operators.graph import link_prediction_scores

    edges = _copurchase_weighted_edges(spark, sf_dir, min_w=2)
    out = link_prediction_scores(edges, min_cn=2)
    return out.select(
        "u", "v", "cn", "deg_u", "deg_v", "ra_q",
        _hround6(F.col("jaccard")).alias("jaccard"),
        _hround6(F.col("ra")).alias("ra"),
    )


def q_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation (lags -3..+3 days) between the daily
    click and purchase count series — does one stream anticipate the
    other; integer daily counts make n-cleared moments exact BIGINTs,
    ccf one fixed double expression."""
    from featureextraction_spark.operators.rolling import cross_correlation

    ev = _load(spark, sf_dir, "events")
    base = ev.select("event_type", epoch_us(ev, "ts").alias("__us")).withColumn(
        "t", F.expr("CAST(__us div 86400000000 AS BIGINT)")
    )
    x = (
        base.where(F.col("event_type") == "click")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("xq"))
    )
    y = (
        base.where(F.col("event_type") == "purchase")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("yq"))
    )
    out = cross_correlation(x, y, t="t", xv="xq", yv="yq", max_lag=3)
    return out.select(
        "lag", "n", "ccf_num", "dx", "dy",
        _hround6(F.col("ccf")).alias("ccf"),
    )



def q_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the language-ID heuristic partition
    and the trusted lang partition — the label-permutation-invariant
    twin of q_kappa; n/sij/sa/sb BIGINT-exact, ARI one fixed double
    tree over them."""
    from featureextraction_spark.operators.evaluation import (
        adjusted_rand_index,
    )

    docs = _load(spark, sf_dir, "documents")
    labeled = language_id(docs).select(
        "lang",
        F.coalesce(F.col("lang_pred"), F.lit("unknown")).alias("lang_pred"),
    )
    out = adjusted_rand_index(labeled, "lang", "lang_pred")
    return out.select(
        "n", "sij", "sa", "sb", _hround6(F.col("ari")).alias("ari")
    )


def q_tv_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation source-mix drift of each hash split vs the
    corpus — the log-free split-stratification audit; tv_num/tv_den
    exact BIGINT, TV one closing division."""
    from featureextraction_spark.operators.drift import tv_distance
    from featureextraction_spark.operators.sampling import hash_split

    docs = _load(spark, sf_dir, "documents")
    s = hash_split(docs, "doc_id")
    out = tv_distance(s, part="split", cat="source")
    return out.select(
        "split", "n_rows", "tv_num", "tv_den",
        _hround6(F.col("tv")).alias("tv"),
    )


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 10-NN cosine majority-vote label prediction for
    the first 200 vectors — the embedding-quality probe; every output
    column integer (votes/hit BIGINT), no float in the hash gate."""
    from featureextraction_spark.operators.similarity import knn_classify

    emb = _load(spark, sf_dir, "embeddings")
    return knn_classify(emb.filter(F.col("vec_id") < 200), emb, k=10)



def q_kmv_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user estimate per event type,
    k=32, next to the exact count — the 4th mergeable sketch; state and
    kth_hash BIGINT-exact, the estimate one closing double division."""
    from featureextraction_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    ev = _load(spark, sf_dir, "events")
    state = kmv_sketch(ev, "user_id", k=32, group="event_type")
    est = kmv_estimate(state, k=32, group="event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type", "n_kept", "kth_hash",
        _hround6(F.col("kmv_estimate")).alias("kmv_estimate"),
        "exact_distinct",
    )


def q_join_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion audit of clicks×purchases per user BEFORE running
    the join: per-key multiplicities, predicted pair counts, exact total
    output cardinality — all BIGINT, count tables only, zero joined rows
    materialized."""
    from featureextraction_spark.operators.profiling import (
        join_explosion_audit,
    )

    ev = _load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return join_explosion_audit(clicks, purchases, "user_id", top_n=20)


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): BUILDING-segment orders not
    yet shipped by 1998-03-15, top-10 open orders by revenue. The
    3-table join plan Catalyst should pick: filtered customer dim
    broadcast, orders⋈lineitem shuffled on the key, filters pushed to
    every scan. Revenue is the exact integer vehicle rev_e4 =
    Σ cents·(100−disc_pct) (BIGINT); the float is one closing /1e4."""
    cust = _load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = _load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("long"))
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(rev_e4).cast("long").alias("rev_e4")
    )
    top = agg.orderBy(F.col("rev_e4").desc(), F.col("l_orderkey").asc()).limit(10)
    return top.select(
        "l_orderkey",
        epoch_us(top, "o_orderdate").alias("o_orderdate_us"),
        "o_orderpriority",
        "rev_e4",
        _hround6(F.col("rev_e4").cast("double") / F.lit(10000.0)).alias("revenue"),
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier revenue): 6-table star join —
    lineitem⋈orders⋈customer⋈supplier⋈nation⋈region, the
    same-nation residual c_nationkey = s_nationkey, ASIA + one order
    year. The join-reordering / multi-broadcast showcase: region,
    nation, supplier, customer all broadcast; lineitem⋈orders is the
    only shuffle. Same integer rev_e4 vehicle as q_ship_priority."""
    sf = lambda n: _load(spark, sf_dir, n)  # noqa: E731
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("long"))
    )
    orders = sf("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    j = (
        sf("lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sf("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(sf("supplier")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(sf("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(sf("region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
    )
    agg = j.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(rev_e4).cast("long").alias("rev_e4"),
    )
    return agg.select(
        "n_name", "n_lines", "rev_e4",
        _hround6(F.col("rev_e4").cast("double") / F.lit(10000.0)).alias("revenue"),
    )


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(lang, source) coverage matrix over documents — all four
    grouping levels in ONE Expand+aggregate scan; n and Σ n_chars exact
    BIGINT, grouping() flags disambiguate subtotal rows."""
    from featureextraction_spark.operators.olap import cube_counts

    docs = _load(spark, sf_dir, "documents")
    return cube_counts(
        docs.select("lang", "source", "n_chars"), "lang", "source", "n_chars"
    )


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share) by ship month: lineitem ⋈
    broadcast part, promo_e4/total_e4 exact BIGINT rationals, the share
    one closing division — the conditional-aggregation join pattern."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("long"))
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ship_month"),
        rev_e4.alias("__e4"),
        (F.col("p_type") == "PROMO").alias("__promo"),
    )
    agg = j.groupBy("ship_month").agg(
        F.sum(F.when(F.col("__promo"), F.col("__e4")).otherwise(F.lit(0)))
        .cast("long")
        .alias("promo_e4"),
        F.sum("__e4").cast("long").alias("total_e4"),
    )
    return agg.select(
        "ship_month", "promo_e4", "total_e4",
        _hround6(
            F.lit(100.0)
            * F.col("promo_e4").cast("double")
            / F.col("total_e4").cast("double")
        ).alias("promo_pct"),
    )


def q_dist_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine geometry profile of the embedding corpus over a
    deterministic hash sample — 21 width-0.1 bins on the integer-
    quantized cosine; counts/total BIGINT, share one closing division."""
    from featureextraction_spark.operators.similarity import (
        pair_distance_profile,
    )

    emb = _load(spark, sf_dir, "embeddings")
    out = pair_distance_profile(emb, sample_mod=3)
    return out.select(
        "bin", "lo_q6", "n_pairs", "total_pairs",
        _hround6(F.col("share")).alias("share"),
    )


_IVM_CUTOFF = "1999-01-01"


def q_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join-view maintenance, externally gated: the stored
    pre-cutoff orders⋈lineitem view plus the delta-rule terms
    (ΔL⋈R₀ ∪ L₀⋈ΔR ∪ ΔL⋈ΔR) must equal the from-scratch join the
    oracle computes — proving the day's maintenance never re-joins the
    base tables. Monthly rollup; rev_e4 exact BIGINT."""
    from featureextraction_spark.operators.joins import incremental_join_delta

    orders = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_shipdate",
        (
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("long"))
        ).alias("rev_e4"),
    )
    cut = F.lit(_IVM_CUTOFF)
    view0 = orders.filter(F.col("o_orderdate") < cut).join(
        li.filter(F.col("l_shipdate") < cut), "o_orderkey"
    )
    delta = incremental_join_delta(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        li.filter(F.col("l_shipdate") < cut),
        li.filter(F.col("l_shipdate") >= cut),
        "o_orderkey",
    )
    full = view0.unionByName(delta)
    return (
        full.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("rev_e4").cast("long").alias("rev_e4"),
        )
    )


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (idle high-balance customers): strictly-above-
    average balance via the integer cross-multiply cents·n > Σcents
    (no division, no float threshold), anti-join against recent orders,
    per-nation rollup — the scalar-broadcast + anti-join pattern."""
    cust = _load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    pos = cust.filter(F.col("cents") > 0)
    tot = pos.agg(
        F.sum("cents").cast("long").alias("sum_cents"),
        F.count(F.lit(1)).cast("long").alias("n_pos"),
    )
    rich = cust.crossJoin(F.broadcast(tot)).filter(
        F.col("cents") * F.col("n_pos") > F.col("sum_cents")
    )
    recent = _load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(_IVM_CUTOFF)
    ).select(F.col("o_custkey").alias("c_custkey"))
    idle = rich.join(recent, "c_custkey", "left_anti")
    nation = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    return (
        idle.join(F.broadcast(nation), "c_nationkey")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_idle"),
            F.sum("cents").cast("long").alias("sum_idle_cents"),
        )
    )


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): HAVING-filtered per-order
    quantity totals joined back to orders+customer, distributed top-20
    via TakeOrdered — integer quantities, fully deterministic order."""
    li = _load(spark, sf_dir, "lineitem")
    totals = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("total_qty"),
        )
        .filter(F.col("total_qty") > 150)
    )
    orders = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    j = totals.join(orders, "o_orderkey")
    top = j.orderBy(
        F.col("total_qty").desc(), F.col("o_orderkey").asc()
    ).limit(20)
    return top.select(
        "o_orderkey",
        "o_custkey",
        epoch_us(top, "o_orderdate").alias("o_orderdate_us"),
        "n_lines",
        "total_qty",
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hardest-negative mining for the first 150 anchors: nearest
    same-label and nearest other-label neighbor per anchor, margin and
    violation flag — ranks on rounded cosine, margin a difference of
    exact 1e-6 multiples, violation BIGINT."""
    from featureextraction_spark.operators.similarity import (
        hard_negative_mining,
    )

    emb = _load(spark, sf_dir, "embeddings")
    return hard_negative_mining(emb.filter(F.col("vec_id") < 150), emb)


def q_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal labeling-budget allocation across sources by
    n_chars variance — integer moments, overflow-safe scaled variance,
    exact integer sqrt, BIGINT budget split; share one division."""
    from featureextraction_spark.operators.sampling import neyman_allocation

    docs = _load(spark, sf_dir, "documents")
    out = neyman_allocation(
        docs, stratum="source", value="n_chars", total_budget=1000
    )
    return out.select(
        "source", "n_rows", "var_q", "sigma_q", "alloc_num", "total_alloc",
        "n_target", _hround6(F.col("share")).alias("share"),
    )


def q_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply step of the Neyman design: draw the actual variance-
    proportional stratified sample — content-addressed per-stratum
    ranks capped at each stratum's n_target; all-integer output."""
    from featureextraction_spark.operators.sampling import neyman_sample

    docs = _load(spark, sf_dir, "documents")
    return neyman_sample(
        docs, stratum="source", value="n_chars", id_col="doc_id",
        total_budget=1000,
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking of each query's top-12 cosine
    candidates (λ=0.7, 5 greedy rounds unrolled into one static plan) —
    rel_q/sim_q/mmr_q all integer micro-cosines, ties to smaller id;
    the third fixed-round iterative operator next to PageRank and BPE."""
    from featureextraction_spark.operators.retrieval import mmr_rerank
    from featureextraction_spark.operators.rolling import quantize_q6
    from featureextraction_spark.operators.similarity import (
        cosine_similarity_col,
        cosine_topk,
    )

    emb = _load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    cand = cosine_topk(qs, emb, k=12).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        quantize_q6(F.col("cosine")).alias("rel_q"),
    )
    vec = emb.select("vec_id", "embedding")
    pool_pairs = (
        cand.select("query_id", F.col("doc_id").alias("a_id"))
        .join(
            cand.select("query_id", F.col("doc_id").alias("b_id")),
            "query_id",
        )
        .where(F.col("a_id") != F.col("b_id"))
        .join(
            vec.select(
                F.col("vec_id").alias("a_id"), F.col("embedding").alias("__va")
            ),
            "a_id",
        )
        .join(
            vec.select(
                F.col("vec_id").alias("b_id"), F.col("embedding").alias("__vb")
            ),
            "b_id",
        )
        .select(
            "query_id", "a_id", "b_id",
            quantize_q6(
                cosine_similarity_col(F.col("__va"), F.col("__vb"))
            ).alias("sim_q"),
        )
    )
    return mmr_rerank(cand, pool_pairs, k=5, lam_num=7, lam_den=10)


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-weighted median doc size per source — the size covering half
    each source's MASS (plain median under-counts skewed corpora); pure
    integer cumulative comparison, no float anywhere."""
    from featureextraction_spark.operators.profiling import weighted_median

    docs = _load(spark, sf_dir, "documents")
    return weighted_median(docs, group="source", value="n_chars", weight="n_chars")


ANN_RECALL_K = 10
ANN_PLANES = 8
ANN_TABLES = 4
ANN_DIM = 64
ANN_SEED = 42


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH ANN engine vs the exact scan, per query —
    the approximate engine and its ground truth gated together in one
    query; buckets use the quantized-sign contract so DuckDB replays
    the same tables; hits/n_approx BIGINT, recall one division."""
    from featureextraction_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
    )

    emb = _load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(qs, emb, k=ANN_RECALL_K).select(
        "query_id", "neighbor_id"
    )
    approx = ann_lsh_topk(
        qs,
        emb,
        k=ANN_RECALL_K,
        n_planes=ANN_PLANES,
        n_tables=ANN_TABLES,
        dim=ANN_DIM,
        seed=ANN_SEED,
        quantized=True,
    ).select("query_id", F.col("neighbor_id").alias("approx_id"))
    hits = (
        exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (exact.neighbor_id == approx.approx_id),
            "left",
        )
        .groupBy(exact.query_id)
        .agg(F.count("approx_id").cast("long").alias("hits"))
    )
    n_approx = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx")
    )
    return hits.join(n_approx, "query_id", "left").select(
        "query_id",
        "hits",
        F.coalesce(F.col("n_approx"), F.lit(0)).cast("long").alias("n_approx"),
        _hround6(
            F.col("hits").cast("double") / F.lit(float(ANN_RECALL_K))
        ).alias("recall"),
    )


IVFPQ_RECALL_NQ = 20
IVFPQ_RECALL_K = 10
IVFPQ_N_LISTS = 8
IVFPQ_N_PROBE = 2


def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PARTIAL-probe IVF-PQ (n_probe=2 of 8 lists) vs the
    exact cosine scan — the probed-recall readout ``ann_recall`` gives
    the LSH engine, here for the IVF-PQ composition (the round-4 verdict's
    unmeasured gap: only the full-probe ≡ flat identity was gated).

    Coarse centroids are the corpus vectors with the ``n_lists`` smallest
    ids (deterministic and data-derived — the replayable-centroid sibling
    of ``pq_sample_codebooks``), assignment is argmax-cosine with ties to
    the smallest list, probing is the engine's (score desc, list_id desc)
    slice; DuckDB replays centroids, assignment, probe choice, PQ encode
    and the fixed-j-order ADC adds from the same parquet doubles.
    hits/n_approx BIGINT, recall one nudged-rounded division."""
    from featureextraction_spark.operators.similarity import (
        cosine_similarity_col,
        cosine_topk,
        ivfpq_topk,
    )

    emb = _load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < IVFPQ_RECALL_NQ)
    # n_lists rows — driver-tiny at any corpus scale, like FAISS codebooks
    cent_rows = (
        emb.filter(F.col("vec_id") < IVFPQ_N_LISTS)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in cent_rows]
    neg = F.array(
        *[
            F.struct(
                (
                    -cosine_similarity_col(
                        F.col("embedding"), F.array(*[F.lit(v) for v in c])
                    )
                ).alias("negs"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    assigned = emb.select(
        "vec_id", "embedding", F.array_min(neg)["i"].alias("list_id")
    )
    approx = ivfpq_topk(
        qs,
        emb,
        k=IVFPQ_RECALL_K,
        n_lists=IVFPQ_N_LISTS,
        n_probe=IVFPQ_N_PROBE,
        m=4,
        ks=8,
        centroids=centroids,
        assigned=assigned,
    ).select("query_id", F.col("neighbor_id").alias("approx_id"))
    exact = cosine_topk(qs, emb, k=IVFPQ_RECALL_K).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (exact.neighbor_id == approx.approx_id),
            "left",
        )
        .groupBy(exact.query_id)
        .agg(F.count("approx_id").cast("long").alias("hits"))
    )
    n_approx = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx")
    )
    return hits.join(n_approx, "query_id", "left").select(
        "query_id",
        "hits",
        F.coalesce(F.col("n_approx"), F.lit(0)).cast("long").alias("n_approx"),
        _hround6(
            F.col("hits").cast("double") / F.lit(float(IVFPQ_RECALL_K))
        ).alias("recall"),
    )


def q_dataset_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus size, slice cardinalities, exact-dup
    mass (docs sharing a normalized-text fingerprint) — the header every
    corpus release prints; dup_ppm integer division, mean one closing
    division. Two aggregation passes total: basics + one fingerprint
    groupBy (the exact_dedup shuffle), met in a 1-row crossJoin."""
    from featureextraction_spark.operators.dedup import fingerprint

    docs = _load(spark, sf_dir, "documents")
    basics = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
    groups = (
        docs.select(fingerprint("text").alias("__fp"))
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    dups = groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_unique_texts"),
        F.sum(F.when(F.col("__n") >= 2, F.col("__n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup_docs"),
    )
    return basics.crossJoin(F.broadcast(dups)).select(
        "n_docs", "total_chars", "n_langs", "n_sources", "max_chars",
        "n_unique_texts", "n_dup_docs",
        F.expr("CAST(n_dup_docs * 1000000 div n_docs AS BIGINT)").alias(
            "dup_ppm"
        ),
        _hround6(
            F.col("total_chars").cast("double") / F.col("n_docs").cast("double")
        ).alias("mean_chars"),
    )


def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation estimates (click-users vs purchase-users):
    union / Jaccard / intersection from two merged k=64 sketch states —
    the estimate CMS/HLL/Bloom cannot give — next to the exact counts;
    n_merged/kth_hash/matches BIGINT, estimates fixed double trees."""
    from featureextraction_spark.operators.sketches import (
        kmv_set_ops,
        kmv_sketch,
    )

    ev = _load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    est = kmv_set_ops(
        kmv_sketch(clicks, "user_id", k=64),
        kmv_sketch(purchases, "user_id", k=64),
        k=64,
    )
    a = clicks.select("user_id").distinct()
    b = purchases.select("user_id").distinct()
    exact = a.join(b, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_intersection")
    ).crossJoin(
        a.unionByName(b)
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("exact_union"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_merged", "kth_hash", "matches",
        _hround6(F.col("union_est")).alias("union_est"),
        _hround6(F.col("jaccard_est")).alias("jaccard_est"),
        _hround6(F.col("intersection_est")).alias("intersection_est"),
        "exact_union", "exact_intersection",
    )


def q_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language parity audit of document length: which language
    slices sit >10% from the corpus mean — the disparity flag is a pure
    BIGINT cross-multiply, the percent gap a fixed double tree."""
    from featureextraction_spark.operators.evaluation import parity_audit

    docs = _load(spark, sf_dir, "documents")
    out = parity_audit(docs, slice_col="lang", value="n_chars", tol_pct=10)
    return out.select(
        "lang", "n_s", "sum_s", "breaches_parity",
        _hround6(F.col("mean_slice")).alias("mean_slice"),
        _hround6(F.col("gap_pct")).alias("gap_pct"),
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable Misra–Gries top-token summary with its
    error certificate, audited against the exact counts: every column is
    a BIGINT, so the certificate itself (mg ≤ exact ≤ mg + err) is
    hash-gated cross-engine — not just spot-checked."""
    from featureextraction_spark.operators.sketches import heavy_hitters

    from featureextraction_spark.plans.feature_pipeline import TOKEN_REGEX

    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_REGEX), F.lit(0))
        ).alias("item"),
    )
    hh = heavy_hitters(toks, "item", F.pmod(F.col("doc_id"), F.lit(8)), k=24)
    exact = toks.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return hh.join(exact, "item").select(
        "item", "mg_count", "err_bound", "exact_count"
    )


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup): a 96-row weighted sample
    of documents by n_chars whose est_weight column estimates the byte
    mass of ANY document subset. Priorities/tau use only IEEE core ops
    over the portable md5-60-bit hash — bit-identical cross-engine."""
    from featureextraction_spark.operators.sampling import priority_sample

    docs = _load(spark, sf_dir, "documents")
    out = priority_sample(docs, "doc_id", "n_chars", k=96)
    return out.select(
        "doc_id",
        "weight",
        "rn",
        _hround6(F.col("priority")).alias("priority"),
        _hround6(F.col("tau")).alias("tau"),
        _hround6(F.col("est_weight")).alias("est_weight"),
    )


def q_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer) skipping audit: how many 512-row zones
    a yearly o_orderdate range scan must touch under the natural
    insertion layout vs a date-sorted layout — the "is re-clustering
    worth it" decision table, all-integer and bit-exact. The date-sorted
    rank goes through blockpair.with_global_rank's two-phase form (no
    single-partition window over the fact table)."""
    import datetime

    from featureextraction_spark.operators.blockpair import with_global_rank
    from featureextraction_spark.operators.cache import (
        release_persisted_intermediates,
    )
    from featureextraction_spark.operators.layout import zonemap_prune_audit

    orders = _load(spark, sf_dir, "orders")
    # unique, lexicographically-chronological sort key (dates tie)
    sorted_rk = with_global_rank(
        orders.withColumn(
            "__sk",
            F.format_string(
                "%020d-%012d", epoch_us(orders, "o_orderdate"), F.col("o_orderkey")
            ),
        ),
        "__sk",
    )
    preds = [
        (f"y{y}", datetime.datetime(y, 1, 1), datetime.datetime(y, 12, 31, 23, 59, 59))
        for y in (1995, 1997, 1999, 2001)
    ]
    natural = zonemap_prune_audit(
        orders,
        {"natural": F.expr("o_orderkey div 512")},
        "o_orderdate",
        preds,
    )
    date_sorted = zonemap_prune_audit(
        sorted_rk,
        {"date_sorted": F.expr("__rk div 512")},
        "o_orderdate",
        preds,
    )
    out = natural.unionByName(date_sorted).orderBy("layout", "pred")
    out = out.localCheckpoint()  # cut the cached-rank lineage before release
    release_persisted_intermediates()
    return out


def q_woe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screen of order priority
    against the finished-order label: BIGINT woe_num/woe_den vehicles
    plus the one-ln woe/iv doubles under the shared nudge."""
    from featureextraction_spark.operators.encoding import woe_encode

    orders = _load(spark, sf_dir, "orders")
    out = woe_encode(orders, "o_orderpriority", F.col("o_orderstatus") == "F")
    return out.select(
        "category",
        "n",
        "pos",
        "neg",
        "woe_num",
        "woe_den",
        _hround6(F.col("woe")).alias("woe"),
        _hround6(F.col("iv")).alias("iv"),
    )


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one bigram LM fit on the doc_id % 10 == 0 slice, every doc
    scored — the conditional-probability upgrade of unigram_lm. Only the
    BIGINT vehicles ship through the hash gate (blm_num / ctx_num and
    the integer counts); avg_logprob is pytest-oracled with tolerance
    (multi-term float sum), exactly like the unigram scorer."""
    from featureextraction_spark.functions.textstats import bigram_lm_score

    docs = _load(spark, sf_dir, "documents")
    return bigram_lm_score(docs, ref=F.col("doc_id") % 10 == 0).select(
        "doc_id", "n_bigrams", "oov_bigrams", "blm_num", "ctx_num"
    )


# BPE tokenizer artifact: 12 merge rules trained once (rank order) on the
# sf0.01 corpus with the repo's exact trainer semantics — shipped as
# literals, the way a tokenizer rides along with a training pipeline.
# Apply semantics are corpus-independent; the driver replays the SAME
# literals in DuckDB.
BPE_MERGES = (
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"),
)


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE with the shipped 12-rule BPE merge list — greedy
    left-to-right passes in rank order via engine-exact string surgery
    (no UDF); all-integer per-doc output."""
    from featureextraction_spark.functions.textstats import bpe_apply

    docs = _load(spark, sf_dir, "documents")
    return bpe_apply(docs, list(BPE_MERGES))


def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding decision stats for the event log laid out
    sorted by (user_id, ts, event_id): exact distinct counts, RLE run
    counts, byte mass per column — all-integer."""
    from featureextraction_spark.operators.profiling import encoding_advisor

    ev = _load(spark, sf_dir, "events")
    return encoding_advisor(
        ev, "user_id", ("ts", "event_id"), ["event_type", "props"]
    )


def q_poisson_boot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap (32 replicates) of the mean
    document length — BIGINT n_eff / sum_wx vehicles, one division per
    replicate; the portable-hash draw replays exactly in DuckDB."""
    from featureextraction_spark.operators.evaluation import (
        poisson_bootstrap_mean,
    )

    docs = _load(spark, sf_dir, "documents")
    return poisson_bootstrap_mean(docs, "doc_id", "n_chars", replicates=32)


def q_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-ratio Pareto tail-index of the per-user event-count
    distribution — the 'will one conversation eat a task' dial behind
    the salted operator variants; two exact order statistics + two ln's,
    two-phase global rank (no single-partition sort)."""
    from featureextraction_spark.operators.cache import (
        release_persisted_intermediates,
    )
    from featureextraction_spark.operators.profiling import tail_index

    ev = _load(spark, sf_dir, "events")
    sizes = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    out = tail_index(sizes, "n_events", "user_id").select(
        "n", "idx_lo", "idx_hi", "x_lo", "x_hi",
        _hround6(F.col("alpha")).alias("alpha"),
    )
    out = out.localCheckpoint()  # cut the cached-rank lineage before release
    release_persisted_intermediates()
    return out


def q_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression-ratio quality proxy (Gopher filter) —
    Arrow mapInPandas codec path; DEFLATE length is a zlib-build
    property, not SQL semantics, so this is rows-only by nature (the
    pytest oracle pins the same library and gates values exactly)."""
    from featureextraction_spark.functions.textstats import (
        compression_ratio_features,
    )

    docs = _load(spark, sf_dir, "documents")
    return compression_ratio_features(docs).select(
        "doc_id", "n_bytes", "n_compressed",
        _hround6(F.col("compression_ratio")).alias("compression_ratio"),
    )


def q_psi_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin Population Stability Index between the two md5-hash
    halves of the doc-length histogram — the standard drift score next
    to drift_bins' chi-square screen; Laplace-smoothed shares close
    over exact BIGINT counts (one ln per bin under the shared nudge)."""
    from featureextraction_spark.operators.drift import psi_bins

    docs = _load(spark, sf_dir, "documents")
    out = psi_bins(docs, value="n_chars", id_col="doc_id", bin_width=50)
    return out.select(
        "bin", "n_a", "n_b", _hround6(F.col("psi_term")).alias("psi_term")
    )


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + marginal entropies + normalized MI of the
    lang × source association — the non-linear feature screen next to
    contingency's chi-square; every term closes over exact cell counts,
    the ≤|A|·|B| term sums ride the shared nudge."""
    from featureextraction_spark.operators.evaluation import mutual_information

    docs = _load(spark, sf_dir, "documents")
    out = mutual_information(docs, "lang", "source")
    return out.select(
        "n",
        "n_cells",
        _hround6(F.col("mi")).alias("mi"),
        _hround6(F.col("h_a")).alias("h_a"),
        _hround6(F.col("h_b")).alias("h_b"),
        _hround6(F.col("nmi")).alias("nmi"),
    )


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum of doc length, en vs non-en — the
    nonparametric location test beside welch/ks; doubled-rank BIGINT
    vehicles exact, the tie-corrected z a fixed float tree over them.
    Global ranks ride the two-phase range-partitioned cumsum (no
    single-partition window)."""
    from featureextraction_spark.operators.cache import (
        release_persisted_intermediates,
    )
    from featureextraction_spark.operators.evaluation import mann_whitney_u

    docs = _load(spark, sf_dir, "documents")
    out = mann_whitney_u(docs, "n_chars", F.col("lang") == "en").select(
        "n1",
        "n2",
        "two_r1",
        "two_u1",
        "tie_sum",
        _hround6(F.col("u1")).alias("u1"),
        _hround6(F.col("z")).alias("z"),
    )
    out = out.localCheckpoint()  # cut the cached-cumsum lineage before release
    release_persisted_intermediates()
    return out


def q_ips_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy IPS/SNIPS evaluation of a deterministic routing rule
    (even users → click, odd → view) on the logged event stream —
    empirical-propensity weights collapse to exact per-action count
    ratios; rewards are integer floor(value)."""
    from featureextraction_spark.operators.evaluation import ips_evaluate

    ev = _load(spark, sf_dir, "events")
    tgt = F.when(
        F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("click")
    ).otherwise(F.lit("view"))
    out = ips_evaluate(
        ev, F.col("event_type"), tgt, F.floor(F.col("value")).cast("long")
    )
    return out.select(
        "action",
        "cnt",
        "matched",
        "matched_r",
        _hround6(F.col("ips_term")).alias("ips_term"),
        _hround6(F.col("snips")).alias("snips"),
    )


def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each language slice's source mix vs
    the corpus mix — the symmetric, smoothing-free drift score beside
    tv_split's TV and psi_bins' PSI; shares are single divisions of
    exact counts, per-slice term sums ride the shared nudge."""
    from featureextraction_spark.operators.drift import js_divergence

    docs = _load(spark, sf_dir, "documents")
    out = js_divergence(docs, "lang", "source")
    return out.select(
        "lang",
        "n_rows",
        _hround6(F.col("js")).alias("js"),
        _hround6(F.col("js_p")).alias("js_p"),
        _hround6(F.col("js_q")).alias("js_q"),
    )


def q_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha: do documents from the same source agree on
    language? Any-raters-per-unit agreement beside kappa's 2-rater
    grid; BIGINT de_num exact, do_sum a bounded per-unit-rational sum
    under the shared nudge."""
    from featureextraction_spark.operators.evaluation import krippendorff_alpha

    docs = _load(spark, sf_dir, "documents")
    out = krippendorff_alpha(docs, "source", "lang")
    return out.select(
        "n",
        "n_units",
        "n_cats",
        "de_num",
        _hround6(F.col("do_sum")).alias("do_sum"),
        _hround6(F.col("alpha")).alias("alpha"),
    )


def q_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced loss weights by effective number of samples (Cui
    et al. CVPR'19) over the language label — exact BIGINT counts, one
    pow per class, the ≤|classes|-term normalizer under the shared
    nudge."""
    from featureextraction_spark.operators.sampling import balance_weights

    docs = _load(spark, sf_dir, "documents")
    out = balance_weights(docs, "lang", beta=0.999)
    return out.select(
        "label",
        "n",
        _hround6(F.col("eff_n")).alias("eff_n"),
        _hround6(F.col("weight")).alias("weight"),
        _hround6(F.col("weight_norm")).alias("weight_norm"),
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize doc length across language slices onto the
    pooled distribution (Bolstad et al. 2003) — ALL-INTEGER: within-
    slice midpoint rank to pooled type-1 order statistic via exact
    BIGINT ceiling division; pooled rank rides the two-phase global
    cumsum."""
    from featureextraction_spark.operators.cache import (
        release_persisted_intermediates,
    )
    from featureextraction_spark.operators.encoding import quantile_normalize

    docs = _load(spark, sf_dir, "documents")
    out = quantile_normalize(docs, "n_chars", "doc_id", "lang").select(
        "slice", "id", "v", "r", "n_slice", "j", "qnorm"
    )
    out = out.localCheckpoint()  # cut the cached-cumsum lineage before release
    release_persisted_intermediates()
    return out


def q_zipf_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus top-100 tokens — the
    natural-language health gauge; top-k via TakeOrderedAndProject, the
    lone partitionless rank over the ≤100-row top table (hygiene-
    allowlisted), OLS moments are ≤k-term sums under the shared nudge."""
    from featureextraction_spark.functions.textstats import zipf_fit

    docs = _load(spark, sf_dir, "documents")
    out = zipf_fit(docs, "text", top_k=100)
    return out.select(
        "k",
        "n_top_tokens",
        "top1_cnt",
        "sum_cnt_topk",
        _hround6(F.col("slope")).alias("slope"),
        _hround6(F.col("intercept")).alias("intercept"),
        _hround6(F.col("r2")).alias("r2"),
    )


def q_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate + Good-Turing coverage per
    language — all-integer frequency-of-frequencies, chao1/coverage are
    single divisions of BIGINTs (bit-exact, no nudge)."""
    from featureextraction_spark.functions.textstats import chao1_richness

    docs = _load(spark, sf_dir, "documents")
    return chao1_richness(docs, "text", "lang").withColumnRenamed(
        "slice", "lang"
    )


def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise language-slice vocabulary Jaccard/overlap — the cross-
    source redundancy map; distinct (slice, token) pass + token-keyed
    pair join, every output a BIGINT or single BIGINT division."""
    from featureextraction_spark.functions.textstats import vocab_overlap
    from featureextraction_spark.operators.cache import (
        release_persisted_intermediates,
    )

    docs = _load(spark, sf_dir, "documents")
    out = vocab_overlap(docs, "text", "lang")
    out = out.localCheckpoint()  # cut the cached-vocab lineage before release
    release_persisted_intermediates()
    return out


def q_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix diversity: unbiased Gini-Simpson (exact
    BIGINT rational), Shannon entropy and Pielou evenness (≤|cats|-term
    ln sums under the shared nudge)."""
    from featureextraction_spark.operators.profiling import diversity_indices

    docs = _load(spark, sf_dir, "documents")
    out = diversity_indices(docs, "source", "lang")
    return out.select(
        F.col("part").alias("source"),
        "n",
        "k",
        "sum_nc2",
        "simpson",
        _hround6(F.col("shannon")).alias("shannon"),
        _hround6(F.col("evenness")).alias("evenness"),
    )


def q_gini_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of byte-mass concentration across documents —
    sorted-formula numerator/denominator as exact BIGINTs via the
    two-phase global cumsum; the closing division is bit-exact."""
    from featureextraction_spark.operators.cache import (
        release_persisted_intermediates,
    )
    from featureextraction_spark.operators.profiling import gini_concentration

    docs = _load(spark, sf_dir, "documents")
    out = gini_concentration(docs, "n_chars", "doc_id")
    out = out.localCheckpoint()  # cut the cached-cumsum lineage before release
    release_persisted_intermediates()
    return out


def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar continuity-corrected paired test between two rule
    classifiers for 'is this document English' (contains ' the ' vs
    contains ' and ') — discordant cells and chi2 numerator exact
    BIGINTs, chi2 a single BIGINT division (bit-exact)."""
    from featureextraction_spark.operators.evaluation import mcnemar_test

    docs = _load(spark, sf_dir, "documents")
    truth = F.col("lang") == F.lit("en")
    lt = F.lower(F.coalesce(F.col("text"), F.lit("")))
    pred_a = F.instr(lt, " the ") > 0
    pred_b = F.instr(lt, " and ") > 0
    return mcnemar_test(docs, pred_a == truth, pred_b == truth)


def q_loo_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against the
    'fulfilled' label — per-row (S−y)/(n−1) with singleton fallback to
    the global LOO prior; all vehicles BIGINT, every encode a single
    division (bit-exact)."""
    from featureextraction_spark.operators.encoding import loo_target_encode

    orders = _load(spark, sf_dir, "orders")
    lab = orders.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderstatus") == F.lit("F")).cast("long").alias("y"),
    )
    return loo_target_encode(lab, "o_orderpriority", "y", "o_orderkey")


def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of document length across languages — exact
    per-group BIGINT moments, ≤k-term SSB/SSW sums under the shared
    nudge."""
    from featureextraction_spark.operators.evaluation import anova_f

    docs = _load(spark, sf_dir, "documents")
    out = anova_f(docs, "lang", "n_chars")
    return out.select(
        "n",
        "k",
        _hround6(F.col("ssb")).alias("ssb"),
        _hround6(F.col("ssw")).alias("ssw"),
        _hround6(F.col("f")).alias("f"),
    )


def q_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between quantity and price bucket over lineitem —
    concordance counted on the bounded contingency cell table, C/D and
    tie margins exact BIGINTs, one closing sqrt."""
    from featureextraction_spark.operators.evaluation import kendall_tau_b

    li = _load(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") / 10000).cast("long").alias(
            "price_bucket"
        ),
    )
    out = kendall_tau_b(pairs, "qty", "price_bucket")
    return out.select(
        "n",
        "conc",
        "disc",
        "n0",
        "n1",
        "n2",
        _hround6(F.col("tau_b")).alias("tau_b"),
    )


def q_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit over (lang, source) classes with the
    length-bucket as the sensitive attribute — all-integer class sizes
    and distinct counts plus the ≥l flag."""
    from featureextraction_spark.operators.curation import l_diversity_audit

    docs = _load(spark, sf_dir, "documents").select(
        "lang",
        "source",
        (F.col("n_chars") / F.lit(100)).cast("long").alias("len_bucket"),
    )
    return l_diversity_audit(docs, ["lang", "source"], "len_bucket", l_min=3)


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (τ=0.7) sampling shares over sources — the
    XLM-R mix flattener; BIGINT counts, one pow per group, normalizer
    under the shared nudge."""
    from featureextraction_spark.operators.curation import temperature_mix

    docs = _load(spark, sf_dir, "documents")
    out = temperature_mix(docs, "source", tau=0.7)
    return out.select(
        F.col("group").alias("source"),
        "n",
        _hround6(F.col("p_sample")).alias("p_sample"),
        _hround6(F.col("p_natural")).alias("p_natural"),
        _hround6(F.col("boost")).alias("boost"),
    )


def q_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of byte-mass inequality across documents — the
    decomposable companion of gini_mass; one aggregate pass, integer
    n/sum vehicles, the ln sum under the shared nudge."""
    from featureextraction_spark.operators.profiling import theil_index

    docs = _load(spark, sf_dir, "documents")
    out = theil_index(docs, "n_chars")
    return out.select(
        "n",
        "n_zero",
        "sum_v",
        _hround6(F.col("sum_xlnx")).alias("sum_xlnx"),
        _hround6(F.col("theil")).alias("theil"),
    )


def q_cochran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across THREE rule classifiers for 'is this document
    English' (contains ' the '/' and '/' of ') — every term an exact
    BIGINT, Q a single BIGINT division (bit-exact)."""
    from featureextraction_spark.operators.evaluation import cochran_q

    docs = _load(spark, sf_dir, "documents")
    truth = F.col("lang") == F.lit("en")
    lt = F.lower(F.coalesce(F.col("text"), F.lit("")))
    flags = [
        (F.instr(lt, w) > 0) == truth
        for w in (" the ", " and ", " of ")
    ]
    return cochran_q(docs, flags)


def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g of document length for every language pair
    — per-group exact BIGINT moments, pair join over the bounded group
    table, one sqrt at close (nudge-rounded)."""
    from featureextraction_spark.operators.evaluation import cohens_d

    docs = _load(spark, sf_dir, "documents")
    out = cohens_d(docs, "lang", "n_chars")
    return out.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "s_a",
        "s_b",
        _hround6(F.col("mean_a")).alias("mean_a"),
        _hround6(F.col("mean_b")).alias("mean_b"),
        _hround6(F.col("d")).alias("d"),
        _hround6(F.col("g")).alias("g"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "lag_lead": q_lag_lead,
        "sessionize": q_sessionize,
        "sessionize_salted": q_sessionize_salted,
        "backfill": q_backfill,
        "backfill_salted": q_backfill_salted,
        "asof_join": q_asof_join,
        "asof_join_salted": q_asof_join_salted,
        "run_length": q_run_length,
        "membership_join": q_membership_join,
        "column_merge": q_column_merge,
        "categorise": q_categorise,
        "pricing_summary": q_pricing_summary,
        "feature_families": q_feature_families,
        "feature_vectors": q_feature_vectors,
        "feature_vectors_oracled": q_feature_vectors_oracled,
        "exact_dedup": q_exact_dedup,
        "dup_ngram_fraction": q_dup_ngram_fraction,
        "hash_split": q_hash_split,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "winnow": q_winnow,
        "text_quality": q_text_quality,
        "repetition": q_repetition,
        "language_id": q_language_id,
        "cosine_topk": q_cosine_topk,
        "ivf_topk_full": q_ivf_topk_full,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_clusters": q_embedding_clusters,
        "embedding_eval": q_embedding_eval,
        "component_gaps": q_component_gaps,
        "components_2d": q_components_2d,
        "triplet_sample": q_triplet_sample,
        "decontaminate": q_decontaminate,
        "domain_mix": q_domain_mix,
        "tfidf_top_terms": q_tfidf_top_terms,
        "group_quantiles": q_group_quantiles,
        "pii_scrub": q_pii_scrub,
        "semdedup": q_semdedup,
        "pack_sequences": q_pack_sequences,
        "pack_segments": q_pack_segments,
        "c4_line_filter": q_c4_line_filter,
        "duplicated_spans": q_duplicated_spans,
        "cut_dup_spans": q_cut_dup_spans,
        "line_dedup": q_line_dedup,
        "unigram_lm": q_unigram_lm,
        "dsir": q_dsir,
        "ngram_repetition": q_ngram_repetition,
        "pq_topk": q_pq_topk,
        "ivfpq_topk_full": q_ivfpq_topk_full,
        "chunk_docs": q_chunk_docs,
        "quota_sample": q_quota_sample,
        "render_conversations": q_render_conversations,
        "quality_clf": q_quality_clf,
        "turn_taking": q_turn_taking,
        "context_truncate": q_context_truncate,
        "bm25_topk": q_bm25_topk,
        "bpe_pairs": q_bpe_pairs,
        "rolling_window": q_rolling_window,
        "target_encode": q_target_encode,
        "transition_latency": q_transition_latency,
        "len_histogram": q_len_histogram,
        "embedding_cov": q_embedding_cov,
        "robust_outliers": q_robust_outliers,
        "conv_summary": q_conv_summary,
        "hashed_features": q_hashed_features,
        "fold_assign": q_fold_assign,
        "standard_scale": q_standard_scale,
        "ewma": q_ewma,
        "vocab_growth": q_vocab_growth,
        "pmi_pairs": q_pmi_pairs,
        "recency": q_recency,
        "expanding_stats": q_expanding_stats,
        "label_windows": q_label_windows,
        "quantile_rank": q_quantile_rank,
        "winsorize": q_winsorize,
        "drift_bins": q_drift_bins,
        "oov_rate": q_oov_rate,
        "cms_counts": q_cms_counts,
        "cms_estimate": q_cms_estimate,
        "hll_registers": q_hll_registers,
        "hll_card": q_hll_card,
        "range_join": q_range_join,
        "scd2_build": q_scd2_build,
        "rollup_counts": q_rollup_counts,
        "pivot_counts": q_pivot_counts,
        "token_ids": q_token_ids,
        "temporal_split": q_temporal_split,
        "label_centroids": q_label_centroids,
        "bloom_words": q_bloom_words,
        "bloom_probe": q_bloom_probe,
        "skew_topk": q_skew_topk,
        "skew_histogram": q_skew_histogram,
        "hist_quantiles": q_hist_quantiles,
        "chi2_terms": q_chi2_terms,
        "rolling_active": q_rolling_active,
        "rolling_active_hll": q_rolling_active_hll,
        "attribution": q_attribution,
        "json_props": q_json_props,
        "top_docs": q_top_docs,
        "vocab_prefix": q_vocab_prefix,
        "negative_sample": q_negative_sample,
        "rfm": q_rfm,
        "zorder": q_zorder,
        "systematic_sample": q_systematic_sample,
        "rolling_moments": q_rolling_moments,
        "triangles": q_triangles,
        "cdc_state": q_cdc_state,
        "table_diff": q_table_diff,
        "roc_auc": q_roc_auc,
        "calibration": q_calibration,
        "ab_test": q_ab_test,
        "scd2_lookup": q_scd2_lookup,
        "profile": q_profile,
        "expectations": q_expectations,
        "phrase_match": q_phrase_match,
        "clustering": q_clustering,
        "bpe_train": q_bpe_train,
        "pit_read": q_pit_read,
        "resample": q_resample,
        "auc_slices": q_auc_slices,
        "gains": q_gains,
        "fingerprint": q_fingerprint,
        "ooo_profile": q_ooo_profile,
        "incremental": q_incremental,
        "assoc_rules": q_assoc_rules,
        "threads": q_threads,
        "ranking_eval": q_ranking_eval,
        "kappa": q_kappa,
        "acf": q_acf,
        "skyline": q_skyline,
        "benford": q_benford,
        "contingency": q_contingency,
        "sorted_blocking": q_sorted_blocking,
        "kanon": q_kanon,
        "bfs": q_bfs,
        "rrf": q_rrf,
        "ks": q_ks,
        "neighbor_agg": q_neighbor_agg,
        "dispersion": q_dispersion,
        "gini_split": q_gini_split,
        "gini_best": q_gini_best,
        "kcore": q_kcore,
        "ri_audit": q_ri_audit,
        "welch": q_welch,
        "corr_matrix": q_corr_matrix,
        "canonical_docs": q_canonical_docs,
        "pagerank": q_pagerank,
        "concurrency": q_concurrency,
        "readability": q_readability,
        "link_pred": q_link_pred,
        "cross_corr": q_cross_corr,
        "ari": q_ari,
        "tv_split": q_tv_split,
        "knn_classify": q_knn_classify,
        "kmv_card": q_kmv_card,
        "join_explode": q_join_explode,
        "ship_priority": q_ship_priority,
        "regional_revenue": q_regional_revenue,
        "cube_counts": q_cube_counts,
        "promo_share": q_promo_share,
        "dist_profile": q_dist_profile,
        "ivm_join": q_ivm_join,
        "idle_customers": q_idle_customers,
        "big_orders": q_big_orders,
        "hard_negatives": q_hard_negatives,
        "neyman_alloc": q_neyman_alloc,
        "neyman_sample": q_neyman_sample,
        "mmr_rerank": q_mmr_rerank,
        "weighted_median": q_weighted_median,
        "ann_recall": q_ann_recall,
        "ivfpq_recall": q_ivfpq_recall,
        "dataset_summary": q_dataset_summary,
        "kmv_setops": q_kmv_setops,
        "parity_audit": q_parity_audit,
        "heavy_hitters": q_heavy_hitters,
        "priority_sample": q_priority_sample,
        "zonemap_audit": q_zonemap_audit,
        "woe_encode": q_woe_encode,
        "bigram_lm": q_bigram_lm,
        "bpe_apply": q_bpe_apply,
        "encoding_advisor": q_encoding_advisor,
        "poisson_boot": q_poisson_boot,
        "tail_index": q_tail_index,
        "compress_ratio": q_compress_ratio,
        "psi_bins": q_psi_bins,
        "mutual_info": q_mutual_info,
        "mann_whitney": q_mann_whitney,
        "ips_eval": q_ips_eval,
        "js_drift": q_js_drift,
        "krippendorff": q_krippendorff,
        "balance_weights": q_balance_weights,
        "quantile_normalize": q_quantile_normalize,
        "zipf_law": q_zipf_law,
        "chao1": q_chao1,
        "vocab_overlap": q_vocab_overlap,
        "diversity": q_diversity,
        "gini_mass": q_gini_mass,
        "mcnemar": q_mcnemar,
        "loo_encode": q_loo_encode,
        "anova": q_anova,
        "kendall": q_kendall,
        "ldiversity": q_ldiversity,
        "temperature_mix": q_temperature_mix,
        "theil": q_theil,
        "cochran": q_cochran,
        "cohens_d": q_cohens_d,
    }


def _round4ag_oracle_sql() -> dict[str, str]:
    """Oracles for the link-prediction / CCF reads."""
    return {
        "link_pred": """
            WITH e AS MATERIALIZED (
                SELECT a.l_partkey AS u, b.l_partkey AS v
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                WHERE a.l_partkey < b.l_partkey
                GROUP BY 1, 2
                HAVING count(DISTINCT a.l_orderkey) >= 2
            ),
            sym AS (
                SELECT u AS z, v AS p FROM e
                UNION ALL
                SELECT v AS z, u AS p FROM e
            ),
            deg AS (
                SELECT p AS node, CAST(count(*) AS BIGINT) AS degree
                FROM sym GROUP BY p
            ),
            w AS (
                SELECT s1.p AS u, s2.p AS v, d.degree AS deg_z
                FROM sym s1
                JOIN sym s2 ON s1.z = s2.z AND s1.p < s2.p
                JOIN deg d ON d.node = s1.z
            ),
            cand AS (
                SELECT u, v, CAST(count(*) AS BIGINT) AS cn,
                       CAST(sum(CAST(1000000000000 AS BIGINT) // deg_z)
                            AS BIGINT) AS ra_q
                FROM w GROUP BY u, v
            ),
            ne AS (
                SELECT c.u, c.v, c.cn, c.ra_q
                FROM cand c LEFT JOIN e ON e.u = c.u AND e.v = c.v
                WHERE e.u IS NULL AND c.cn >= 2
            )
            SELECT ne.u, ne.v, ne.cn,
                   du.degree AS deg_u, dv.degree AS deg_v, ne.ra_q,
                   round(CAST(ne.cn AS DOUBLE)
                         / CAST(du.degree + dv.degree - ne.cn AS DOUBLE)
                         + 1e-9, 6) AS jaccard,
                   round(CAST(ne.ra_q AS DOUBLE)
                         / CAST(1000000000000 AS DOUBLE) + 1e-9, 6) AS ra
            FROM ne
            JOIN deg du ON du.node = ne.u
            JOIN deg dv ON dv.node = ne.v
        """,
        "cross_corr": """
            WITH x AS (
                SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS t,
                       CAST(count(*) AS BIGINT) AS xv
                FROM events WHERE event_type = 'click' GROUP BY 1
            ),
            y AS (
                SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS t,
                       CAST(count(*) AS BIGINT) AS yv
                FROM events WHERE event_type = 'purchase' GROUP BY 1
            ),
            l AS (SELECT CAST(range AS BIGINT) AS lag FROM range(-3, 4)),
            j AS (
                SELECT l.lag, x.xv, y.yv
                FROM x CROSS JOIN l JOIN y ON y.t = x.t + l.lag
            ),
            g AS (
                SELECT lag, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(xv) AS BIGINT) AS sx,
                       CAST(sum(yv) AS BIGINT) AS sy,
                       CAST(sum(xv * yv) AS BIGINT) AS sxy,
                       CAST(sum(xv * xv) AS BIGINT) AS sxx,
                       CAST(sum(yv * yv) AS BIGINT) AS syy
                FROM j GROUP BY lag
            )
            SELECT lag, n,
                   CAST(n * sxy - sx * sy AS BIGINT) AS ccf_num,
                   CAST(n * sxx - sx * sx AS BIGINT) AS dx,
                   CAST(n * syy - sy * sy AS BIGINT) AS dy,
                   CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                        THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                                      * sqrt(CAST(n * syy - sy * sy
                                                  AS DOUBLE))) + 1e-9, 6)
                   END AS ccf
            FROM g
        """,
    }



def _round4ah_oracle_sql() -> dict[str, str]:
    """Oracles for the ARI / TV-drift / kNN-classification reads."""
    dim_vals = ",\n                ".join(
        f"('{w}', '{lang}')"
        for lang, ws in sorted(STOPWORDS.items())
        for w in ws
    )
    td = "(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))"
    ab = "(CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
    ari_num = f"CAST(2 AS DOUBLE) * ({td} * CAST(sij AS DOUBLE) - {ab})"
    ari_den = f"{td} * CAST(sa + sb AS DOUBLE) - CAST(2 AS DOUBLE) * {ab}"
    return {
        "ari": f"""
            WITH dim(word, cand_lang) AS (VALUES
                {dim_vals}
            ),
            toks AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text), {_TOKENS_RE}))
                           AS word
                FROM documents
            ),
            hits AS (
                SELECT doc_id, cand_lang, count(*) AS hits
                FROM toks JOIN dim USING (word) GROUP BY 1, 2
            ),
            best AS (
                SELECT doc_id, cand_lang AS lang_pred
                FROM (SELECT doc_id, cand_lang,
                             row_number() OVER (PARTITION BY doc_id
                                                ORDER BY hits DESC,
                                                         cand_lang) AS rn
                      FROM hits)
                WHERE rn = 1
            ),
            lab AS (
                SELECT d.lang AS a, coalesce(b.lang_pred, 'unknown') AS b
                FROM documents d LEFT JOIN best b USING (doc_id)
            ),
            cells AS (
                SELECT a, b, CAST(count(*) AS BIGINT) AS c
                FROM lab GROUP BY 1, 2
            ),
            s AS (
                SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS sij,
                       CAST(sum(c) AS BIGINT) AS n
                FROM cells
            ),
            rs AS (
                SELECT CAST(sum(r * (r - 1)) AS BIGINT) AS sa
                FROM (SELECT CAST(sum(c) AS BIGINT) AS r
                      FROM cells GROUP BY a)
            ),
            cs AS (
                SELECT CAST(sum(cc * (cc - 1)) AS BIGINT) AS sb
                FROM (SELECT CAST(sum(c) AS BIGINT) AS cc
                      FROM cells GROUP BY b)
            )
            SELECT n, sij, sa, sb,
                   CASE WHEN {ari_den} <> 0
                        THEN round(({ari_num}) / ({ari_den}) + 1e-9, 6)
                   END AS ari
            FROM s, rs, cs
        """,
        "tv_split": """
            WITH s AS (
                SELECT doc_id, source,
                       CASE WHEN u < 0.8 THEN 'train'
                            WHEN u < 0.9 THEN 'valid'
                            ELSE 'test' END AS split
                FROM (SELECT doc_id, source,
                             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                       || ':42'), 1, 15))::BIGINT
                                  AS DOUBLE) / 1152921504606846976.0 AS u
                      FROM documents)
            ),
            cell AS (
                SELECT split, source, CAST(count(*) AS BIGINT) AS npc
                FROM s GROUP BY 1, 2
            ),
            sp AS (SELECT split, CAST(sum(npc) AS BIGINT) AS np
                   FROM cell GROUP BY 1),
            cat AS (SELECT source, CAST(sum(npc) AS BIGINT) AS nc
                    FROM cell GROUP BY 1),
            tot AS (SELECT CAST(sum(npc) AS BIGINT) AS n FROM cell),
            grid AS (
                SELECT sp.split, sp.np, cat.source, cat.nc,
                       coalesce(c.npc, 0) AS npc
                FROM sp CROSS JOIN cat
                LEFT JOIN cell c
                  ON c.split = sp.split AND c.source = cat.source
            )
            SELECT g.split, CAST(max(g.np) AS BIGINT) AS n_rows,
                   CAST(sum(abs(g.npc * t.n - g.nc * g.np)) AS BIGINT)
                       AS tv_num,
                   CAST(2 * max(g.np) * max(t.n) AS BIGINT) AS tv_den,
                   round(CAST(sum(abs(g.npc * t.n - g.nc * g.np)) AS DOUBLE)
                         / CAST(2 * max(g.np) * max(t.n) AS DOUBLE)
                         + 1e-9, 6) AS tv
            FROM grid g CROSS JOIN tot t
            GROUP BY g.split
        """,
        "knn_classify": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label
                FROM embeddings WHERE vec_id < 200
            ),
            c AS (
                SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
                       label AS nb_label
                FROM embeddings
            ),
            scored AS (
                SELECT query_id, neighbor_id, nb_label,
                       round(list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))), 6)
                           AS cosine
                FROM q, c WHERE query_id <> neighbor_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine DESC,
                                                      neighbor_id) AS rank
                FROM scored
            ),
            votes AS (
                SELECT query_id, nb_label,
                       CAST(count(*) AS BIGINT) AS votes
                FROM ranked WHERE rank <= 10 GROUP BY 1, 2
            ),
            pred AS (
                SELECT query_id, nb_label AS pred, votes
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                   ORDER BY votes DESC,
                                                            nb_label) AS rn
                      FROM votes)
                WHERE rn = 1
            )
            SELECT p.query_id, q.label, p.pred, p.votes,
                   CAST(CASE WHEN p.pred = q.label THEN 1 ELSE 0 END
                        AS BIGINT) AS hit
            FROM pred p JOIN q ON q.query_id = p.query_id
        """,
    }



def _round4ai_oracle_sql() -> dict[str, str]:
    """Oracles for the KMV sketch, join-explosion audit, and the two
    TPC-H-shaped warehouse joins (Q3/Q5)."""
    h60 = (
        "('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':0'), 1, 15))"
        "::BIGINT"
    )
    e4 = (
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    )
    return {
        "kmv_card": f"""
            WITH h AS (
                SELECT DISTINCT event_type, {h60} AS h FROM events
            ),
            r AS (
                SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h) AS rn
                FROM h
            ),
            st AS (
                SELECT event_type,
                       CAST(max(rn) AS BIGINT) AS n_kept,
                       CAST(max(h) AS BIGINT) AS kth_hash
                FROM r WHERE rn <= 32 GROUP BY 1
            ),
            ex AS (
                SELECT event_type,
                       CAST(count(DISTINCT user_id) AS BIGINT)
                           AS exact_distinct
                FROM events GROUP BY 1
            )
            SELECT st.event_type, st.n_kept, st.kth_hash,
                   round(CASE WHEN st.n_kept < 32
                              THEN CAST(st.n_kept AS DOUBLE)
                              ELSE CAST(31 AS DOUBLE)
                                   * CAST(1152921504606846976 AS DOUBLE)
                                   / CAST(st.kth_hash AS DOUBLE)
                         END + 1e-9, 6) AS kmv_estimate,
                   ex.exact_distinct
            FROM st JOIN ex USING (event_type)
        """,
        "join_explode": """
            WITH nl AS (
                SELECT user_id AS k, CAST(count(*) AS BIGINT) AS nl
                FROM events WHERE event_type = 'click' GROUP BY 1
            ),
            nr AS (
                SELECT user_id AS k, CAST(count(*) AS BIGINT) AS nr
                FROM events WHERE event_type = 'purchase' GROUP BY 1
            ),
            pk AS (
                SELECT k, nl, nr, CAST(nl * nr AS BIGINT) AS pairs
                FROM nl JOIN nr USING (k)
            ),
            tot AS (
                SELECT CAST(sum(pairs) AS BIGINT) AS total_pairs,
                       CAST(count(*) AS BIGINT) AS matched_keys,
                       CAST(max(pairs) AS BIGINT) AS max_pairs
                FROM pk
            ),
            rk AS (
                SELECT *, CAST(row_number() OVER (ORDER BY pairs DESC, k)
                               AS BIGINT) AS rank
                FROM pk
            )
            SELECT rk.k AS user_id, rk.rank, rk.nl, rk.nr, rk.pairs,
                   t.total_pairs, t.matched_keys, t.max_pairs
            FROM rk CROSS JOIN tot t WHERE rk.rank <= 20
        """,
        "ship_priority": f"""
            WITH j AS (
                SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                       {e4} AS e4
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
                WHERE c.c_mktsegment = 'BUILDING'
                  AND o.o_orderdate < TIMESTAMP '1998-03-15'
                  AND l.l_shipdate > TIMESTAMP '1998-03-15'
            ),
            a AS (
                SELECT l_orderkey, o_orderdate, o_orderpriority,
                       CAST(sum(e4) AS BIGINT) AS rev_e4
                FROM j GROUP BY 1, 2, 3
            )
            SELECT l_orderkey,
                   epoch_us(o_orderdate) AS o_orderdate_us,
                   o_orderpriority, rev_e4,
                   round(CAST(rev_e4 AS DOUBLE) / CAST(10000 AS DOUBLE)
                         + 1e-9, 6) AS revenue
            FROM a ORDER BY rev_e4 DESC, l_orderkey LIMIT 10
        """,
        "regional_revenue": f"""
            SELECT n.n_name,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum({e4}) AS BIGINT) AS rev_e4,
                   round(CAST(sum({e4}) AS DOUBLE) / CAST(10000 AS DOUBLE)
                         + 1e-9, 6) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1
        """,
    }


def _round4aj_oracle_sql() -> dict[str, str]:
    """Oracles for the CUBE coverage matrix, the Q14-shaped promo
    share, and the embedding pairwise-cosine geometry profile."""
    e4 = (
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    )
    return {
        "cube_counts": """
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS sum_v,
                   CAST(grouping(lang) AS BIGINT) AS g1_total,
                   CAST(grouping(source) AS BIGINT) AS g2_total
            FROM documents GROUP BY CUBE(lang, source)
        """,
        "promo_share": f"""
            WITH j AS (
                SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate)
                            AS BIGINT) AS ship_month,
                       {e4} AS e4,
                       p.p_type = 'PROMO' AS promo
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            )
            SELECT ship_month,
                   CAST(coalesce(sum(e4) FILTER (promo), 0) AS BIGINT)
                       AS promo_e4,
                   CAST(sum(e4) AS BIGINT) AS total_e4,
                   round(CAST(100 AS DOUBLE)
                         * CAST(coalesce(sum(e4) FILTER (promo), 0)
                                AS DOUBLE)
                         / CAST(sum(e4) AS DOUBLE) + 1e-9, 6) AS promo_pct
            FROM j GROUP BY 1
        """,
        "dist_profile": """
            WITH s AS (
                SELECT vec_id AS id, embedding::DOUBLE[] AS v
                FROM embeddings
                WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':7'),
                                      1, 15))::BIGINT % 3 = 0
            ),
            pairs AS (
                SELECT CAST(floor(list_dot_product(a.v, b.v)
                                  / (sqrt(list_dot_product(a.v, a.v))
                                     * sqrt(list_dot_product(b.v, b.v)))
                                  * CAST(1000000 AS DOUBLE)
                                  + CAST('0.5' AS DOUBLE)) AS BIGINT) AS q
                FROM s a JOIN s b ON a.id < b.id
            ),
            hist AS (
                SELECT CAST((q + 1000000) // 100000 AS BIGINT) AS bin,
                       CAST(count(*) AS BIGINT) AS n_pairs
                FROM pairs GROUP BY 1
            ),
            tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total_pairs
                    FROM hist)
            SELECT h.bin,
                   CAST(h.bin * 100000 - 1000000 AS BIGINT) AS lo_q6,
                   h.n_pairs, t.total_pairs,
                   round(CAST(h.n_pairs AS DOUBLE)
                         / CAST(t.total_pairs AS DOUBLE) + 1e-9, 6) AS share
            FROM hist h CROSS JOIN tot t
        """,
    }


def _round4ak_oracle_sql() -> dict[str, str]:
    """Oracles for the incremental-join view, idle-customer anti-join,
    and large-volume-order (Q18) reads — all computed FROM SCRATCH, so
    the incremental/filtered Spark plans are externally gated against
    the direct definition."""
    e4 = (
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    )
    return {
        "ivm_join": f"""
            SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                        AS BIGINT) AS order_month,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum({e4}) AS BIGINT) AS rev_e4
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1
        """,
        "idle_customers": f"""
            WITH c AS (
                SELECT c_custkey, c_nationkey,
                       CAST(floor(c_acctbal * CAST(100 AS DOUBLE)
                                  + CAST('0.5' AS DOUBLE)) AS BIGINT)
                           AS cents
                FROM customer
            ),
            tot AS (
                SELECT CAST(sum(cents) AS BIGINT) AS sum_cents,
                       CAST(count(*) AS BIGINT) AS n_pos
                FROM c WHERE cents > 0
            ),
            idle AS (
                SELECT c.c_nationkey, c.cents
                FROM c CROSS JOIN tot t
                WHERE c.cents * t.n_pos > t.sum_cents
                  AND NOT EXISTS (
                      SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '{_IVM_CUTOFF}'
                  )
            )
            SELECT n.n_name,
                   CAST(count(*) AS BIGINT) AS n_idle,
                   CAST(sum(i.cents) AS BIGINT) AS sum_idle_cents
            FROM idle i JOIN nation n ON i.c_nationkey = n.n_nationkey
            GROUP BY 1
        """,
        "big_orders": """
            WITH t AS (
                SELECT l_orderkey AS o_orderkey,
                       CAST(count(*) AS BIGINT) AS n_lines,
                       CAST(sum(CAST(floor(l_quantity
                                           + CAST('0.5' AS DOUBLE))
                                     AS BIGINT)) AS BIGINT) AS total_qty
                FROM lineitem GROUP BY 1
            )
            SELECT o.o_orderkey, o.o_custkey,
                   epoch_us(o.o_orderdate) AS o_orderdate_us,
                   t.n_lines, t.total_qty
            FROM t JOIN orders o USING (o_orderkey)
            WHERE t.total_qty > 150
            ORDER BY t.total_qty DESC, o.o_orderkey LIMIT 20
        """,
    }


def _round4al_oracle_sql() -> dict[str, str]:
    """Oracles for hard-negative mining and Neyman budget allocation."""
    return {
        "hard_negatives": """
            WITH a AS (
                SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av,
                       label AS anchor_label
                FROM embeddings WHERE vec_id < 150
            ),
            c AS (
                SELECT vec_id AS other_id, embedding::DOUBLE[] AS cv,
                       label AS olabel
                FROM embeddings
            ),
            scored AS (
                SELECT anchor_id, anchor_label, other_id,
                       olabel = anchor_label AS same,
                       round(list_dot_product(av, cv)
                             / (sqrt(list_dot_product(av, av))
                                * sqrt(list_dot_product(cv, cv))), 6)
                           AS cosine
                FROM a, c WHERE anchor_id <> other_id
            ),
            best AS (
                SELECT *, row_number() OVER (
                           PARTITION BY anchor_id, same
                           ORDER BY cosine DESC, other_id) AS rn
                FROM scored
            ),
            pos AS (
                SELECT anchor_id, anchor_label, other_id AS pos_id,
                       cosine AS pos_cos
                FROM best WHERE same AND rn = 1
            ),
            neg AS (
                SELECT anchor_id, other_id AS neg_id, cosine AS neg_cos
                FROM best WHERE NOT same AND rn = 1
            )
            SELECT p.anchor_id, p.anchor_label, p.pos_id, p.pos_cos,
                   n.neg_id, n.neg_cos,
                   p.pos_cos - n.neg_cos AS margin,
                   CAST(CASE WHEN p.pos_cos <= n.neg_cos THEN 1 ELSE 0 END
                        AS BIGINT) AS is_violation
            FROM pos p JOIN neg n USING (anchor_id)
        """,
        "neyman_alloc": """
            WITH g AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(n_chars) AS BIGINT) AS sum_x,
                       CAST(sum(n_chars * n_chars) AS BIGINT) AS sum_x2
                FROM documents GROUP BY 1
            ),
            vq AS (
                SELECT *,
                       CAST(CASE WHEN n_rows > 1 THEN
                           (n_rows * sum_x2 - sum_x * sum_x)
                               // (n_rows * (n_rows - 1)) * 10000
                           + ((n_rows * sum_x2 - sum_x * sum_x)
                               % (n_rows * (n_rows - 1))) * 10000
                               // (n_rows * (n_rows - 1))
                       ELSE 0 END AS BIGINT) AS var_q
                FROM g
            ),
            sq AS (
                SELECT *,
                       CAST(CASE
                           WHEN (m + 1) * (m + 1) <= var_q THEN m + 1
                           WHEN m * m > var_q THEN m - 1
                           ELSE m END AS BIGINT) AS sigma_q
                FROM (SELECT *, CAST(floor(sqrt(CAST(var_q AS DOUBLE)))
                                     AS BIGINT) AS m
                      FROM vq)
            ),
            al AS (
                SELECT source, n_rows, var_q, sigma_q,
                       CAST(n_rows * sigma_q AS BIGINT) AS alloc_num
                FROM sq
            ),
            tot AS (SELECT CAST(sum(alloc_num) AS BIGINT) AS total_alloc
                    FROM al)
            SELECT a.source, a.n_rows, a.var_q, a.sigma_q, a.alloc_num,
                   t.total_alloc,
                   CAST(CASE WHEN t.total_alloc > 0
                        THEN 1000 * a.alloc_num // t.total_alloc
                        ELSE 0 END AS BIGINT) AS n_target,
                   CASE WHEN t.total_alloc > 0
                        THEN round(CAST(a.alloc_num AS DOUBLE)
                                   / CAST(t.total_alloc AS DOUBLE)
                                   + 1e-9, 6)
                   END AS share
            FROM al a CROSS JOIN tot t
        """,
        "neyman_sample": """
            WITH g AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(n_chars) AS BIGINT) AS sum_x,
                       CAST(sum(n_chars * n_chars) AS BIGINT) AS sum_x2
                FROM documents GROUP BY 1
            ),
            vq AS (
                SELECT *,
                       CAST(CASE WHEN n_rows > 1 THEN
                           (n_rows * sum_x2 - sum_x * sum_x)
                               // (n_rows * (n_rows - 1)) * 10000
                           + ((n_rows * sum_x2 - sum_x * sum_x)
                               % (n_rows * (n_rows - 1))) * 10000
                               // (n_rows * (n_rows - 1))
                       ELSE 0 END AS BIGINT) AS var_q
                FROM g
            ),
            sq AS (
                SELECT *,
                       CAST(CASE
                           WHEN (m + 1) * (m + 1) <= var_q THEN m + 1
                           WHEN m * m > var_q THEN m - 1
                           ELSE m END AS BIGINT) AS sigma_q
                FROM (SELECT *, CAST(floor(sqrt(CAST(var_q AS DOUBLE)))
                                     AS BIGINT) AS m
                      FROM vq)
            ),
            al AS (
                SELECT source, n_rows,
                       CAST(n_rows * sigma_q AS BIGINT) AS alloc_num
                FROM sq
            ),
            tot AS (SELECT CAST(sum(alloc_num) AS BIGINT) AS total_alloc
                    FROM al),
            quota AS (
                SELECT a.source,
                       CAST(CASE WHEN t.total_alloc > 0
                            THEN 1000 * a.alloc_num // t.total_alloc
                            ELSE 0 END AS BIGINT) AS n_target
                FROM al a CROSS JOIN tot t
            ),
            ranked AS (
                SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
                       CAST(row_number() OVER (
                           PARTITION BY source
                           ORDER BY ('0x' || substr(md5(
                               CAST(doc_id AS VARCHAR) || ':77'), 1, 15)
                               )::BIGINT, doc_id) AS BIGINT) AS draw_rank
                FROM documents
            )
            SELECT r.doc_id, r.source, r.n_chars, r.draw_rank, q.n_target
            FROM ranked r JOIN quota q USING (source)
            WHERE r.draw_rank <= q.n_target
        """,
    }


def _mmr_oracle_sql(k: int = 5, lam_num: int = 7, lam_den: int = 10) -> str:
    """Unrolled greedy-MMR oracle: round 1 is the pure-relevance argmax;
    each later round anti-joins the picked set and argmaxes
    lam_num·rel − (lam_den−lam_num)·maxsim. Generated per round — the
    same static unroll the Spark plan uses."""
    mu = lam_den - lam_num
    head = f"""
        WITH qv AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < 20
        ),
        cv AS (
            SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
            FROM embeddings
        ),
        sc AS (
            SELECT q.query_id, c.doc_id,
                   round(list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v))), 6) AS c6
            FROM qv q JOIN cv c ON q.query_id <> c.doc_id
        ),
        cand AS (
            SELECT query_id, doc_id,
                   CAST(floor(c6 * 1000000.0 + 0.5) AS BIGINT) AS rel_q
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY c6 DESC, doc_id)
                            AS rn
                  FROM sc)
            WHERE rn <= 12
        ),
        sims AS (
            SELECT a.query_id, a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(floor(list_dot_product(va.v, vb.v)
                              / (sqrt(list_dot_product(va.v, va.v))
                                 * sqrt(list_dot_product(vb.v, vb.v)))
                         * 1000000.0 + 0.5) AS BIGINT) AS sim_q
            FROM cand a
            JOIN cand b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
            JOIN cv va ON va.doc_id = a.doc_id
            JOIN cv vb ON vb.doc_id = b.doc_id
        ),
        p1 AS (
            SELECT query_id, doc_id, rel_q,
                   CAST({lam_num} * rel_q AS BIGINT) AS mmr_q,
                   CAST(1 AS BIGINT) AS pick_rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY {lam_num} * rel_q DESC, doc_id) AS rn
                  FROM cand)
            WHERE rn = 1
        )"""
    blocks = [head]
    for i in range(2, k + 1):
        sel_union = " UNION ALL ".join(
            f"SELECT query_id, doc_id FROM p{j}" for j in range(1, i)
        )
        blocks.append(f""",
        s{i} AS ({sel_union}),
        m{i} AS (
            SELECT r.query_id, r.doc_id, r.rel_q,
                   CAST({lam_num} * r.rel_q
                        - {mu} * max(coalesce(sm.sim_q, 0)) AS BIGINT)
                       AS mmr_q
            FROM cand r
            JOIN s{i} sel ON sel.query_id = r.query_id
            LEFT JOIN sims sm ON sm.query_id = r.query_id
                             AND sm.a_id = r.doc_id
                             AND sm.b_id = sel.doc_id
            WHERE NOT EXISTS (SELECT 1 FROM s{i} x
                              WHERE x.query_id = r.query_id
                                AND x.doc_id = r.doc_id)
            GROUP BY 1, 2, 3
        ),
        p{i} AS (
            SELECT query_id, doc_id, rel_q, mmr_q,
                   CAST({i} AS BIGINT) AS pick_rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY mmr_q DESC, doc_id) AS rn
                  FROM m{i})
            WHERE rn = 1
        )""")
    final = " UNION ALL ".join(
        f"SELECT query_id, pick_rank, doc_id, rel_q, mmr_q FROM p{j}"
        for j in range(1, k + 1)
    )
    blocks.append(f"\n        {final}")
    return "".join(blocks)


def _ann_recall_oracle_sql() -> str:
    """Replay the LSH tables in SQL: the hyperplanes are embedded as
    full-precision CAST('<repr>' AS DOUBLE) literals (repr round-trips
    doubles exactly; plain float literals parse as DECIMAL in DuckDB),
    the sign bits quantize the dot to the 1e-6 grid first — the exact
    bucket contract the Spark side uses with quantized=True."""
    from featureextraction_spark.operators.similarity import (
        random_hyperplanes,
    )

    per_table = []
    for t in range(ANN_TABLES):
        planes = random_hyperplanes(ANN_DIM, ANN_PLANES, ANN_SEED + 1000 * t)
        bits = []
        for p, plane in enumerate(planes):
            lst = ", ".join(
                f"CAST('{float(x)!r}' AS DOUBLE)" for x in plane
            )
            bits.append(
                f"CASE WHEN CAST(floor(list_dot_product(v, [{lst}])"
                f" * 1000000.0 + 0.5) AS BIGINT) > 0"
                f" THEN {1 << p} ELSE 0 END"
            )
        per_table.append(
            f"SELECT vec_id, {t} AS tbl, CAST("
            + " + ".join(bits)
            + " AS BIGINT) AS bucket FROM ev"
        )
    bk = "\n            UNION ALL ".join(per_table)
    return f"""
        WITH ev AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        bk AS (
            {bk}
        ),
        qb AS (SELECT * FROM bk WHERE vec_id < {20}),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM qb q JOIN bk c
              ON q.tbl = c.tbl AND q.bucket = c.bucket
             AND q.vec_id <> c.vec_id
        ),
        sc AS (
            SELECT cand.query_id, cand.neighbor_id,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS c6
            FROM cand
            JOIN ev a ON a.vec_id = cand.query_id
            JOIN ev b ON b.vec_id = cand.neighbor_id
        ),
        approx AS (
            SELECT query_id, neighbor_id
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
            WHERE rn <= {ANN_RECALL_K}
        ),
        sc_all AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS c6
            FROM ev a JOIN ev b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < {20}
        ),
        exact AS (
            SELECT query_id, neighbor_id
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY c6 DESC, neighbor_id) AS rn FROM sc_all)
            WHERE rn <= {ANN_RECALL_K}
        ),
        h AS (
            SELECT e.query_id,
                   CAST(count(a.neighbor_id) AS BIGINT) AS hits
            FROM exact e
            LEFT JOIN approx a ON a.query_id = e.query_id
                              AND a.neighbor_id = e.neighbor_id
            GROUP BY 1
        ),
        na AS (
            SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
            FROM approx GROUP BY 1
        )
        SELECT h.query_id, h.hits,
               CAST(coalesce(na.n_approx, 0) AS BIGINT) AS n_approx,
               round(CAST(h.hits AS DOUBLE)
                     / CAST({ANN_RECALL_K} AS DOUBLE) + 1e-9, 6) AS recall
        FROM h LEFT JOIN na ON na.query_id = h.query_id
    """


def _round4am_oracle_sql() -> dict[str, str]:
    """Oracles for the weighted median and the ANN recall gate."""
    return {
        "weighted_median": """
            WITH cells AS (
                SELECT source, CAST(n_chars AS BIGINT) AS v,
                       CAST(sum(n_chars) AS BIGINT) AS w
                FROM documents GROUP BY 1, 2
            ),
            c AS (
                SELECT source, v,
                       CAST(sum(w) OVER (PARTITION BY source ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                       CAST(sum(w) OVER (PARTITION BY source) AS BIGINT)
                           AS w_total
                FROM cells
            )
            SELECT source, v AS w_median, cum AS cum_at_median, w_total
            FROM (SELECT *, row_number() OVER (PARTITION BY source
                      ORDER BY v) AS rn
                  FROM c WHERE 2 * cum >= w_total)
            WHERE rn = 1
        """,
        "ann_recall": _ann_recall_oracle_sql(),
        "dataset_summary": """
            WITH fp AS (
                SELECT md5(lower(trim(regexp_replace(text,
                           '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS f
                FROM documents
            ),
            g AS (SELECT f, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY f),
            d AS (
                SELECT CAST(count(*) AS BIGINT) AS n_unique_texts,
                       CAST(coalesce(sum(n) FILTER (n >= 2), 0) AS BIGINT)
                           AS n_dup_docs
                FROM g
            ),
            b AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_chars) AS BIGINT) AS total_chars,
                       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                       CAST(max(n_chars) AS BIGINT) AS max_chars
                FROM documents
            )
            SELECT b.n_docs, b.total_chars, b.n_langs, b.n_sources,
                   b.max_chars, d.n_unique_texts, d.n_dup_docs,
                   CAST(d.n_dup_docs * 1000000 // b.n_docs AS BIGINT)
                       AS dup_ppm,
                   round(CAST(b.total_chars AS DOUBLE)
                         / CAST(b.n_docs AS DOUBLE) + 1e-9, 6) AS mean_chars
            FROM b CROSS JOIN d
        """,
        "kmv_setops": """
            WITH ca AS (
                SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':0'), 1, 15))::BIGINT AS h FROM events
                WHERE event_type = 'click'
            ),
            cb AS (
                SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':0'), 1, 15))::BIGINT AS h FROM events
                WHERE event_type = 'purchase'
            ),
            sa AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
                                  AS rn FROM ca) WHERE rn <= 64),
            sb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
                                  AS rn FROM cb) WHERE rn <= 64),
            mg AS (
                SELECT h FROM (
                    SELECT h, row_number() OVER (ORDER BY h) AS rn
                    FROM (SELECT h FROM sa UNION SELECT h FROM sb)
                ) WHERE rn <= 64
            ),
            j AS (
                SELECT CAST(count(*) AS BIGINT) AS n_merged,
                       CAST(max(mg.h) AS BIGINT) AS kth_hash,
                       CAST(sum(CASE WHEN sa.h IS NOT NULL
                                      AND sb.h IS NOT NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS matches
                FROM mg
                LEFT JOIN sa ON sa.h = mg.h
                LEFT JOIN sb ON sb.h = mg.h
            ),
            ue AS (
                SELECT *, CASE WHEN n_merged < 64
                               THEN CAST(n_merged AS DOUBLE)
                               ELSE CAST(63 AS DOUBLE)
                                    * CAST(1152921504606846976 AS DOUBLE)
                                    / CAST(kth_hash AS DOUBLE) END AS u_est
                FROM j
            ),
            ex AS (
                SELECT CAST(count(DISTINCT a.user_id) AS BIGINT)
                           AS exact_intersection
                FROM (SELECT DISTINCT user_id FROM events
                      WHERE event_type = 'click') a
                JOIN (SELECT DISTINCT user_id FROM events
                      WHERE event_type = 'purchase') b
                  ON a.user_id = b.user_id
            ),
            exu AS (
                SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_union
                FROM events WHERE event_type IN ('click', 'purchase')
            )
            SELECT u.n_merged, u.kth_hash, u.matches,
                   round(u.u_est + 1e-9, 6) AS union_est,
                   round(CAST(u.matches AS DOUBLE)
                         / CAST(u.n_merged AS DOUBLE) + 1e-9, 6)
                       AS jaccard_est,
                   round(CAST(u.matches AS DOUBLE)
                         / CAST(u.n_merged AS DOUBLE) * u.u_est + 1e-9, 6)
                       AS intersection_est,
                   exu.exact_union, ex.exact_intersection
            FROM ue u CROSS JOIN ex CROSS JOIN exu
        """,
        "parity_audit": """
            WITH s AS (
                SELECT lang, CAST(count(*) AS BIGINT) AS n_s,
                       CAST(sum(n_chars) AS BIGINT) AS sum_s
                FROM documents GROUP BY 1
            ),
            g AS (
                SELECT CAST(sum(n_s) AS BIGINT) AS n_g,
                       CAST(sum(sum_s) AS BIGINT) AS sum_g
                FROM s
            )
            SELECT s.lang, s.n_s, s.sum_s,
                   CAST(CASE WHEN abs(s.sum_s * g.n_g * 100
                                      - g.sum_g * s.n_s * 100)
                              > 10 * g.sum_g * s.n_s
                        THEN 1 ELSE 0 END AS BIGINT) AS breaches_parity,
                   round(CAST(s.sum_s AS DOUBLE) / CAST(s.n_s AS DOUBLE)
                         + 1e-9, 6) AS mean_slice,
                   round(CAST(100 AS DOUBLE)
                         * (CAST(s.sum_s AS DOUBLE) * CAST(g.n_g AS DOUBLE)
                            - CAST(g.sum_g AS DOUBLE) * CAST(s.n_s AS DOUBLE))
                         / (CAST(g.sum_g AS DOUBLE) * CAST(s.n_s AS DOUBLE))
                         + 1e-9, 6) AS gap_pct
            FROM s CROSS JOIN g
        """,
        # deterministic Misra–Gries: exact per-shard counts -> rank/offset
        # compress at k=24 -> order-free sum-then-prune merge (PODS'12) —
        # all-integer, so the error certificate itself is hash-gated
        "heavy_hitters": f"""
            WITH tok AS (
                SELECT doc_id % 8 AS s,
                       unnest(regexp_extract_all(lower(coalesce(text, '')),
                                                 {_TOKENS_RE})) AS item
                FROM documents
            ),
            sc AS (
                SELECT s, item, CAST(count(*) AS BIGINT) AS cnt
                FROM tok GROUP BY s, item
            ),
            r1 AS (
                SELECT s, item, cnt,
                       row_number() OVER (
                           PARTITION BY s ORDER BY cnt DESC, item) AS rn
                FROM sc
            ),
            off1 AS (SELECT s, cnt AS off FROM r1 WHERE rn = 25),
            serr AS (
                SELECT CAST(coalesce(sum(off), 0) AS BIGINT) AS shard_err
                FROM off1
            ),
            ps AS (
                SELECT r1.item, r1.cnt - coalesce(o.off, 0) AS mg
                FROM r1 LEFT JOIN off1 o USING (s)
                WHERE r1.rn <= 24 AND r1.cnt - coalesce(o.off, 0) > 0
            ),
            merged AS (SELECT item, sum(mg) AS cnt FROM ps GROUP BY item),
            r2 AS (
                SELECT item, cnt,
                       row_number() OVER (ORDER BY cnt DESC, item) AS rn
                FROM merged
            ),
            off2 AS (
                SELECT CAST(coalesce(
                           max(CASE WHEN rn = 25 THEN cnt END), 0) AS BIGINT)
                       AS off
                FROM r2
            ),
            fin AS (
                SELECT item, CAST(cnt - off2.off AS BIGINT) AS mg_count
                FROM r2, off2 WHERE rn <= 24 AND cnt - off2.off > 0
            ),
            exact AS (
                SELECT item, CAST(count(*) AS BIGINT) AS exact_count
                FROM tok GROUP BY item
            )
            SELECT fin.item, fin.mg_count,
                   CAST(serr.shard_err + off2.off AS BIGINT) AS err_bound,
                   exact.exact_count
            FROM fin CROSS JOIN serr CROSS JOIN off2
            JOIN exact ON exact.item = fin.item
        """,
        # priority sampling: q = w / u over the portable md5-60-bit hash,
        # top-96, tau = 97th priority, est = max(w, tau) — IEEE core ops
        # only (cast/add/divide/compare), bit-identical cross-engine
        "priority_sample": """
            WITH p AS (
                SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
                       CAST(n_chars AS DOUBLE) /
                       ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                  || ':42'), 1, 15))::BIGINT
                              AS DOUBLE) + 0.5)
                        / 1152921504606846976.0) AS priority
                FROM documents
            ),
            r AS (
                SELECT *, row_number() OVER (
                           ORDER BY priority DESC, doc_id) AS rn
                FROM p
            ),
            tau AS (
                SELECT coalesce(max(CASE WHEN rn = 97 THEN priority END),
                                0.0) AS tau
                FROM r
            )
            SELECT doc_id, weight, CAST(rn AS BIGINT) AS rn,
                   round(priority + 1e-9, 6) AS priority,
                   round(tau.tau + 1e-9, 6) AS tau,
                   round(greatest(CAST(weight AS DOUBLE), tau.tau) + 1e-9, 6)
                       AS est_weight
            FROM r CROSS JOIN tau WHERE rn <= 96
        """,
        # zone-map skipping audit: 512-row zones under natural vs
        # date-sorted layout, yearly o_orderdate range predicates —
        # exact integer counts, comparisons only
        "zonemap_audit": """
            WITH preds(pred, lo, hi) AS (VALUES
                ('y1995', TIMESTAMP '1995-01-01',
                          TIMESTAMP '1995-12-31 23:59:59'),
                ('y1997', TIMESTAMP '1997-01-01',
                          TIMESTAMP '1997-12-31 23:59:59'),
                ('y1999', TIMESTAMP '1999-01-01',
                          TIMESTAMP '1999-12-31 23:59:59'),
                ('y2001', TIMESTAMP '2001-01-01',
                          TIMESTAMP '2001-12-31 23:59:59')),
            nat AS (
                SELECT o_orderkey // 512 AS zone,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       min(o_orderdate) AS vmin, max(o_orderdate) AS vmax
                FROM orders GROUP BY 1
            ),
            rk AS (
                SELECT o_orderdate,
                       row_number() OVER (
                           ORDER BY o_orderdate, o_orderkey) - 1 AS rk
                FROM orders
            ),
            ds AS (
                SELECT rk // 512 AS zone,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       min(o_orderdate) AS vmin, max(o_orderdate) AS vmax
                FROM rk GROUP BY 1
            ),
            m AS (
                SELECT pred,
                       CAST(sum(CASE WHEN o_orderdate BETWEEN lo AND hi
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS rows_matching
                FROM orders CROSS JOIN preds GROUP BY pred
            ),
            audit AS (
                SELECT 'natural' AS layout, pred,
                       CAST(count(*) AS BIGINT) AS zones_total,
                       CAST(sum(CASE WHEN vmin <= hi AND vmax >= lo
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS zones_scanned,
                       CAST(sum(n_rows) AS BIGINT) AS rows_total,
                       CAST(sum(CASE WHEN vmin <= hi AND vmax >= lo
                                     THEN n_rows ELSE 0 END) AS BIGINT)
                           AS rows_scanned
                FROM nat CROSS JOIN preds GROUP BY pred
                UNION ALL
                SELECT 'date_sorted', pred,
                       CAST(count(*) AS BIGINT),
                       CAST(sum(CASE WHEN vmin <= hi AND vmax >= lo
                                     THEN 1 ELSE 0 END) AS BIGINT),
                       CAST(sum(n_rows) AS BIGINT),
                       CAST(sum(CASE WHEN vmin <= hi AND vmax >= lo
                                     THEN n_rows ELSE 0 END) AS BIGINT)
                FROM ds CROSS JOIN preds GROUP BY pred
            )
            SELECT audit.layout, audit.pred, audit.zones_total,
                   audit.zones_scanned, audit.rows_total,
                   audit.rows_scanned, m.rows_matching
            FROM audit JOIN m USING (pred)
        """,
        # WOE/IV with s=0.5: BIGINT (2·pos+1)·neg_tot / (2·neg+1)·pos_tot
        # vehicles; woe/iv take one ln each under the shared nudge
        "woe_encode": """
            WITH c AS (
                SELECT o_orderpriority AS category,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN o_orderstatus = 'F'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS pos
                FROM orders GROUP BY 1
            ),
            c2 AS (SELECT category, n, pos,
                          CAST(n - pos AS BIGINT) AS neg FROM c),
            t AS (SELECT CAST(sum(pos) AS BIGINT) AS pos_tot,
                         CAST(sum(neg) AS BIGINT) AS neg_tot FROM c2)
            SELECT category, n, pos, neg,
                   CAST((2 * pos + 1) * neg_tot AS BIGINT) AS woe_num,
                   CAST((2 * neg + 1) * pos_tot AS BIGINT) AS woe_den,
                   round(ln(CAST((2 * pos + 1) * neg_tot AS DOUBLE)
                            / CAST((2 * neg + 1) * pos_tot AS DOUBLE))
                         + 1e-9, 6) AS woe,
                   round((CAST(pos AS DOUBLE) / CAST(pos_tot AS DOUBLE)
                          - CAST(neg AS DOUBLE) / CAST(neg_tot AS DOUBLE))
                         * ln(CAST((2 * pos + 1) * neg_tot AS DOUBLE)
                              / CAST((2 * neg + 1) * pos_tot AS DOUBLE))
                         + 1e-9, 6) AS iv
            FROM c2 CROSS JOIN t
        """,
        # add-one bigram LM on the doc_id % 10 == 0 slice — BIGINT
        # vehicles only (avg_logprob is pytest-oracled, like unigram_lm)
        "bigram_lm": f"""
            WITH t AS (
                SELECT doc_id,
                       regexp_extract_all(lower(coalesce(text, '')),
                                          {_TOKENS_RE}) AS ts
                FROM documents
            ),
            bg2 AS (
                SELECT doc_id,
                       unnest(ts[1 : len(ts) - 1]) AS a,
                       unnest(ts[2 : len(ts)]) AS b
                FROM t WHERE len(ts) >= 2
            ),
            cab AS (
                SELECT a, b, CAST(count(*) AS BIGINT) AS cab
                FROM bg2 WHERE doc_id % 10 = 0 GROUP BY a, b
            ),
            ca AS (
                SELECT a, CAST(count(*) AS BIGINT) AS ca
                FROM bg2 WHERE doc_id % 10 = 0 GROUP BY a
            ),
            agg AS (
                SELECT bg2.doc_id,
                       CAST(count(*) AS BIGINT) AS n_bigrams,
                       CAST(count(*) FILTER (cab.cab IS NULL) AS BIGINT)
                           AS oov_bigrams,
                       CAST(sum(coalesce(cab.cab, 0) + 1) AS BIGINT)
                           AS blm_num,
                       CAST(sum(coalesce(ca.ca, 0)) AS BIGINT) AS ctx_num
                FROM bg2 LEFT JOIN cab USING (a, b) LEFT JOIN ca USING (a)
                GROUP BY bg2.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CAST(coalesce(agg.oov_bigrams, 0) AS BIGINT)
                       AS oov_bigrams,
                   CAST(coalesce(agg.blm_num, 0) AS BIGINT) AS blm_num,
                   CAST(coalesce(agg.ctx_num, 0) AS BIGINT) AS ctx_num
            FROM documents d LEFT JOIN agg USING (doc_id)
        """,
    }


def oracle_sql() -> dict[str, str]:
    win = "PARTITION BY user_id ORDER BY ts, event_id"
    cum = f"{win} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    base = {
        "lag_lead": f"""
            SELECT user_id, event_id,
                   lag(event_type) OVER ({win}) AS prev_event_type,
                   lead(event_type) OVER ({win}) AS next_event_type,
                   round(value - lag(value) OVER ({win}), 4) AS value_delta
            FROM events
        """,
        "sessionize": f"""
            WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER ({win}) IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER ({win})) > {SESSION_GAP_SECONDS}
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
            ), sess AS (
                SELECT user_id, ts,
                       CAST(sum(new_sess) OVER ({cum}) AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) AS end_us,
                   round(epoch(max(ts)) - epoch(min(ts)), 6) AS duration_sec
            FROM sess GROUP BY user_id, session_id
        """,
        "backfill": f"""
            SELECT user_id, event_id,
                   round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                         OVER ({cum}), 4) AS last_purchase_value
            FROM events
        """,
        "asof_join": """
            WITH clicks AS (
                SELECT user_id, ts, max_by(value, event_id) AS click_value
                FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            ), purch AS (
                SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
            )
            SELECT p.user_id, p.event_id,
                   epoch_us(p.ts) AS ts_us,
                   epoch_us(c.ts) AS matched_ts_us,
                   round(c.click_value, 4) AS click_value
            FROM purch p ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND c.ts <= p.ts
        """,
        "asof_join_salted": """
            WITH clicks AS (
                SELECT user_id, ts, max_by(value, event_id) AS click_value
                FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            ), purch AS (
                SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
            )
            SELECT p.user_id, p.event_id,
                   epoch_us(p.ts) AS ts_us,
                   epoch_us(c.ts) AS matched_ts_us,
                   round(c.click_value, 4) AS click_value
            FROM purch p ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND c.ts <= p.ts
        """,
        "run_length": f"""
            WITH flagged AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN lag(event_type) OVER ({win}) IS DISTINCT FROM event_type
                            THEN 1 ELSE 0 END AS chg
                FROM events
            ), runs AS (
                SELECT user_id, ts, event_type,
                       CAST(sum(chg) OVER ({cum}) AS BIGINT) AS run_id
                FROM flagged
            )
            SELECT user_id, run_id,
                   min(event_type) AS run_value,
                   CAST(count(*) AS BIGINT) AS run_length,
                   epoch_us(min(ts)) AS run_start_us,
                   epoch_us(max(ts)) AS run_end_us
            FROM runs GROUP BY user_id, run_id
        """,
        "membership_join": """
            WITH dim AS (
                SELECT c_custkey,
                       (['train', 'test', 'validation_1', 'validation_2'])[(c_custkey % 4 + 1)::INT] AS type
                FROM customer WHERE c_custkey % 5 <> 0
            )
            SELECT coalesce(dim.type, 'unknown') AS type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(c_acctbal), 4) AS avg_acctbal
            FROM customer LEFT JOIN dim USING (c_custkey)
            GROUP BY 1
        """,
        "column_merge": """
            WITH f1 AS (
                SELECT o_custkey AS c_custkey,
                       CAST(count(*) AS BIGINT) AS n_orders,
                       round(sum(o_totalprice), 2) AS total_spend
                FROM orders GROUP BY o_custkey
            ),
            f2 AS (
                SELECT o_custkey AS c_custkey,
                       CAST(count(*) AS BIGINT) AS n_open_orders
                FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
            )
            SELECT c.c_custkey, round(c.c_acctbal, 2) AS c_acctbal,
                   f1.n_orders, f1.total_spend, f2.n_open_orders
            FROM customer c
            LEFT JOIN f1 USING (c_custkey)
            LEFT JOIN f2 USING (c_custkey)
        """,
        "categorise": """
            WITH keyed AS (
                SELECT doc_id::VARCHAR || '.png' AS filename, doc_id,
                       length(text)::DOUBLE AS n_chars,
                       regexp_replace(doc_id::VARCHAR || '.png', '\\.png$', '') AS line_id
                FROM documents
            ),
            splits AS (
                SELECT doc_id::VARCHAR AS line_id,
                       (['train', 'test', 'validation_1', 'validation_2'])[(doc_id % 4 + 1)::INT] AS type
                FROM documents WHERE doc_id % 5 <> 0
            )
            SELECT k.doc_id, k.line_id,
                   coalesce(s.type, 'unknown') AS type,
                   round(CAST(CAST(k.n_chars AS FLOAT) AS DOUBLE), 2) AS n_chars
            FROM keyed k LEFT JOIN splits s USING (line_id)
            WHERE coalesce(s.type, 'unknown') = 'train'
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
    }
    # the salted physical variants share the plain forms' oracles — the
    # external gate proves the skew strategies compute the same relation
    base["sessionize_salted"] = base["sessionize"]
    base["backfill_salted"] = base["backfill"]
    base["feature_families"] = _feature_families_oracle_sql()
    base["feature_vectors_oracled"] = _feature_vectors_oracle_sql()
    base["components_2d"] = _components_2d_oracle_sql()
    base["triplet_sample"] = """
        WITH v AS (SELECT vec_id, label FROM embeddings),
        r AS (
            SELECT vec_id, label,
                   row_number() OVER (PARTITION BY label ORDER BY
                       ('0x' || substr(md5(vec_id::VARCHAR || ':42'), 1, 15))::BIGINT
                   ) AS rk
            FROM v
        ),
        n AS (SELECT label, count(*) AS cnt FROM v GROUP BY label),
        pairs AS (
            SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                   p.vec_id AS pos_id
            FROM r a
            JOIN n ON n.label = a.label AND n.cnt >= 2
            JOIN generate_series(1, 2) o(o) ON o.o <= least(2, n.cnt - 1)
            JOIN r p ON p.label = a.label
                    AND p.rk = ((a.rk - 1 + o.o) % n.cnt) + 1
        ),
        neg_rank AS (
            SELECT vec_id, label,
                   row_number() OVER (PARTITION BY label ORDER BY
                       ('0x' || substr(md5(vec_id::VARCHAR || ':43'), 1, 15))::BIGINT
                   ) AS rk
            FROM v
        ),
        neg_first AS (SELECT label AS neg_label, vec_id AS neg_id
                      FROM neg_rank WHERE rk = 1),
        labs AS (SELECT DISTINCT label FROM v),
        ring AS (
            SELECT a.label AS anchor_label,
                   coalesce((SELECT min(b.label) FROM labs b WHERE b.label > a.label),
                            (SELECT min(label) FROM labs)) AS neg_label
            FROM labs a
        )
        SELECT p.anchor_id, p.anchor_label, p.pos_id, nf.neg_id, rg.neg_label
        FROM pairs p
        JOIN ring rg USING (anchor_label)
        JOIN neg_first nf USING (neg_label)
        WHERE rg.neg_label <> p.anchor_label
    """
    base.update(_training_ops_oracle_sql())
    base.update(_curation_oracle_sql())
    base.update(_pit_feature_oracle_sql())
    base.update(_sketch_oracle_sql())
    base.update(_analytics_oracle_sql())
    base.update(_warehouse_oracle_sql())
    base.update(_sequential_oracle_sql())
    base.update(_round4m_oracle_sql())
    base.update(_round4n_oracle_sql())
    base.update(_activity_oracle_sql())
    base.update(_round4p_oracle_sql())
    base.update(_round4q_oracle_sql())
    base.update(_round4r_oracle_sql())
    base.update(_round4s_oracle_sql())
    base.update(_round4t_oracle_sql())
    base.update(_round4u_oracle_sql())
    base.update(_round4v_oracle_sql())
    base.update(_round4w_oracle_sql())
    base.update(_round4x_oracle_sql())
    base.update(_round4y_oracle_sql())
    base.update(_round4z_oracle_sql())
    base.update(_round4aa_oracle_sql())
    base.update(_round4ab_oracle_sql())
    base.update(_round4ac_oracle_sql())
    base.update(_round4ad_oracle_sql())
    base.update(_round4ae_oracle_sql())
    base.update(_round4af_oracle_sql())
    base.update(_round4ag_oracle_sql())
    base.update(_round4ah_oracle_sql())
    base.update(_round4ai_oracle_sql())
    base.update(_round4aj_oracle_sql())
    base.update(_round4ak_oracle_sql())
    base.update(_round4al_oracle_sql())
    base["mmr_rerank"] = _mmr_oracle_sql()
    base.update(_round4am_oracle_sql())
    # the keep-one apply step replays dedup_clusters' closure, then ranks
    # members by (n_chars desc, doc_id) inside each cluster
    base["canonical_docs"] = f"""
        WITH comp AS ({base["dedup_clusters"]}),
        whole AS (
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   CAST(coalesce(c.cluster_size, 1) AS BIGINT)
                       AS cluster_size,
                   d.n_chars
            FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
        ),
        r AS (
            SELECT *, row_number() OVER (
                PARTITION BY cluster_id
                ORDER BY n_chars DESC, doc_id) AS rn
            FROM whole
        ),
        canon AS (
            SELECT cluster_id, doc_id AS canon_id FROM r WHERE rn = 1
        )
        SELECT w.doc_id, w.cluster_id, w.cluster_size, c.canon_id,
               CAST(CASE WHEN w.doc_id = c.canon_id THEN 1 ELSE 0 END
                    AS BIGINT) AS is_canon
        FROM whole w JOIN canon c ON c.cluster_id = w.cluster_id
    """
    # columnar-encoding decision stats: lag runs under the (user_id, ts,
    # event_id) sort, IS NOT DISTINCT FROM mirrors eqNullSafe
    base["encoding_advisor"] = """
        WITH l AS (
            SELECT event_type, props,
                   lag(event_type) OVER w AS le,
                   lag(props) OVER w AS lp,
                   row_number() OVER w AS rn
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT 'event_type' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN rn = 1
                             OR NOT (event_type IS NOT DISTINCT FROM le)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
               CAST(coalesce(sum(CASE WHEN event_type IS NOT NULL
                                      THEN length(event_type) END), 0)
                    AS BIGINT) AS data_bytes
        FROM l
        UNION ALL
        SELECT 'props',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(count(DISTINCT props) AS BIGINT),
               CAST(sum(CASE WHEN rn = 1
                             OR NOT (props IS NOT DISTINCT FROM lp)
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN props IS NOT NULL
                                      THEN length(props) END), 0) AS BIGINT)
        FROM l
    """
    base["bpe_apply"] = _bpe_apply_oracle_sql()
    base["poisson_boot"] = _poisson_boot_oracle_sql()
    base["tail_index"] = _tail_index_oracle_sql()
    # compress_ratio: rows-only by nature — DEFLATE output length is a
    # zlib-build property, not SQL semantics (pytest pins the library)
    # full-probe IVF is exhaustive by construction — the exact replay gates it
    base["ivf_topk_full"] = base["cosine_topk"]
    # full-probe IVF-PQ scans every list exactly once == the flat ADC scan
    # with the same codebooks (see q_ivfpq_topk_full docstring)
    base["ivfpq_topk_full"] = base["pq_topk"]
    base["ivfpq_recall"] = _ivfpq_recall_oracle_sql()
    # psi_bins: same md5-60-bit split as drift_bins/hash_split; smoothed
    # shares cleared to integer numerators/denominators, one ln per bin
    base["psi_bins"] = """
        WITH h AS (
            SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 50.0) AS BIGINT)
                       AS bin,
                   CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':42'),
                                             1, 15))::BIGINT % 2 = 0
                        THEN 1 ELSE 0 END AS is_a
            FROM documents
        ),
        bins AS (
            SELECT bin, CAST(sum(is_a) AS BIGINT) AS n_a,
                   CAST(sum(1 - is_a) AS BIGINT) AS n_b
            FROM h GROUP BY bin
        ),
        t AS (
            SELECT CAST(sum(n_a) AS BIGINT) AS na_t,
                   CAST(sum(n_b) AS BIGINT) AS nb_t,
                   CAST(count(*) AS BIGINT) AS k
            FROM bins
        ),
        x AS (
            SELECT bin, n_a, n_b,
                   CAST(2 * n_a + 1 AS DOUBLE)
                       / CAST(2 * na_t + k AS DOUBLE) AS pa,
                   CAST(2 * n_b + 1 AS DOUBLE)
                       / CAST(2 * nb_t + k AS DOUBLE) AS pb
            FROM bins, t
        )
        SELECT bin, n_a, n_b,
               round((pa - pb) * ln(pa / pb) + 1e-9, 6) AS psi_term
        FROM x
    """
    # mutual_info: every term a fixed float tree over exact BIGINT cell /
    # marginal counts; the bounded term sums ride the shared nudge
    base["mutual_info"] = """
        WITH cells AS (
            SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS nab
            FROM documents GROUP BY 1, 2
        ),
        ma AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM cells GROUP BY a),
        mb AS (SELECT b, CAST(sum(nab) AS BIGINT) AS nb FROM cells GROUP BY b),
        t AS (
            SELECT CAST(sum(nab) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_cells
            FROM cells
        ),
        mi AS (
            SELECT sum((CAST(nab AS DOUBLE) / CAST(n AS DOUBLE))
                       * ln(CAST(n AS DOUBLE) * CAST(nab AS DOUBLE)
                            / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))
                       AS mi
            FROM cells JOIN ma USING (a) JOIN mb USING (b), t
        ),
        ha AS (
            SELECT sum(-((CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
                         * ln(CAST(na AS DOUBLE) / CAST(n AS DOUBLE)))) AS h_a
            FROM ma, t
        ),
        hb AS (
            SELECT sum(-((CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                         * ln(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)))) AS h_b
            FROM mb, t
        )
        SELECT n, n_cells,
               round(mi + 1e-9, 6) AS mi,
               round(h_a + 1e-9, 6) AS h_a,
               round(h_b + 1e-9, 6) AS h_b,
               round(CASE WHEN h_a > 0 AND h_b > 0
                          THEN mi / sqrt(h_a * h_b) END + 1e-9, 6) AS nmi
        FROM t, mi, ha, hb
    """
    # mann_whitney: doubled-rank BIGINT vehicles exact; the window cumsum
    # here runs over the DISTINCT-VALUE table (bounded by value domain),
    # mirroring the operator's two-phase range-partitioned cumsum
    base["mann_whitney"] = """
        WITH per AS (
            SELECT CAST(n_chars AS BIGINT) AS v,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS c_a,
                   CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                        AS BIGINT) AS c_b
            FROM documents GROUP BY 1
        ),
        c AS (
            SELECT v, c_a, c_b, c_a + c_b AS c,
                   CAST(coalesce(sum(c_a + c_b) OVER (
                            ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT) AS cum
            FROM per
        ),
        a AS (
            SELECT CAST(sum(c_a) AS BIGINT) AS n1,
                   CAST(sum(c_b) AS BIGINT) AS n2,
                   CAST(sum(c_a * (2 * cum + c + 1)) AS BIGINT) AS two_r1,
                   CAST(sum(c * c * c - c) AS BIGINT) AS tie_sum
            FROM c
        ),
        b AS (
            SELECT n1, n2, two_r1, tie_sum,
                   CAST(2 * n1 * n2 + n1 * (n1 + 1) - two_r1 AS BIGINT)
                       AS two_u1,
                   CAST(n1 + n2 AS DOUBLE) AS n,
                   CAST(n1 AS DOUBLE) AS d1, CAST(n2 AS DOUBLE) AS d2
            FROM a
        ),
        m AS (
            SELECT *,
                   CAST(two_u1 AS DOUBLE) / 2.0 AS u1,
                   d1 * d2 / 2.0 AS mean_u,
                   (d1 * d2 / 12.0)
                       * ((n + 1.0) - CAST(tie_sum AS DOUBLE)
                                      / (n * (n - 1.0))) AS var_u
            FROM b
        )
        SELECT n1, n2, two_r1, two_u1, tie_sum,
               round(u1 + 1e-9, 6) AS u1,
               round(CASE WHEN n1 > 0 AND n2 > 0 AND var_u > 0
                          THEN (u1 - mean_u) / sqrt(var_u) END + 1e-9, 6)
                   AS z
        FROM m
    """
    # ips_eval: empirical-propensity IPS collapses per action to exact
    # count ratios; SNIPS a ratio of two ≤|actions|-term sums
    base["ips_eval"] = """
        WITH per AS (
            SELECT event_type AS action, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(CASE WHEN (CASE WHEN user_id % 2 = 0
                                            THEN 'click' ELSE 'view' END)
                                      = event_type
                                 THEN 1 ELSE 0 END) AS BIGINT) AS matched,
                   CAST(sum(CASE WHEN (CASE WHEN user_id % 2 = 0
                                            THEN 'click' ELSE 'view' END)
                                      = event_type
                                 THEN CAST(floor("value") AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS matched_r
            FROM events GROUP BY 1
        )
        SELECT action, cnt, matched, matched_r,
               round(CAST(matched_r AS DOUBLE) / CAST(cnt AS DOUBLE)
                     + 1e-9, 6) AS ips_term,
               CAST(NULL AS DOUBLE) AS snips
        FROM per
        UNION ALL
        SELECT '__total', CAST(sum(cnt) AS BIGINT),
               CAST(sum(matched) AS BIGINT), CAST(sum(matched_r) AS BIGINT),
               round(sum(CAST(matched_r AS DOUBLE) / CAST(cnt AS DOUBLE))
                     + 1e-9, 6),
               round(CASE WHEN sum(CAST(matched AS DOUBLE)
                                   / CAST(cnt AS DOUBLE)) > 0
                          THEN sum(CAST(matched_r AS DOUBLE)
                                   / CAST(cnt AS DOUBLE))
                               / sum(CAST(matched AS DOUBLE)
                                     / CAST(cnt AS DOUBLE)) END + 1e-9, 6)
        FROM per
    """
    # js_drift: grid from marginal DIM tables exactly as the operator;
    # every share a single division of exact counts, term sums nudged
    base["js_drift"] = """
        WITH cells AS (
            SELECT lang AS p, source AS c, CAST(count(*) AS BIGINT) AS npc
            FROM documents GROUP BY 1, 2
        ),
        sp AS (SELECT p, CAST(sum(npc) AS BIGINT) AS np FROM cells GROUP BY p),
        ct AS (SELECT c, CAST(sum(npc) AS BIGINT) AS nc FROM cells GROUP BY c),
        t AS (SELECT CAST(sum(npc) AS BIGINT) AS n FROM cells),
        grid AS (
            SELECT sp.p, sp.np, ct.c, ct.nc,
                   CAST(coalesce(cells.npc, 0) AS BIGINT) AS npc
            FROM sp CROSS JOIN ct
            LEFT JOIN cells ON cells.p = sp.p AND cells.c = ct.c
        ),
        x AS (
            SELECT p, np,
                   CASE WHEN npc > 0
                        THEN (CAST(npc AS DOUBLE) / CAST(np AS DOUBLE))
                             * ln((CAST(npc AS DOUBLE) / CAST(np AS DOUBLE))
                                  / (((CAST(npc AS DOUBLE)
                                       / CAST(np AS DOUBLE))
                                      + (CAST(nc AS DOUBLE)
                                         / CAST(n AS DOUBLE))) / 2.0))
                        ELSE 0.0 END AS term_p,
                   (CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
                       * ln((CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
                            / (((CAST(npc AS DOUBLE) / CAST(np AS DOUBLE))
                                + (CAST(nc AS DOUBLE)
                                   / CAST(n AS DOUBLE))) / 2.0)) AS term_q
            FROM grid CROSS JOIN t
        ),
        agg AS (
            SELECT p, CAST(max(np) AS BIGINT) AS n_rows,
                   sum(term_p) / 2.0 AS js_p, sum(term_q) / 2.0 AS js_q
            FROM x GROUP BY p
        )
        SELECT p AS lang, n_rows,
               round(js_p + js_q + 1e-9, 6) AS js,
               round(js_p + 1e-9, 6) AS js_p,
               round(js_q + 1e-9, 6) AS js_q
        FROM agg
    """
    # krippendorff: coincidence-matrix nominal alpha; de_num exact BIGINT,
    # do_sum a bounded per-unit-rational sum under the shared nudge
    base["krippendorff"] = """
        WITH cells AS (
            SELECT source AS u, lang AS c, CAST(count(*) AS BIGINT) AS ouc
            FROM documents GROUP BY 1, 2
        ),
        per_u AS (
            SELECT u, CAST(sum(ouc) AS BIGINT) AS nu,
                   CAST(sum(ouc * ouc) AS BIGINT) AS ssq
            FROM cells GROUP BY u HAVING sum(ouc) >= 2
        ),
        pc AS (
            SELECT c, CAST(sum(ouc) AS BIGINT) AS nc
            FROM cells JOIN per_u USING (u) GROUP BY c
        ),
        do_t AS (
            SELECT CAST(sum(nu) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_units,
                   sum(CAST(nu * nu - ssq AS DOUBLE)
                       / CAST(nu - 1 AS DOUBLE)) AS do_sum
            FROM per_u
        ),
        de_t AS (
            SELECT CAST(count(*) AS BIGINT) AS n_cats,
                   CAST(sum(nc * nc) AS BIGINT) AS snc2
            FROM pc
        )
        SELECT n, n_units, n_cats,
               CAST(n * n - snc2 AS BIGINT) AS de_num,
               round(do_sum + 1e-9, 6) AS do_sum,
               round(CASE WHEN n > 1 AND n * n - snc2 > 0
                          THEN 1.0 - CAST(n - 1 AS DOUBLE) * do_sum
                                     / CAST(n * n - snc2 AS DOUBLE)
                     END + 1e-9, 6) AS alpha
        FROM do_t CROSS JOIN de_t
    """
    # balance_weights: one pow per class (libm, nudged); the subtraction
    # 1.0-0.999 forced through DOUBLE so DuckDB can't route it to DECIMAL
    base["balance_weights"] = """
        WITH per AS (
            SELECT lang AS label, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1
        ),
        e AS (
            SELECT label, n,
                   (CAST(1 AS DOUBLE)
                    - pow(CAST(0.999 AS DOUBLE), CAST(n AS DOUBLE)))
                   / (CAST(1 AS DOUBLE) - CAST(0.999 AS DOUBLE)) AS eff_n
            FROM per
        ),
        w AS (SELECT label, n, eff_n, CAST(1 AS DOUBLE) / eff_n AS weight
              FROM e),
        t AS (SELECT sum(weight) AS wsum, CAST(count(*) AS BIGINT) AS k
              FROM w)
        SELECT label, n,
               round(eff_n + 1e-9, 6) AS eff_n,
               round(weight + 1e-9, 6) AS weight,
               round(weight * CAST(k AS DOUBLE) / wsum + 1e-9, 6)
                   AS weight_norm
        FROM w CROSS JOIN t
    """
    # quantile_normalize: ALL-INTEGER — both ranks, the ceiling division
    # and the pooled order statistic are exact BIGINTs on both engines
    base["quantile_normalize"] = """
        WITH base AS (
            SELECT lang AS slice, doc_id AS id, CAST(n_chars AS BIGINT) AS v
            FROM documents
        ),
        ranked AS (
            SELECT slice, id, v,
                   CAST(row_number() OVER (PARTITION BY slice
                                           ORDER BY v, id) AS BIGINT) AS r,
                   CAST(count(*) OVER (PARTITION BY slice) AS BIGINT)
                       AS n_slice
            FROM base
        ),
        pooled AS (
            SELECT CAST(row_number() OVER (ORDER BY v, id) AS BIGINT) AS rk,
                   v AS qnorm
            FROM base
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        withj AS (
            SELECT slice, id, v, r, n_slice,
                   CAST(((2 * r - 1) * n + 2 * n_slice - 1)
                        // (2 * n_slice) AS BIGINT) AS j
            FROM ranked CROSS JOIN t
        )
        SELECT slice, id, v, r, n_slice, j, qnorm
        FROM withj JOIN pooled ON withj.j = pooled.rk
    """
    # zipf_law: same (cnt DESC, token ASC) top-100, OLS closed form in
    # double; ≤k-term moment sums ride the shared nudge
    base["zipf_law"] = """
        WITH tok AS (
            SELECT unnest(regexp_extract_all(
                       lower(coalesce(text, '')),
                       '[^ \\t\\n\\r\\f\\x0B]+')) AS t
            FROM documents
        ),
        cnts AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
                 FROM tok GROUP BY t),
        top AS (SELECT t, cnt FROM cnts ORDER BY cnt DESC, t LIMIT 100),
        ranked AS (
            SELECT cnt,
                   CAST(row_number() OVER (ORDER BY cnt DESC, t) AS BIGINT)
                       AS rank
            FROM top
        ),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(max(CASE WHEN rank = 1 THEN cnt END) AS BIGINT)
                       AS top1_cnt,
                   CAST(sum(cnt) AS BIGINT) AS sum_cnt_topk,
                   sum(ln(CAST(rank AS DOUBLE))) AS sx,
                   sum(ln(CAST(cnt AS DOUBLE))) AS sy,
                   sum(ln(CAST(rank AS DOUBLE))
                       * ln(CAST(rank AS DOUBLE))) AS sxx,
                   sum(ln(CAST(cnt AS DOUBLE))
                       * ln(CAST(cnt AS DOUBLE))) AS syy,
                   sum(ln(CAST(rank AS DOUBLE))
                       * ln(CAST(cnt AS DOUBLE))) AS sxy
            FROM ranked
        )
        SELECT k, k AS n_top_tokens, top1_cnt, sum_cnt_topk,
               round(CASE WHEN k*sxx - sx*sx > 0
                          THEN (k*sxy - sx*sy) / (k*sxx - sx*sx) END
                     + 1e-9, 6) AS slope,
               round((sy - CASE WHEN k*sxx - sx*sx > 0
                                THEN (k*sxy - sx*sy) / (k*sxx - sx*sx)
                           END * sx) / k + 1e-9, 6) AS intercept,
               round(CASE WHEN k*sxx - sx*sx > 0 AND k*syy - sy*sy > 0
                          THEN (k*sxy - sx*sy) * (k*sxy - sx*sy)
                               / ((k*sxx - sx*sx) * (k*syy - sy*sy)) END
                     + 1e-9, 6) AS r2
        FROM m
    """
    # chao1: frequency-of-frequencies; chao1/coverage are single BIGINT
    # divisions — bit-exact, no nudge
    base["chao1"] = """
        WITH tok AS (
            SELECT lang, unnest(regexp_extract_all(
                       lower(coalesce(text, '')),
                       '[^ \\t\\n\\r\\f\\x0B]+')) AS t
            FROM documents
        ),
        cells AS (
            SELECT lang, t, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2
        )
        SELECT lang,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
               CAST(count(*) AS DOUBLE)
                 + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                        AS DOUBLE)
                   / CAST(2 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)
                          AS DOUBLE) AS chao1,
               1.0 - CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(c) AS DOUBLE) AS coverage
        FROM cells GROUP BY lang
    """
    # vocab_overlap: distinct (slice, token) sets; jaccard/overlap are
    # single BIGINT divisions — bit-exact
    base["vocab_overlap"] = """
        WITH vocab AS (
            SELECT DISTINCT lang AS s, unnest(regexp_extract_all(
                       lower(coalesce(text, '')),
                       '[^ \\t\\n\\r\\f\\x0B]+')) AS t
            FROM documents
        ),
        sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS v
                  FROM vocab GROUP BY s),
        inter AS (
            SELECT a.s AS slice_a, b.s AS slice_b,
                   CAST(count(*) AS BIGINT) AS inter
            FROM vocab a JOIN vocab b ON a.t = b.t AND a.s < b.s
            GROUP BY 1, 2
        )
        SELECT slice_a, slice_b,
               sa.v AS v_a, sb.v AS v_b, inter,
               CAST(inter AS DOUBLE)
                   / CAST(sa.v + sb.v - inter AS DOUBLE) AS jaccard,
               CAST(inter AS DOUBLE)
                   / CAST(least(sa.v, sb.v) AS DOUBLE) AS overlap
        FROM inter
        JOIN sizes sa ON sa.s = slice_a
        JOIN sizes sb ON sb.s = slice_b
    """
    # diversity: simpson an exact BIGINT rational; shannon/evenness
    # ≤|cats|-term ln sums under the shared nudge
    base["diversity"] = """
        WITH cells AS (
            SELECT source, lang, CAST(count(*) AS BIGINT) AS nc
            FROM documents GROUP BY 1, 2
        ),
        per AS (
            SELECT source,
                   CAST(sum(nc) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(nc * nc) AS BIGINT) AS sum_nc2,
                   sum(CAST(nc AS DOUBLE) * ln(CAST(nc AS DOUBLE)))
                       AS snln
            FROM cells GROUP BY source
        )
        SELECT source, n, k, sum_nc2,
               CASE WHEN n > 1
                    THEN 1.0 - CAST(sum_nc2 - n AS DOUBLE)
                               / CAST(n * (n - 1) AS DOUBLE) END AS simpson,
               round(ln(CAST(n AS DOUBLE)) - snln / CAST(n AS DOUBLE)
                     + 1e-9, 6) AS shannon,
               round(CASE WHEN k > 1
                          THEN (ln(CAST(n AS DOUBLE))
                                - snln / CAST(n AS DOUBLE))
                               / ln(CAST(k AS DOUBLE)) END
                     + 1e-9, 6) AS evenness
        FROM per
    """
    # gini_mass: sorted-formula numerator exact BIGINT under the same
    # (v, id) total order; closing division bit-exact
    base["gini_mass"] = """
        WITH base AS (
            SELECT CAST(n_chars AS BIGINT) AS v, doc_id AS id
            FROM documents
        ),
        ranked AS (
            SELECT v,
                   CAST(row_number() OVER (ORDER BY v, id) AS BIGINT) AS i
            FROM base
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
        SELECT n,
               CAST(sum(v) AS BIGINT) AS sum_v,
               CAST(sum((2 * i - n - 1) * v) AS BIGINT) AS gini_num,
               CASE WHEN n > 0 AND sum(v) > 0
                    THEN CAST(sum((2 * i - n - 1) * v) AS DOUBLE)
                         / CAST(n * sum(v) AS DOUBLE) END AS gini
        FROM ranked CROSS JOIN t GROUP BY n
    """
    # mcnemar: four conditional counts + continuity-corrected chi2 as a
    # single BIGINT division — bit-exact
    base["mcnemar"] = """
        WITH x AS (
            SELECT (strpos(lower(coalesce(text, '')), ' the ') > 0)
                       = (lang = 'en') AS ca,
                   (strpos(lower(coalesce(text, '')), ' and ') > 0)
                       = (lang = 'en') AS cb
            FROM documents
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END)
                        AS BIGINT) AS n00,
                   CAST(sum(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END)
                        AS BIGINT) AS n01,
                   CAST(sum(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END)
                        AS BIGINT) AS n10,
                   CAST(sum(CASE WHEN ca AND cb THEN 1 ELSE 0 END)
                        AS BIGINT) AS n11
            FROM x
        )
        SELECT n, n00, n01, n10, n11,
               CAST(CASE WHEN abs(n10 - n01) > 0
                         THEN (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)
                         ELSE 0 END AS BIGINT) AS chi2_num,
               CASE WHEN n10 + n01 > 0
                    THEN CAST(CASE WHEN abs(n10 - n01) > 0
                                   THEN (abs(n10 - n01) - 1)
                                        * (abs(n10 - n01) - 1)
                                   ELSE 0 END AS DOUBLE)
                         / CAST(n10 + n01 AS DOUBLE) END AS chi2
        FROM agg
    """
    # loo_encode: every encode a single division of BIGINTs — bit-exact
    base["loo_encode"] = """
        WITH base AS (
            SELECT o_orderkey AS id, o_orderpriority AS cat,
                   CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM orders
        ),
        per AS (
            SELECT cat, CAST(count(*) AS BIGINT) AS n_cat,
                   CAST(sum(y) AS BIGINT) AS sum_y
            FROM base GROUP BY cat
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS s FROM base)
        SELECT id, cat, y, n_cat, sum_y,
               CASE WHEN n_cat > 1
                    THEN CAST(sum_y - y AS DOUBLE)
                         / CAST(n_cat - 1 AS DOUBLE) END AS loo,
               coalesce(
                   CASE WHEN n_cat > 1
                        THEN CAST(sum_y - y AS DOUBLE)
                             / CAST(n_cat - 1 AS DOUBLE) END,
                   CAST(s - y AS DOUBLE) / CAST(n - 1 AS DOUBLE)
               ) AS encoded
        FROM base JOIN per USING (cat) CROSS JOIN t
    """
    # anova: per-group BIGINT moments; ≤k-term SSB/SSW sums nudged
    base["anova"] = """
        WITH per AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS ng,
                   CAST(sum(n_chars) AS BIGINT) AS sg,
                   CAST(sum(n_chars * n_chars) AS BIGINT) AS qg
            FROM documents GROUP BY lang
        ),
        agg AS (
            SELECT CAST(sum(ng) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE)) AS sb,
                   sum(CAST(qg AS DOUBLE)
                       - CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE))
                       AS ssw,
                   CAST(sum(sg) AS BIGINT) AS s
            FROM per
        )
        SELECT n, k,
               round(sb - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)
                     + 1e-9, 6) AS ssb,
               round(ssw + 1e-9, 6) AS ssw,
               round(CASE WHEN k > 1 AND n > k AND ssw > 0
                          THEN ((sb - CAST(s * s AS DOUBLE)
                                      / CAST(n AS DOUBLE))
                                / CAST(k - 1 AS DOUBLE))
                               / (ssw / CAST(n - k AS DOUBLE)) END
                     + 1e-9, 6) AS f
        FROM agg
    """
    # kendall: concordance over the bounded cell table; C/D/margins
    # exact BIGINTs, one closing sqrt
    base["kendall"] = """
        WITH cells AS (
            SELECT CAST(l_quantity AS BIGINT) AS a,
                   CAST(floor(l_extendedprice / 10000) AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS c
            FROM lineitem GROUP BY 1, 2
        ),
        cd AS (
            SELECT CAST(coalesce(sum(CASE WHEN c2.b > c1.b
                                          THEN c1.c * c2.c END), 0)
                        AS BIGINT) AS conc,
                   CAST(coalesce(sum(CASE WHEN c2.b < c1.b
                                          THEN c1.c * c2.c END), 0)
                        AS BIGINT) AS disc
            FROM cells c1 JOIN cells c2 ON c2.a > c1.a
        ),
        ta AS (
            SELECT CAST(sum(t) AS BIGINT) AS n,
                   CAST(sum(t * (t - 1)) AS BIGINT) AS two_n1
            FROM (SELECT sum(c) AS t FROM cells GROUP BY a)
        ),
        tb AS (
            SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS two_n2
            FROM (SELECT sum(c) AS t FROM cells GROUP BY b)
        )
        SELECT n, conc, disc,
               CAST(n * (n - 1) // 2 AS BIGINT) AS n0,
               CAST(two_n1 // 2 AS BIGINT) AS n1,
               CAST(two_n2 // 2 AS BIGINT) AS n2,
               round(CASE WHEN (n * (n - 1) - two_n1) > 0
                           AND (n * (n - 1) - two_n2) > 0
                          THEN 2.0 * CAST(conc - disc AS DOUBLE)
                               / sqrt(CAST(n * (n - 1) - two_n1 AS DOUBLE)
                                      * CAST(n * (n - 1) - two_n2
                                             AS DOUBLE)) END
                     + 1e-9, 6) AS tau_b
        FROM cd CROSS JOIN ta CROSS JOIN tb
    """
    # ldiversity: all-integer class audit (floor-bucket matches Spark's
    # truncating long cast on the non-negative lengths)
    base["ldiversity"] = """
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT CAST(floor(n_chars / 100) AS BIGINT))
                    AS BIGINT) AS l_distinct,
               count(DISTINCT CAST(floor(n_chars / 100) AS BIGINT)) >= 3
                   AS diverse
        FROM documents GROUP BY lang, source
    """
    # temperature_mix: one pow per group, normalizer nudged
    base["temperature_mix"] = """
        WITH per AS (
            SELECT source AS grp, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1
        ),
        w AS (
            SELECT grp, n,
                   pow(CAST(n AS DOUBLE), CAST(0.7 AS DOUBLE)) AS wgt
            FROM per
        ),
        t AS (SELECT sum(wgt) AS wsum, CAST(sum(n) AS BIGINT) AS ntot
              FROM w)
        SELECT grp AS source, n,
               round(wgt / wsum + 1e-9, 6) AS p_sample,
               round(CAST(n AS DOUBLE) / CAST(ntot AS DOUBLE) + 1e-9, 6)
                   AS p_natural,
               round((wgt / wsum)
                     / (CAST(n AS DOUBLE) / CAST(ntot AS DOUBLE))
                     + 1e-9, 6) AS boost
        FROM w CROSS JOIN t
    """
    # theil: one aggregate pass; the ln sum rides the shared nudge
    base["theil"] = """
        WITH agg AS (
            SELECT CAST(sum(CASE WHEN n_chars > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n,
                   CAST(sum(CASE WHEN n_chars <= 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_zero,
                   CAST(sum(CASE WHEN n_chars > 0 THEN n_chars ELSE 0 END)
                        AS BIGINT) AS sum_v,
                   sum(CASE WHEN n_chars > 0
                            THEN CAST(n_chars AS DOUBLE)
                                 * ln(CAST(n_chars AS DOUBLE))
                            ELSE 0.0 END) AS sum_xlnx
            FROM documents
        )
        SELECT n, n_zero, sum_v,
               round(sum_xlnx + 1e-9, 6) AS sum_xlnx,
               round(CASE WHEN n > 0 AND sum_v > 0
                          THEN sum_xlnx / CAST(sum_v AS DOUBLE)
                               - ln(CAST(sum_v AS DOUBLE)
                                    / CAST(n AS DOUBLE)) END
                     + 1e-9, 6) AS theil
        FROM agg
    """
    # cochran: all-BIGINT rational — Q a single division, bit-exact
    base["cochran"] = """
        WITH x AS (
            SELECT CAST((strpos(lower(coalesce(text, '')), ' the ') > 0)
                        = (lang = 'en') AS BIGINT) AS c0,
                   CAST((strpos(lower(coalesce(text, '')), ' and ') > 0)
                        = (lang = 'en') AS BIGINT) AS c1,
                   CAST((strpos(lower(coalesce(text, '')), ' of ') > 0)
                        = (lang = 'en') AS BIGINT) AS c2
            FROM documents
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_units,
                   CAST(sum(c0 + c1 + c2) AS BIGINT) AS n_succ,
                   CAST(sum((c0 + c1 + c2) * (c0 + c1 + c2)) AS BIGINT)
                       AS sum_ri2,
                   CAST(sum(c0) AS BIGINT) AS t0,
                   CAST(sum(c1) AS BIGINT) AS t1,
                   CAST(sum(c2) AS BIGINT) AS t2
            FROM x
        )
        SELECT n_units, CAST(3 AS BIGINT) AS k, n_succ,
               CAST(t0*t0 + t1*t1 + t2*t2 AS BIGINT) AS sum_cj2,
               sum_ri2,
               CAST(2 * (3 * (t0*t0 + t1*t1 + t2*t2) - n_succ * n_succ)
                    AS BIGINT) AS q_num,
               CAST(3 * n_succ - sum_ri2 AS BIGINT) AS q_den,
               CASE WHEN 3 * n_succ - sum_ri2 > 0
                    THEN CAST(2 * (3 * (t0*t0 + t1*t1 + t2*t2)
                                   - n_succ * n_succ) AS DOUBLE)
                         / CAST(3 * n_succ - sum_ri2 AS DOUBLE) END AS q
        FROM agg
    """
    # cohens_d: per-group BIGINT moments; pair join over the bounded
    # group table; one sqrt, nudged
    base["cohens_d"] = """
        WITH per AS (
            SELECT lang AS g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS s,
                   CAST(sum(n_chars * n_chars) AS BIGINT) AS q
            FROM documents GROUP BY 1
        ),
        pairs AS (
            SELECT a.g AS group_a, b.g AS group_b,
                   a.n AS n_a, b.n AS n_b, a.s AS s_a, b.s AS s_b,
                   a.q AS q_a, b.q AS q_b
            FROM per a JOIN per b ON a.g < b.g
        ),
        m AS (
            SELECT *,
                   CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
                   CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
                   ((CAST(q_a AS DOUBLE)
                     - CAST(s_a * s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                    + (CAST(q_b AS DOUBLE)
                       - CAST(s_b * s_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
                   / CAST(n_a + n_b - 2 AS DOUBLE) AS sp2
            FROM pairs
        )
        SELECT group_a, group_b, n_a, n_b, s_a, s_b,
               round(ma + 1e-9, 6) AS mean_a,
               round(mb + 1e-9, 6) AS mean_b,
               round(CASE WHEN n_a + n_b > 2 AND sp2 > 0
                          THEN (ma - mb) / sqrt(sp2) END + 1e-9, 6) AS d,
               round(CASE WHEN n_a + n_b > 2 AND sp2 > 0
                          THEN (ma - mb) / sqrt(sp2)
                               * (1.0 - 3.0 / CAST(4 * (n_a + n_b) - 9
                                                   AS DOUBLE)) END
                     + 1e-9, 6) AS g
        FROM m
    """
    return base


def _bpe_apply_oracle_sql() -> str:
    """Replay the BPE encode in DuckDB: the same literal merge list, the
    same space-wrapped symbol rendering, the same chained literal
    ``replace`` passes (both engines scan non-overlapping occurrences
    left-to-right, and the replacement re-supplies the boundary space,
    so chained pairs come out identical to the trainer fold)."""
    s = "' ' || array_to_string(regexp_extract_all(w, '.'), '  ') || ' '"
    for left, right in BPE_MERGES:
        s = f"replace({s}, ' {left}  {right} ', ' {left}{right} ')"
    return f"""
        WITH words AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(coalesce(text, '')),
                                             {_TOKENS_RE})) AS w
            FROM documents
        ),
        enc AS (
            SELECT doc_id, length(w) AS n_in,
                   len(str_split(trim({s}), '  ')) AS n_out
            FROM words
        ),
        agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n_in) AS BIGINT) AS n_syms_in,
                   CAST(sum(n_out) AS BIGINT) AS n_syms_out
            FROM enc GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(a.n_syms_in, 0) AS BIGINT) AS n_syms_in,
               CAST(coalesce(a.n_syms_out, 0) AS BIGINT) AS n_syms_out,
               CAST(coalesce(a.n_syms_in, 0) - coalesce(a.n_syms_out, 0)
                    AS BIGINT) AS n_merges_applied
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """


def _poisson_boot_oracle_sql() -> str:
    """Replay the deterministic Poisson bootstrap: same portable
    md5-60-bit draw per (doc, replicate), same literal binary64 CDF
    thresholds (CAST('<repr>' AS DOUBLE) so DuckDB's literal parser
    can't route them through DECIMAL)."""
    from featureextraction_spark.operators.evaluation import POISSON1_CDF

    u = (
        "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
        "CAST(replicate AS VARCHAR) || ':7'), 1, 15))::BIGINT AS DOUBLE)"
        " / 1152921504606846976.0)"
    )
    w = " + ".join(
        f"(CASE WHEN {u} >= CAST('{c!r}' AS DOUBLE) THEN 1 ELSE 0 END)"
        for c in POISSON1_CDF
    )
    return f"""
        WITH reps AS (SELECT unnest(range(0, 32)) AS replicate),
        wx AS (
            SELECT r.replicate, ({w}) AS w, d.n_chars
            FROM documents d CROSS JOIN reps r
        )
        SELECT CAST(replicate AS BIGINT) AS replicate,
               CAST(sum(w) AS BIGINT) AS n_eff,
               CAST(sum(w * n_chars) AS BIGINT) AS sum_wx,
               CASE WHEN sum(w) = 0 THEN 0.0
                    ELSE CAST(sum(w * n_chars) AS DOUBLE)
                         / CAST(sum(w) AS DOUBLE) END AS boot_mean
        FROM wx GROUP BY replicate
    """


def _tail_index_oracle_sql() -> str:
    """Replay the quantile-ratio tail index: same type-1 order statistics
    (rank over (value, id)), same binary64 index arithmetic (the p
    literals ride CAST('<repr>' AS DOUBLE) so DuckDB can't route them
    through DECIMAL — ceil(0.9·n) at a representability boundary must
    round the same way on both engines), same two-ln estimate."""
    p_lo, p_hi = 0.90, 0.99
    num = f"ln(CAST('{1.0 - p_lo!r}' AS DOUBLE) / CAST('{1.0 - p_hi!r}' AS DOUBLE))"
    return f"""
        WITH s AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS v
            FROM events GROUP BY user_id
        ),
        r AS (
            SELECT v, row_number() OVER (ORDER BY v, user_id) AS rk,
                   count(*) OVER () AS n
            FROM s
        ),
        p AS (
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(ceil(CAST('{p_lo!r}' AS DOUBLE)
                             * CAST(n AS DOUBLE)) AS BIGINT) AS idx_lo,
                   CAST(ceil(CAST('{p_hi!r}' AS DOUBLE)
                             * CAST(n AS DOUBLE)) AS BIGINT) AS idx_hi
            FROM (SELECT DISTINCT n FROM r)
        ),
        g AS (
            SELECT p.n, p.idx_lo, p.idx_hi,
                   CAST(max(CASE WHEN r.rk = p.idx_lo THEN r.v END)
                        AS BIGINT) AS x_lo,
                   CAST(max(CASE WHEN r.rk = p.idx_hi THEN r.v END)
                        AS BIGINT) AS x_hi
            FROM r CROSS JOIN p
            WHERE r.rk = p.idx_lo OR r.rk = p.idx_hi
            GROUP BY p.n, p.idx_lo, p.idx_hi
        )
        SELECT n, idx_lo, idx_hi, x_lo, x_hi,
               round(CASE WHEN x_hi > x_lo THEN
                          {num} / ln(CAST(x_hi AS DOUBLE)
                                     / CAST(x_lo AS DOUBLE)) END
                     + 1e-9, 6) AS alpha
        FROM g
    """


def _ivfpq_recall_oracle_sql() -> str:
    """Replay PARTIAL-probe IVF-PQ end to end: centroids are the corpus
    vectors with the 8 smallest ids (read from the same parquet — no
    literals needed), assignment = argmax cosine (ties → smallest list),
    probes = top n_probe by (cosine desc, list_id desc) mirroring the
    engine's reverse(array_sort) slice, PQ encode + ADC identical to the
    pq_topk oracle, recall join identical to ann_recall's."""
    nl, np_, nq, k = IVFPQ_N_LISTS, IVFPQ_N_PROBE, IVFPQ_RECALL_NQ, IVFPQ_RECALL_K
    return f"""
        WITH corp AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS list_id, v AS cv FROM corp WHERE vec_id < {nl}
        ),
        asg AS (
            SELECT vec_id, list_id FROM (
                SELECT corp.vec_id, cent.list_id,
                       row_number() OVER (PARTITION BY corp.vec_id
                           ORDER BY list_dot_product(corp.v, cent.cv)
                                    / (sqrt(list_dot_product(corp.v, corp.v))
                                       * sqrt(list_dot_product(cent.cv, cent.cv)))
                                    DESC,
                                cent.list_id ASC) AS rn
                FROM corp, cent
            ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < {nq}),
        probe AS (
            SELECT query_id, list_id FROM (
                SELECT q.query_id, cent.list_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY list_dot_product(q.qv, cent.cv)
                                    / (sqrt(list_dot_product(q.qv, q.qv))
                                       * sqrt(list_dot_product(cent.cv, cent.cv)))
                                    DESC,
                                cent.list_id DESC) AS rn
                FROM q, cent
            ) WHERE rn <= {np_}
        ),
        sub AS (SELECT unnest(generate_series(0, 3)) AS j),
        cbsub AS (
            SELECT j, list_id AS c, cv[j*16+1 : j*16+16] AS ccv FROM cent, sub
        ),
        corpsub AS (
            SELECT vec_id, j, v[j*16+1 : j*16+16] AS sv FROM corp, sub
        ),
        enc AS (
            SELECT vec_id, j, c AS code, ccv FROM (
                SELECT cs.vec_id, cs.j, k.c, k.ccv,
                       row_number() OVER (PARTITION BY cs.vec_id, cs.j
                           ORDER BY list_dot_product(cs.sv, cs.sv)
                                    - 2 * list_dot_product(cs.sv, k.ccv)
                                    + list_dot_product(k.ccv, k.ccv),
                                k.c) AS rn
                FROM corpsub cs JOIN cbsub k USING (j)
            ) WHERE rn = 1
        ),
        qsub AS (
            SELECT query_id, j, qv[j*16+1 : j*16+16] AS qv_sub FROM q, sub
        ),
        cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probe p JOIN asg a USING (list_id)
            WHERE p.query_id <> a.vec_id
        ),
        persub AS (
            SELECT c.query_id, c.neighbor_id, s.j,
                   list_dot_product(s.qv_sub, e.ccv) AS ip
            FROM cand c
            JOIN qsub s ON s.query_id = c.query_id
            JOIN enc e ON e.vec_id = c.neighbor_id AND e.j = s.j
        ),
        piv AS (
            SELECT query_id, neighbor_id,
                   max(CASE WHEN j = 0 THEN ip END) AS ip0,
                   max(CASE WHEN j = 1 THEN ip END) AS ip1,
                   max(CASE WHEN j = 2 THEN ip END) AS ip2,
                   max(CASE WHEN j = 3 THEN ip END) AS ip3
            FROM persub GROUP BY query_id, neighbor_id
        ),
        approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY round(ip0 + ip1 + ip2 + ip3, 6) DESC,
                                    neighbor_id) AS rn
                FROM piv
            ) WHERE rn <= {k}
        ),
        sc_all AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS c6
            FROM corp a JOIN corp b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < {nq}
        ),
        exact AS (
            SELECT query_id, neighbor_id
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY c6 DESC, neighbor_id) AS rn FROM sc_all)
            WHERE rn <= {k}
        ),
        h AS (
            SELECT e.query_id,
                   CAST(count(a.neighbor_id) AS BIGINT) AS hits
            FROM exact e
            LEFT JOIN approx a ON a.query_id = e.query_id
                              AND a.neighbor_id = e.neighbor_id
            GROUP BY 1
        ),
        na AS (
            SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
            FROM approx GROUP BY 1
        )
        SELECT h.query_id, h.hits,
               CAST(coalesce(na.n_approx, 0) AS BIGINT) AS n_approx,
               round(CAST(h.hits AS DOUBLE)
                     / CAST({k} AS DOUBLE) + 1e-9, 6) AS recall
        FROM h LEFT JOIN na ON na.query_id = h.query_id
    """


def _components_2d_oracle_sql() -> str:
    """DuckDB replay of the 2-D components/blobs kernel over the 8×8
    per-user grid: 4-connected components via recursive min-label closure
    (black for components, white for blobs), blob rule = white region of
    area ≥ 3 not touching the border contained in a component's bbox
    (counted once per containing component, the reference's duplicate
    semantics), perimeter = #region cells with a 4-neighbor outside the
    region (off-grid counts as outside — the kernel's zero-padding)."""
    return """
        WITH RECURSIVE base AS (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                   event_type
            FROM events
            QUALIFY rn <= 64
        ),
        users AS (SELECT DISTINCT user_id FROM events),
        cells AS (
            SELECT u.user_id, r.r, c.c, coalesce(b.black, FALSE) AS black
            FROM users u
            CROSS JOIN generate_series(0, 7) r(r)
            CROSS JOIN generate_series(0, 7) c(c)
            LEFT JOIN (
                SELECT user_id,
                       CAST((rn - 1) // 8 AS BIGINT) AS r,
                       CAST((rn - 1) % 8 AS BIGINT) AS c,
                       (event_type <> 'click') AS black
                FROM base
            ) b ON b.user_id = u.user_id AND b.r = r.r AND b.c = c.c
        ),
        bcell AS (SELECT user_id, r, c, r * 8 + c AS id FROM cells WHERE black),
        bedge AS (
            SELECT a.user_id, a.id AS s, b.id AS d
            FROM bcell a JOIN bcell b
              ON a.user_id = b.user_id AND abs(a.r - b.r) + abs(a.c - b.c) = 1
        ),
        breach(user_id, id, rt) AS (
            SELECT user_id, id, id FROM bcell
            UNION
            SELECT e.user_id, e.s, breach.rt
            FROM bedge e JOIN breach
              ON breach.user_id = e.user_id AND breach.id = e.d
        ),
        bcomp AS (SELECT user_id, id, min(rt) AS lbl FROM breach GROUP BY user_id, id),
        bstats AS (
            SELECT k.user_id, k.lbl, count(*) AS area,
                   min(c.c) AS min_x, max(c.c) AS max_x,
                   min(c.r) AS min_y, max(c.r) AS max_y
            FROM bcomp k JOIN bcell c ON c.user_id = k.user_id AND c.id = k.id
            GROUP BY k.user_id, k.lbl
        ),
        comp_agg AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_components,
                   CAST(sum(area) AS BIGINT) AS total_component_area,
                   CAST(max(max_x - min_x + 1) AS BIGINT) AS max_comp_width,
                   CAST(max(max_y - min_y + 1) AS BIGINT) AS max_comp_height
            FROM bstats GROUP BY user_id
        ),
        wcell AS (
            SELECT user_id, r, c, r * 8 + c AS id,
                   (r = 0 OR r = 7 OR c = 0 OR c = 7) AS at_border
            FROM cells WHERE NOT black
        ),
        wedge AS (
            SELECT a.user_id, a.id AS s, b.id AS d
            FROM wcell a JOIN wcell b
              ON a.user_id = b.user_id AND abs(a.r - b.r) + abs(a.c - b.c) = 1
        ),
        wreach(user_id, id, rt) AS (
            SELECT user_id, id, id FROM wcell
            UNION
            SELECT e.user_id, e.s, wreach.rt
            FROM wedge e JOIN wreach
              ON wreach.user_id = e.user_id AND wreach.id = e.d
        ),
        wcomp AS (SELECT user_id, id, min(rt) AS lbl FROM wreach GROUP BY user_id, id),
        wedge_cell AS (
            -- region cell with a 4-neighbor outside the region: off-grid
            -- (at_border) or a black neighbor — adjacent white cells are
            -- always in the SAME white region, so "outside" = black/off-grid
            SELECT w.user_id, w.id,
                   (w.at_border OR EXISTS (
                        SELECT 1 FROM cells n
                        WHERE n.user_id = w.user_id AND n.black
                          AND abs(n.r - w.r) + abs(n.c - w.c) = 1
                   )) AS on_edge
            FROM wcell w
        ),
        wstats AS (
            SELECT k.user_id, k.lbl, count(*) AS area,
                   min(c.c) AS min_x, max(c.c) AS max_x,
                   min(c.r) AS min_y, max(c.r) AS max_y,
                   bool_or(c.at_border) AS touches_border,
                   sum(CASE WHEN p.on_edge THEN 1 ELSE 0 END) AS perimeter
            FROM wcomp k
            JOIN wcell c ON c.user_id = k.user_id AND c.id = k.id
            JOIN wedge_cell p ON p.user_id = k.user_id AND p.id = k.id
            GROUP BY k.user_id, k.lbl
        ),
        blobs AS (
            SELECT w.user_id, w.area, w.perimeter
            FROM wstats w JOIN bstats k ON k.user_id = w.user_id
             AND w.area >= 3 AND NOT w.touches_border
             AND w.min_x >= k.min_x AND w.max_x <= k.max_x
             AND w.min_y >= k.min_y AND w.max_y <= k.max_y
        ),
        blob_agg AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_blobs,
                   CAST(sum(area) AS BIGINT) AS total_blob_area,
                   CAST(sum(perimeter) AS BIGINT) AS total_blob_perimeter
            FROM blobs GROUP BY user_id
        )
        SELECT u.user_id,
               coalesce(ca.n_components, 0) AS n_components,
               coalesce(ca.total_component_area, 0) AS total_component_area,
               coalesce(ca.max_comp_width, 0) AS max_comp_width,
               coalesce(ca.max_comp_height, 0) AS max_comp_height,
               coalesce(ba.n_blobs, 0) AS n_blobs,
               coalesce(ba.total_blob_area, 0) AS total_blob_area,
               coalesce(ba.total_blob_perimeter, 0) AS total_blob_perimeter
        FROM users u
        LEFT JOIN comp_agg ca USING (user_id)
        LEFT JOIN blob_agg ba USING (user_id)
    """


def _feature_families_oracle_sql() -> str:
    """DuckDB replay of the numeric feature families over the first
    ``FEATURE_FAMILY_PREFIX`` events per user (series = text lengths).

    Mirrors ``series_kernels`` exactly: round-half-even idealization in the
    zones SSE grid (numpy's banker rounding ↔ DuckDB ``round_even``), grid
    argmin with (err, ub, lb) first-win ordering, closed-white-run median
    with leading-run drop, clamped-cumsum contour + regr_* OLS with the
    n==1→slope-0 / n<3→no-mse conventions, and the drift-vote angle
    histogram (clip to bins 1..39, score-weighted mean/stdev, first-max
    argmax, 180−degrees mapping at 1 decimal)."""
    k = FEATURE_FAMILY_PREFIX
    return f"""
        WITH base AS (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                   length(coalesce(props, ''))::DOUBLE AS v
            FROM events
            QUALIFY rn <= {k}
        ),
        n AS (SELECT user_id, count(*) AS h, sum(v) AS total FROM base GROUP BY user_id),
        cum AS (
            SELECT user_id, rn AS kk,
                   sum(v)   OVER (PARTITION BY user_id ORDER BY rn) AS s1,
                   sum(v*v) OVER (PARTITION BY user_id ORDER BY rn) AS s2
            FROM base
            UNION ALL
            SELECT user_id, 0, 0.0, 0.0 FROM n
        ),
        grid AS (
            SELECT n.user_id, ub.ub, lb.lb, n.h,
                   round_even(n.total * 0.8, 0) AS mz,
                   round_even(n.total * 0.1, 0) AS ulz
            FROM n
            JOIN generate_series(2, {k} - 1) ub(ub) ON ub.ub <= n.h - 1
            JOIN generate_series(1, {k} - 2) lb(lb) ON lb.lb <= n.h - 2 AND lb.lb < ub.ub
            WHERE n.h >= 3
        ),
        scored AS (
            SELECT g.user_id, g.ub, g.lb, g.h,
                   (cl.s2 - 0.0)
                     - 2 * round_even(g.ulz / g.lb, 0) * (cl.s1 - 0.0)
                     + g.lb * round_even(g.ulz / g.lb, 0) * round_even(g.ulz / g.lb, 0)
                   + (cu.s2 - cl.s2)
                     - 2 * round_even(g.mz / (g.ub - g.lb), 0) * (cu.s1 - cl.s1)
                     + (g.ub - g.lb) * round_even(g.mz / (g.ub - g.lb), 0)
                                     * round_even(g.mz / (g.ub - g.lb), 0)
                   + (ch.s2 - cu.s2)
                     - 2 * round_even(g.ulz / (g.h - g.ub), 0) * (ch.s1 - cu.s1)
                     + (g.h - g.ub) * round_even(g.ulz / (g.h - g.ub), 0)
                                    * round_even(g.ulz / (g.h - g.ub), 0) AS err
            FROM grid g
            JOIN cum cl ON cl.user_id = g.user_id AND cl.kk = g.lb
            JOIN cum cu ON cu.user_id = g.user_id AND cu.kk = g.ub
            JOIN cum ch ON ch.user_id = g.user_id AND ch.kk = g.h
        ),
        zsel AS (
            SELECT user_id,
                   (h - ub) * 1.0 / h AS upper_zone,
                   (ub - lb) * 1.0 / h AS middle_zone,
                   lb * 1.0 / h AS lower_zone,
                   row_number() OVER (PARTITION BY user_id ORDER BY err, ub, lb) AS zrn
            FROM scored
        ),
        mw_base AS (
            SELECT b.user_id, b.rn,
                   b.v < avg(b.v) OVER (PARTITION BY b.user_id) AS white
            FROM base b
        ),
        mw_runs0 AS (
            SELECT user_id, rn, white,
                   CASE WHEN lag(white) OVER (PARTITION BY user_id ORDER BY rn)
                             IS DISTINCT FROM white THEN 1 ELSE 0 END AS chg
            FROM mw_base
        ),
        mw_runs AS (
            SELECT user_id, rn, white,
                   sum(chg) OVER (PARTITION BY user_id ORDER BY rn) AS run_id
            FROM mw_runs0
        ),
        mw_w AS (
            SELECT r.user_id, r.run_id, min(r.rn) AS srn, max(r.rn) AS ern,
                   count(*) AS len, any_value(n.h) AS h
            FROM mw_runs r JOIN n ON n.user_id = r.user_id
            WHERE r.white GROUP BY r.user_id, r.run_id
        ),
        mw AS (
            SELECT user_id, median(len::DOUBLE) AS median_width
            FROM mw_w WHERE ern < h AND srn > 1 GROUP BY user_id
        ),
        lc AS (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY rn) - 1 AS x,
                   v
            FROM base WHERE v > 0
        ),
        lci AS (
            SELECT user_id, x,
                   coalesce(sign(v - lag(v) OVER (PARTITION BY user_id ORDER BY x)), 0)
                     + CASE WHEN x = 0 THEN v ELSE 0 END AS inc
            FROM lc
        ),
        lcraw AS (
            SELECT user_id, x,
                   sum(inc) OVER (PARTITION BY user_id ORDER BY x
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw
            FROM lci
        ),
        lcc AS (
            SELECT user_id, x,
                   raw - least(0, min(raw) OVER (PARTITION BY user_id)) AS c
            FROM lcraw
        ),
        -- exact-integer raw sums (integer contour ⇒ every Σ exact in
        -- float64) make the OLS closed form accumulation-order independent
        -- and bit-identical to series_kernels.ols_fit — same expression
        -- shape: slope = (n·Σxy − ΣxΣy)/(n·Σxx − (Σx)²); the regr_*
        -- streaming-float aggregates this replaces flipped .xxxxxx5
        -- boundaries run-to-run (the CORRECTNESS_r02 feature_families flake)
        ols0 AS (
            SELECT user_id, count(*)::DOUBLE AS n,
                   sum(x::DOUBLE) AS sx, sum(c) AS sy,
                   sum(x::DOUBLE * c) AS sxy,
                   sum(x::DOUBLE * x::DOUBLE) AS sxx,
                   sum(c * c) AS syy
            FROM lcc GROUP BY user_id
        ),
        ols AS (
            SELECT user_id,
                   CASE WHEN n = 1 THEN 0.0
                        WHEN (n * sxx - sx * sx) <> 0
                        THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                   END AS slant,
                   CASE WHEN n > 2 AND (n * sxx - sx * sx) <> 0
                        THEN ((n * syy - sy * sy)
                              - (n * sxy - sx * sy) * (n * sxy - sx * sy)
                                / (n * sxx - sx * sx))
                             / (n * (n - 2))
                   END AS slant_mse
            FROM ols0
        ),
        drift AS (
            SELECT user_id,
                   lead(c, 8) OVER (PARTITION BY user_id ORDER BY x) - c AS d
            FROM lcc
            QUALIFY d IS NOT NULL
        ),
        sbins AS (
            SELECT user_id,
                   CAST(least(greatest(
                       round_even((pi()/2 - atan(d / 8.0)) / (pi()/40), 0), 1), 39) AS INT)
                       AS bin
            FROM drift
        ),
        sscore AS (SELECT user_id, bin, count(*) AS score FROM sbins GROUP BY user_id, bin),
        -- weighted stats over EXACT integer bin sums (S = Σ bin·score,
        -- Q = Σ bin²·score) — same factoring as series_kernels.slantness,
        -- so the doubles match bit-for-bit regardless of aggregation order
        sagg AS (
            SELECT user_id, sum(score) AS sn,
                   sum(bin * score) AS s_sum,
                   sum(bin * bin * score) AS q_sum,
                   (pi()/40 * sum(bin * score)) / sum(score) AS wmean
            FROM sscore GROUP BY user_id
        ),
        sstd AS (
            SELECT user_id,
                   sqrt(greatest(((pi()/40) * (pi()/40))
                                 * (q_sum - s_sum * s_sum * 1.0 / sn), 0.0)
                        / (sn - 1)) AS stdev_rad
            FROM sagg WHERE sn > 1
        ),
        smax AS (
            SELECT user_id, bin FROM (
                SELECT user_id, bin,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY score DESC, bin) AS r
                FROM sscore) WHERE r = 1
        )
        SELECT n.user_id,
               CAST(n.h AS BIGINT) AS n_points,
               round(z.upper_zone + 1e-9, 6) AS upper_zone,
               round(z.middle_zone + 1e-9, 6) AS middle_zone,
               round(z.lower_zone + 1e-9, 6) AS lower_zone,
               round(mw.median_width + 1e-9, 6) AS median_width,
               round(o.slant + 1e-9, 6) AS slant,
               round(o.slant_mse + 1e-9, 6) AS slant_mse,
               round(180 - degrees(coalesce(x.bin, 1) * pi()/40), 1) AS slant_max_angle,
               coalesce(round_even(180 - degrees(a.wmean), 1), 0.0) AS slant_avg_angle,
               CASE WHEN a.sn > 1 THEN round_even(degrees(t.stdev_rad), 1)
                    ELSE 0.0 END AS slant_stdev_angle
        FROM n
        LEFT JOIN (SELECT * FROM zsel WHERE zrn = 1) z USING (user_id)
        LEFT JOIN mw USING (user_id)
        LEFT JOIN ols o USING (user_id)
        LEFT JOIN sagg a USING (user_id)
        LEFT JOIN sstd t USING (user_id)
        LEFT JOIN smax x USING (user_id)
    """


def _pp_contour_sql(p: str, vcol: str) -> str:
    """Per-(conv_id, probe_ts) contour-family CTE fragment over the prefix
    series column ``vcol`` of ``ser`` — emits ``{p}c`` (contour), ``{p}n``,
    ``{p}ols``, ``{p}freq``, ``{p}slavg``. Mirrors ``series_kernels``
    (characteristic_contour / ols_fit / local_extremes / local_slopes):
    every sum is over exact integers, and the float expression shapes match
    the kernels op-for-op, so the doubles agree bit-for-bit (see
    ``ols_fit``'s docstring for why that kills rounding-boundary flakes).
    """
    P = "PARTITION BY conv_id, probe_ts"
    cum = f"{P} ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return f"""
        {p}s AS (
            SELECT conv_id, probe_ts,
                   row_number() OVER ({P} ORDER BY rn) - 1 AS x,
                   {vcol} AS v
            FROM ser WHERE {vcol} > 0
        ),
        {p}inc AS (
            SELECT conv_id, probe_ts, x,
                   coalesce(sign(v - lag(v) OVER ({P} ORDER BY x)), 0)
                     + CASE WHEN x = 0 THEN v ELSE 0 END AS inc
            FROM {p}s
        ),
        {p}raw AS (
            SELECT conv_id, probe_ts, x, sum(inc) OVER ({cum}) AS raw
            FROM {p}inc
        ),
        {p}c AS (
            SELECT conv_id, probe_ts, x,
                   raw - least(0, min(raw) OVER ({P})) AS c
            FROM {p}raw
        ),
        {p}n AS (SELECT conv_id, probe_ts, count(*) AS n FROM {p}c GROUP BY 1, 2),
        {p}ols0 AS (
            SELECT conv_id, probe_ts, count(*)::DOUBLE AS n,
                   sum(x::DOUBLE) AS sx, sum(c) AS sy,
                   sum(x::DOUBLE * c) AS sxy,
                   sum(x::DOUBLE * x::DOUBLE) AS sxx,
                   sum(c * c) AS syy
            FROM {p}c GROUP BY 1, 2
        ),
        {p}ols AS (
            SELECT conv_id, probe_ts,
                   CASE WHEN n = 1 THEN 0.0
                        WHEN (n * sxx - sx * sx) <> 0
                        THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                   END AS slant,
                   CASE WHEN n > 2 AND (n * sxx - sx * sx) <> 0
                        THEN ((n * syy - sy * sy)
                              - (n * sxy - sx * sy) * (n * sxy - sx * sy)
                                / (n * sxx - sx * sx))
                             / (n * (n - 2))
                   END AS slant_mse
            FROM {p}ols0
        ),
        -- P(j)/Q(j) prefix sums (kk = number of leading contour points):
        -- the O(1)-per-extreme seg_slope substrate (series_kernels
        -- local_slopes); zero row so segments starting at 0 resolve
        {p}cum AS (
            SELECT conv_id, probe_ts, x + 1 AS kk,
                   sum(c) OVER ({cum}) AS ps,
                   sum(x::DOUBLE * c) OVER ({cum}) AS qs
            FROM {p}c
            UNION ALL
            SELECT conv_id, probe_ts, 0, 0.0, 0.0 FROM {p}n
        ),
        -- local extremes: c >=(<=) every value within 10 on each EXISTING
        -- side (missing-side windows are empty -> forced true, matching
        -- the kernel's pad semantics), then plateau dedup keeps only the
        -- first index of each consecutive-extreme run
        {p}ext0 AS (
            SELECT conv_id, probe_ts, x, c, n,
                   max(c) OVER wl AS lmax, max(c) OVER wr AS rmax,
                   min(c) OVER wl AS lmin, min(c) OVER wr AS rmin
            FROM {p}c JOIN {p}n USING (conv_id, probe_ts)
            WINDOW wl AS ({P} ORDER BY x ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING),
                   wr AS ({P} ORDER BY x ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING)
        ),
        {p}ext1 AS (
            SELECT conv_id, probe_ts, x, n,
                   ((x = 0 OR c >= lmax) AND (x = n - 1 OR c >= rmax)) AS is_max,
                   ((x = 0 OR c <= lmin) AND (x = n - 1 OR c <= rmin)) AS is_min
            FROM {p}ext0
        ),
        {p}ext AS (
            SELECT conv_id, probe_ts, x, n,
                   is_max AND NOT coalesce(
                       lag(is_max) OVER ({P} ORDER BY x), false) AS keep_max,
                   is_min AND NOT coalesce(
                       lag(is_min) OVER ({P} ORDER BY x), false) AS keep_min
            FROM {p}ext1
        ),
        {p}freq AS (
            SELECT conv_id, probe_ts,
                   sum(CASE WHEN keep_max THEN 1 ELSE 0 END) * 1.0 / any_value(n)
                       AS local_max_freq,
                   sum(CASE WHEN keep_min THEN 1 ELSE 0 END) * 1.0 / any_value(n)
                       AS local_min_freq
            FROM {p}ext GROUP BY 1, 2
        ),
        {p}segs AS (
            SELECT e.conv_id, e.probe_ts, e.keep_max, e.keep_min, s.side,
                   CASE WHEN s.side = 'l' THEN greatest(e.x - 10, 0)
                        ELSE e.x + 1 END AS a,
                   CASE WHEN s.side = 'l' THEN e.x
                        ELSE least(e.n, e.x + 1 + 10) END AS b
            FROM {p}ext e
            JOIN (SELECT 'l' AS side UNION ALL SELECT 'r') s ON TRUE
            WHERE (e.keep_max OR e.keep_min)
              AND ((s.side = 'l' AND e.x > 0) OR (s.side = 'r' AND e.x < e.n - 1))
        ),
        -- seg_slope: sy = P(b)-P(a); sxy_raw = (Q(b)-Q(a)) - a*sy;
        -- slope = (sxy_raw - (m-1)/2 * sy) / (m*(m^2-1)/12) — identical
        -- float op order to the kernel; m == 1 -> 0.0
        {p}slopes AS (
            SELECT g.conv_id, g.probe_ts, g.keep_max, g.keep_min, g.side,
                   CASE WHEN g.b - g.a = 1 THEN 0.0
                        ELSE (((cb.qs - ca.qs) - g.a * (cb.ps - ca.ps))
                              - ((g.b - g.a - 1) / 2.0) * (cb.ps - ca.ps))
                             / ((g.b - g.a) * ((g.b - g.a) * (g.b - g.a) - 1) / 12.0)
                   END AS slope
            FROM {p}segs g
            JOIN {p}cum ca ON ca.conv_id = g.conv_id
                          AND ca.probe_ts = g.probe_ts AND ca.kk = g.a
            JOIN {p}cum cb ON cb.conv_id = g.conv_id
                          AND cb.probe_ts = g.probe_ts AND cb.kk = g.b
        ),
        {p}slavg AS (
            SELECT conv_id, probe_ts,
                   avg(CASE WHEN keep_max AND side = 'l' THEN slope END) AS max_l,
                   avg(CASE WHEN keep_max AND side = 'r' THEN slope END) AS max_r,
                   avg(CASE WHEN keep_min AND side = 'l' THEN slope END) AS min_l,
                   avg(CASE WHEN keep_min AND side = 'r' THEN slope END) AS min_r
            FROM {p}slopes GROUP BY 1, 2
        )"""


def _feature_vectors_oracle_sql() -> str:
    """Full 30-column DuckDB replay of ``q_feature_vectors_oracled``: the
    point-in-time vector at each (user, probe) where probes sit at fixed
    turn ordinals (``FV_PROBE_RNS`` — one prefix under the 64-bin zones
    cap, one over it, so both histogram paths are exercised).

    Per probe: k = count of events at ts <= probe_ts (the kernel's
    searchsorted contract, tie-inclusive); the relational half reads the
    per-turn running state at rn = k; the numeric half re-evaluates every
    family over the rn <= k prefix — zones grid argmin (with the
    (64*rn-1)//k binning inverse of the kernel's cumsum-edge histogram),
    closed-white-run median, and the two contour families via
    ``_pp_contour_sql``.
    """
    rns = ", ".join(str(r) for r in FV_PROBE_RNS)
    lc = _pp_contour_sql("lc_", "vc")
    uc = _pp_contour_sql("uc_", "vt")
    return f"""
        WITH ev AS (
            SELECT user_id::VARCHAR AS conv_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                   ts, event_type AS role,
                   CASE WHEN event_type = 'error' THEN event_type END AS tool,
                   length(coalesce(props, ''))::DOUBLE AS vc,
                   length(regexp_extract_all(coalesce(props, ''), {_TOKENS_RE}))::DOUBLE AS vt
            FROM events
        ),
        probes AS (
            SELECT DISTINCT conv_id, ts AS probe_ts FROM ev WHERE rn IN ({rns})
        ),
        pk AS (
            SELECT p.conv_id, p.probe_ts, CAST(count(*) AS BIGINT) AS k
            FROM probes p
            JOIN ev e ON e.conv_id = p.conv_id AND e.ts <= p.probe_ts
            GROUP BY 1, 2
        ),
        st0 AS (
            SELECT conv_id, rn, ts, role,
                   lag(ts)   OVER (PARTITION BY conv_id ORDER BY rn) AS prev_ts,
                   lag(role) OVER (PARTITION BY conv_id ORDER BY rn) AS prev_role,
                   last_value(tool IGNORE NULLS)
                       OVER (PARTITION BY conv_id ORDER BY rn
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS last_tool
            FROM ev
        ),
        st AS (
            SELECT conv_id, rn, prev_role, last_tool,
                   CAST(sum(CASE WHEN prev_ts IS NULL
                                      OR epoch(ts) - epoch(prev_ts) > {SESSION_GAP_SECONDS}
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY conv_id ORDER BY rn
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_id,
                   CAST(sum(CASE WHEN prev_role IS NOT NULL AND role <> prev_role
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY conv_id ORDER BY rn
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS role_transitions
            FROM st0
        ),
        ser AS (
            SELECT p.conv_id, p.probe_ts, p.k, e.rn, e.vc, e.vt
            FROM pk p JOIN ev e ON e.conv_id = p.conv_id AND e.rn <= p.k
        ),
        ztot AS (
            SELECT conv_id, probe_ts, k, CAST(least(k, 64) AS BIGINT) AS h,
                   sum(vc) AS total
            FROM ser GROUP BY 1, 2, 3
        ),
        zhist AS (
            SELECT conv_id, probe_ts,
                   CASE WHEN k <= 64 THEN rn - 1
                        ELSE (64 * rn - 1) // k END AS bin,
                   sum(vc) AS hv
            FROM ser GROUP BY 1, 2, 3
        ),
        zcum AS (
            SELECT conv_id, probe_ts, bin + 1 AS kk,
                   sum(hv)      OVER (PARTITION BY conv_id, probe_ts ORDER BY bin) AS s1,
                   sum(hv * hv) OVER (PARTITION BY conv_id, probe_ts ORDER BY bin) AS s2
            FROM zhist
            UNION ALL
            SELECT conv_id, probe_ts, 0, 0.0, 0.0 FROM ztot
        ),
        zgrid AS (
            SELECT t.conv_id, t.probe_ts, t.h, ub.ub, lb.lb,
                   round_even(t.total * 0.8, 0) AS mz,
                   round_even(t.total * 0.1, 0) AS ulz
            FROM ztot t
            JOIN generate_series(2, 63) ub(ub) ON ub.ub <= t.h - 1
            JOIN generate_series(1, 62) lb(lb) ON lb.lb <= t.h - 2 AND lb.lb < ub.ub
            WHERE t.h >= 3
        ),
        zscored AS (
            SELECT g.conv_id, g.probe_ts, g.h, g.ub, g.lb,
                   (cl.s2 - 0.0)
                     - 2 * round_even(g.ulz / g.lb, 0) * (cl.s1 - 0.0)
                     + g.lb * round_even(g.ulz / g.lb, 0) * round_even(g.ulz / g.lb, 0)
                   + (cu.s2 - cl.s2)
                     - 2 * round_even(g.mz / (g.ub - g.lb), 0) * (cu.s1 - cl.s1)
                     + (g.ub - g.lb) * round_even(g.mz / (g.ub - g.lb), 0)
                                     * round_even(g.mz / (g.ub - g.lb), 0)
                   + (ch.s2 - cu.s2)
                     - 2 * round_even(g.ulz / (g.h - g.ub), 0) * (ch.s1 - cu.s1)
                     + (g.h - g.ub) * round_even(g.ulz / (g.h - g.ub), 0)
                                    * round_even(g.ulz / (g.h - g.ub), 0) AS err
            FROM zgrid g
            JOIN zcum cl ON cl.conv_id = g.conv_id AND cl.probe_ts = g.probe_ts
                        AND cl.kk = g.lb
            JOIN zcum cu ON cu.conv_id = g.conv_id AND cu.probe_ts = g.probe_ts
                        AND cu.kk = g.ub
            JOIN zcum ch ON ch.conv_id = g.conv_id AND ch.probe_ts = g.probe_ts
                        AND ch.kk = g.h
        ),
        zsel AS (
            SELECT conv_id, probe_ts,
                   (h - ub) * 1.0 / h AS upper_zone,
                   (ub - lb) * 1.0 / h AS middle_zone,
                   lb * 1.0 / h AS lower_zone,
                   row_number() OVER (PARTITION BY conv_id, probe_ts
                                      ORDER BY err, ub, lb) AS zrn
            FROM zscored
        ),
        mwb AS (
            SELECT s.conv_id, s.probe_ts, s.rn, t.k,
                   s.vc < (t.total / t.k) AS white
            FROM ser s JOIN ztot t USING (conv_id, probe_ts)
        ),
        mwr0 AS (
            SELECT conv_id, probe_ts, rn, k, white,
                   CASE WHEN lag(white) OVER (PARTITION BY conv_id, probe_ts ORDER BY rn)
                             IS DISTINCT FROM white THEN 1 ELSE 0 END AS chg
            FROM mwb
        ),
        mwr AS (
            SELECT conv_id, probe_ts, rn, k, white,
                   sum(chg) OVER (PARTITION BY conv_id, probe_ts ORDER BY rn) AS run_id
            FROM mwr0
        ),
        mww AS (
            SELECT conv_id, probe_ts, run_id, min(rn) AS srn, max(rn) AS ern,
                   count(*) AS len, any_value(k) AS k
            FROM mwr WHERE white GROUP BY 1, 2, 3
        ),
        mw AS (
            SELECT conv_id, probe_ts, median(len::DOUBLE) AS median_width
            FROM mww WHERE ern < k AND srn > 1 GROUP BY 1, 2
        ),
        {lc},
        {uc},
        sdrift AS (
            SELECT conv_id, probe_ts,
                   lead(c, 8) OVER (PARTITION BY conv_id, probe_ts ORDER BY x) - c AS d
            FROM lc_c
            QUALIFY d IS NOT NULL
        ),
        sbins AS (
            SELECT conv_id, probe_ts,
                   CAST(least(greatest(
                       round_even((pi()/2 - atan(d / 8.0)) / (pi()/40), 0), 1), 39)
                       AS INT) AS bin
            FROM sdrift
        ),
        sscore AS (
            SELECT conv_id, probe_ts, bin, count(*) AS score
            FROM sbins GROUP BY 1, 2, 3
        ),
        sagg AS (
            SELECT conv_id, probe_ts, sum(score) AS sn,
                   sum(bin * score) AS s_sum,
                   sum(bin * bin * score) AS q_sum,
                   (pi()/40 * sum(bin * score)) / sum(score) AS wmean
            FROM sscore GROUP BY 1, 2
        ),
        sstd AS (
            SELECT conv_id, probe_ts,
                   sqrt(greatest(((pi()/40) * (pi()/40))
                                 * (q_sum - s_sum * s_sum * 1.0 / sn), 0.0)
                        / (sn - 1)) AS stdev_rad
            FROM sagg WHERE sn > 1
        ),
        smax AS (
            SELECT conv_id, probe_ts, bin FROM (
                SELECT conv_id, probe_ts, bin,
                       row_number() OVER (PARTITION BY conv_id, probe_ts
                                          ORDER BY score DESC, bin) AS r
                FROM sscore) WHERE r = 1
        )
        SELECT k.conv_id, k.probe_ts AS ts,
               st.session_id,
               k.k AS turn_count,
               round(z.upper_zone + 1e-9, 6) AS upper_zone,
               round(z.middle_zone + 1e-9, 6) AS middle_zone,
               round(z.lower_zone + 1e-9, 6) AS lower_zone,
               round(mw.median_width + 1e-9, 6) AS median_width,
               round(lco.slant + 1e-9, 6) AS lc_slant,
               round(lco.slant_mse + 1e-9, 6) AS lc_slant_mse,
               round(lcf.local_max_freq + 1e-9, 6) AS lc_local_max_freq,
               round(lcf.local_min_freq + 1e-9, 6) AS lc_local_min_freq,
               round(lcs.max_l + 1e-9, 6) AS lc_max_slopes_left_avg,
               round(lcs.max_r + 1e-9, 6) AS lc_max_slopes_right_avg,
               round(lcs.min_l + 1e-9, 6) AS lc_min_slopes_left_avg,
               round(lcs.min_r + 1e-9, 6) AS lc_min_slopes_right_avg,
               round(uco.slant + 1e-9, 6) AS uc_slant,
               round(uco.slant_mse + 1e-9, 6) AS uc_slant_mse,
               round(ucf.local_max_freq + 1e-9, 6) AS uc_local_max_freq,
               round(ucf.local_min_freq + 1e-9, 6) AS uc_local_min_freq,
               round(ucs.max_l + 1e-9, 6) AS uc_max_slopes_left_avg,
               round(ucs.max_r + 1e-9, 6) AS uc_max_slopes_right_avg,
               round(ucs.min_l + 1e-9, 6) AS uc_min_slopes_left_avg,
               round(ucs.min_r + 1e-9, 6) AS uc_min_slopes_right_avg,
               round(180 - degrees(coalesce(x.bin, 1) * pi()/40), 1)
                   AS slantness_max_angle,
               coalesce(round_even(180 - degrees(a.wmean), 1), 0.0)
                   AS slantness_avg_angle,
               CASE WHEN a.sn > 1 THEN round_even(degrees(t.stdev_rad), 1)
                    ELSE 0.0 END AS slantness_stdev_angle,
               st.prev_role, st.last_tool, st.role_transitions
        FROM pk k
        LEFT JOIN st ON st.conv_id = k.conv_id AND st.rn = k.k
        LEFT JOIN (SELECT * FROM zsel WHERE zrn = 1) z
               ON z.conv_id = k.conv_id AND z.probe_ts = k.probe_ts
        LEFT JOIN mw ON mw.conv_id = k.conv_id AND mw.probe_ts = k.probe_ts
        LEFT JOIN lc_ols lco ON lco.conv_id = k.conv_id AND lco.probe_ts = k.probe_ts
        LEFT JOIN lc_freq lcf ON lcf.conv_id = k.conv_id AND lcf.probe_ts = k.probe_ts
        LEFT JOIN lc_slavg lcs ON lcs.conv_id = k.conv_id AND lcs.probe_ts = k.probe_ts
        LEFT JOIN uc_ols uco ON uco.conv_id = k.conv_id AND uco.probe_ts = k.probe_ts
        LEFT JOIN uc_freq ucf ON ucf.conv_id = k.conv_id AND ucf.probe_ts = k.probe_ts
        LEFT JOIN uc_slavg ucs ON ucs.conv_id = k.conv_id AND ucs.probe_ts = k.probe_ts
        LEFT JOIN sagg a ON a.conv_id = k.conv_id AND a.probe_ts = k.probe_ts
        LEFT JOIN sstd t ON t.conv_id = k.conv_id AND t.probe_ts = k.probe_ts
        LEFT JOIN smax x ON x.conv_id = k.conv_id AND x.probe_ts = k.probe_ts
    """


# Shingle/CTE fragments shared by the dedup oracles (DuckDB SQL mirrors of
# the engine's md5-based hashing — same shingles, same 60-bit ints).
_SHINGLES_CTE = """
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(length(text) - 3, 1)),
                                     i -> substr(text, CAST(i AS INT), 5))) AS shingle
        FROM documents
    )
"""

_NORM_FP = (
    "md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))))"
)

_TOKENS_RE = "'[^ \\t\\n\\r\\f\\x0B]+'"


def _training_ops_oracle_sql() -> dict[str, str]:
    jaccard_tail = """
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT s1.doc_id AS a_id, s2.doc_id AS b_id, count(*) AS inter
            FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
            GROUP BY 1, 2
        ),
        jac AS (
            SELECT i.a_id, i.b_id,
                   i.inter * 1.0 / (sa.sz + sb.sz - i.inter) AS j
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.a_id
            JOIN sizes sb ON sb.doc_id = i.b_id
        )
    """
    return {
        "exact_dedup": f"""
            WITH fp AS (SELECT doc_id, {_NORM_FP} AS fp FROM documents),
            g AS (
                SELECT fp, min(doc_id) AS canonical_id,
                       CAST(count(*) AS BIGINT) AS group_size
                FROM fp GROUP BY fp
            )
            SELECT doc_id, canonical_id, group_size FROM fp JOIN g USING (fp)
        """,
        # duplicated token-3-gram positions: pre-aggregate per (doc, ngram)
        # then count cross-doc frequency — mirrors the Spark plan 1:1
        "dup_ngram_fraction": f"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_extract_all(lower(text), {_TOKENS_RE}) AS t
                FROM documents
            ),
            pos AS (
                SELECT doc_id, array_to_string(t[gs.g : gs.g + 2], ' ') AS ngram
                FROM toks,
                     LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS g) gs
                WHERE len(t) >= 3
            ),
            pc AS (SELECT doc_id, ngram, count(*) AS c FROM pos GROUP BY 1, 2),
            dfs AS (
                SELECT ngram, CAST(count(*) AS BIGINT) AS doc_freq
                FROM pc GROUP BY 1
            ),
            per AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
                       CAST(sum(CASE WHEN doc_freq >= 2 THEN c ELSE 0 END)
                            AS BIGINT) AS dup_ngrams
                FROM pc JOIN dfs USING (ngram) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n_ngrams, 0) AS n_ngrams,
                   coalesce(dup_ngrams, 0) AS dup_ngrams,
                   CASE WHEN coalesce(n_ngrams, 0) > 0
                        THEN CAST(dup_ngrams AS DOUBLE)
                             / CAST(n_ngrams AS DOUBLE)
                   END AS dup_fraction
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        # the same 60-bit md5 contract as triplet_sample; u and the split
        # boundaries are bit-identical across engines
        "hash_split": """
            SELECT doc_id, lang,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'),
                                        1, 15))::BIGINT AS DOUBLE)
                   / 1152921504606846976.0 AS u,
                   CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'valid'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "ngram_jaccard": f"""
            WITH {_SHINGLES_CTE}, {jaccard_tail}
            SELECT a_id, b_id, round(j, 6) AS jaccard FROM jac WHERE j >= 0.35
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_SHINGLES_CTE}, {jaccard_tail},
            p AS (SELECT a_id, b_id FROM jac WHERE j >= 0.35),
            edges AS (
                SELECT a_id AS s, b_id AS d FROM p
                UNION SELECT b_id, a_id FROM p
            ),
            reach(id, r) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM edges)
                UNION
                SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d
            ),
            comp AS (
                SELECT id AS doc_id, min(r) AS cluster_id
                FROM reach GROUP BY id
            ),
            csizes AS (
                SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                FROM comp GROUP BY cluster_id
            )
            SELECT c.doc_id, c.cluster_id, s.cluster_size
            FROM comp c JOIN csizes s USING (cluster_id)
        """,
        "minhash_lsh": f"""
            WITH params(j, a, b) AS (VALUES
                (0, 115035935697945975, 674275249238291099),
                (1, 1746160192766458308, 2305361401337648524),
                (2, 1109404145462838028, 387564876114173011),
                (3, 1248136719032404104, 2257890358122772182),
                (4, 837067134859653683, 926269904983897502),
                (5, 35416416452029508, 1651275739402163847),
                (6, 437280460428983106, 1412093496604018558),
                (7, 95085323526065444, 1454892436956687093),
                (8, 1196775716967772469, 1984314634404057294),
                (9, 677134093886762132, 1425219166038823029),
                (10, 2035319666083227912, 246861162382095276),
                (11, 2024583054614721461, 2302621066200141676),
                (12, 35707335790686316, 667843638086838477),
                (13, 356271795713749914, 662226775059325844),
                (14, 1192619207990348208, 965022004471074359),
                (15, 969544923857207679, 181427777310272510),
                (16, 1278587416034902997, 132028736477834133),
                (17, 808742140545217448, 1903816584131245406),
                (18, 1058186744613030803, 169402902345360991),
                (19, 1827517303840958578, 1990331124336684436),
                (20, 2204513768930797955, 694086767469237391),
                (21, 1396417405208214721, 619946275622122395),
                (22, 1263085732098372271, 1845236894267212498),
                (23, 202909002485302789, 1907215864949886947),
                (24, 1333338969941991615, 1691988866811523135),
                (25, 35960654143928406, 543311795083456254),
                (26, 790834522750872393, 1162502206227556310),
                (27, 2276485498741641550, 745249373419209431),
                (28, 2170589547710066092, 497149638300256457),
                (29, 2305486347709487251, 1566334103845811457),
                (30, 943206923159112265, 2086874550578970813),
                (31, 2090133534638550042, 1973441529582041928)
            ),
            {_SHINGLES_CTE},
            hashed AS (
                SELECT DISTINCT doc_id,
                       ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
                FROM sh
            ),
            sig AS (
                SELECT doc_id, j,
                       min(CAST((a::HUGEINT * h::HUGEINT + b::HUGEINT)
                                % 2305843009213693951 AS BIGINT)) AS mh
                FROM hashed CROSS JOIN params GROUP BY doc_id, j
            ),
            banded AS (
                SELECT doc_id, j // 2 AS band, list(mh ORDER BY j) AS sl
                FROM sig GROUP BY doc_id, j // 2
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM banded a
                JOIN banded b ON a.band = b.band AND a.sl = b.sl
                             AND a.doc_id < b.doc_id
            ),
            {jaccard_tail}
            SELECT c.a_id, c.b_id, round(j.j, 6) AS jaccard
            FROM cand c JOIN jac j ON c.a_id = j.a_id AND c.b_id = j.b_id
            WHERE j.j >= 0.4
        """,
        "simhash": f"""
            WITH {_SHINGLES_CTE},
            hashed AS (
                SELECT DISTINCT doc_id,
                       ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
                FROM sh
            ),
            bits AS (
                SELECT doc_id, k,
                       sum(CASE WHEN (h // (1::BIGINT << CAST(k AS INT))) % 2 = 1
                                THEN 1 ELSE -1 END) AS v
                FROM hashed, generate_series(0, 59) t(k)
                GROUP BY doc_id, k
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(k AS INT))
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        """,
        "winnow": """
            WITH lists AS (
                SELECT doc_id,
                       list_transform(range(1, greatest(length(text) - 3, 1)),
                           i -> ('0x' || substr(md5(substr(text, CAST(i AS INT), 5)), 1, 15))::BIGINT
                       ) AS hs
                FROM documents
            ),
            wins AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(hs) - 2, 1)),
                           i -> list_min(list_slice(hs, CAST(i AS INT), CAST(i + 3 AS INT)))
                       )) AS fingerprint
                FROM lists WHERE len(hs) >= 4
            )
            SELECT DISTINCT doc_id, fingerprint FROM wins
        """,
        "simhash_pairs": f"""
            WITH {_SHINGLES_CTE},
            hashed AS (
                SELECT DISTINCT doc_id,
                       ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
                FROM sh
            ),
            bits AS (
                SELECT doc_id, k,
                       sum(CASE WHEN (h // (1::BIGINT << CAST(k AS INT))) % 2 = 1
                                THEN 1 ELSE -1 END) AS v
                FROM hashed, generate_series(0, 59) t(k)
                GROUP BY doc_id, k
            ),
            s AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(k AS INT))
                                ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id
            ),
            banded AS (
                SELECT doc_id, simhash, b AS band,
                       (simhash // (1::BIGINT << CAST(b * 15 AS INT)))
                           % (1::BIGINT << 15) AS key
                FROM s, generate_series(0, 3) t(b)
            ),
            pairs AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                       a.simhash AS a_sh, b.simhash AS b_sh
                FROM banded a
                JOIN banded b ON a.band = b.band AND a.key = b.key
                             AND a.doc_id < b.doc_id
            )
            SELECT a_id, b_id,
                   CAST(bit_count(xor(a_sh, b_sh)) AS BIGINT) AS hamming
            FROM pairs WHERE bit_count(xor(a_sh, b_sh)) <= 8
        """,
        "text_quality": f"""
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_calc,
                   CAST(length(regexp_extract_all(text, {_TOKENS_RE})) AS BIGINT) AS n_tokens,
                   CAST(length(regexp_extract_all(text,
                        '''(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^ \\t\\n\\r\\f\\x0B\\p{{L}}\\p{{N}}]+|[ \\t\\n\\r\\f\\x0B]+'
                   )) AS BIGINT) AS n_tokens_bpe,
                   round(CASE WHEN length(text) > 0
                         THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                              / length(text) ELSE 0 END, 6) AS alpha_ratio,
                   round(CASE WHEN length(text) > 0
                         THEN length(regexp_replace(text, $$[^.,;:!?'"()\\[\\]{{}}-]$$, '', 'g')) * 1.0
                              / length(text) ELSE 0 END, 6) AS punct_ratio,
                   round(CASE WHEN length(regexp_extract_all(text, {_TOKENS_RE})) > 0
                         THEN length(text) * 1.0
                              / length(regexp_extract_all(text, {_TOKENS_RE}))
                         ELSE 0 END, 6) AS mean_token_len,
                   round(CASE WHEN length(regexp_extract_all(text, {_TOKENS_RE})) > 0
                         THEN length(regexp_extract_all(lower(text),
                              '(^|[ ])(the|and|of|to|is|in|that|it|for|with)([ ]|$)')) * 1.0
                              / length(regexp_extract_all(text, {_TOKENS_RE}))
                         ELSE 0 END, 6) AS stopword_ratio,
                   round((least(length(regexp_extract_all(text, {_TOKENS_RE})) / 20.0, 1.0)
                          + CASE WHEN length(text) > 0
                            THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                                 / length(text) ELSE 0 END
                          + (1.0 - least(CASE WHEN length(text) > 0
                              THEN length(regexp_replace(text, $$[^.,;:!?'"()\\[\\]{{}}-]$$, '', 'g')) * 1.0
                                   / length(text) ELSE 0 END * 5.0, 1.0))
                          + least(CASE WHEN length(regexp_extract_all(text, {_TOKENS_RE})) > 0
                              THEN length(regexp_extract_all(lower(text),
                                   '(^|[ ])(the|and|of|to|is|in|that|it|for|with)([ ]|$)')) * 1.0
                                   / length(regexp_extract_all(text, {_TOKENS_RE}))
                              ELSE 0 END * 4.0, 1.0)) / 4.0, 6) AS quality_score
            FROM documents
        """,
        "repetition": f"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_extract_all(text, {_TOKENS_RE}) AS ts
                FROM documents
            ),
            words AS (
                SELECT doc_id, len(ts) AS n, unnest(ts) AS w FROM toks
            ),
            wc AS (
                SELECT doc_id, n, count(DISTINCT w) AS n_distinct,
                       max(c) AS topc
                FROM (SELECT doc_id, n, w, count(*) AS c
                      FROM words GROUP BY doc_id, n, w)
                GROUP BY doc_id, n
            ),
            bgs AS (
                SELECT doc_id, len(ts) - 1 AS nb,
                       unnest(list_transform(range(1, len(ts)),
                           i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)]
                       )) AS b
                FROM toks WHERE len(ts) >= 2
            ),
            bc AS (
                SELECT doc_id, nb,
                       sum(CASE WHEN c > 1 THEN c END) AS dupinst
                FROM (SELECT doc_id, nb, b, count(*) AS c
                      FROM bgs GROUP BY doc_id, nb, b)
                GROUP BY doc_id, nb
            )
            SELECT t.doc_id,
                   CAST(len(t.ts) AS BIGINT) AS n_words,
                   round(CASE WHEN len(t.ts) > 0
                         THEN 1.0 - wc.n_distinct * 1.0 / len(t.ts)
                         ELSE 0.0 END, 6) AS frac_dup_words,
                   round(CASE WHEN len(t.ts) > 0
                         THEN wc.topc * 1.0 / len(t.ts) ELSE 0.0 END, 6)
                       AS top_word_frac,
                   round(CASE WHEN coalesce(bc.nb, 0) > 0
                         THEN coalesce(bc.dupinst, 0) * 1.0 / bc.nb
                         ELSE 0.0 END, 6) AS frac_dup_bigrams
            FROM toks t
            LEFT JOIN wc USING (doc_id)
            LEFT JOIN bc USING (doc_id)
        """,
        "language_id": f"""
            WITH dim(word, cand_lang) AS (VALUES
                ('der', 'de'),
                ('die', 'de'),
                ('das', 'de'),
                ('und', 'de'),
                ('ist', 'de'),
                ('von', 'de'),
                ('mit', 'de'),
                ('ein', 'de'),
                ('eine', 'de'),
                ('zu', 'de'),
                ('the', 'en'),
                ('and', 'en'),
                ('of', 'en'),
                ('to', 'en'),
                ('is', 'en'),
                ('in', 'en'),
                ('that', 'en'),
                ('it', 'en'),
                ('for', 'en'),
                ('with', 'en'),
                ('el', 'es'),
                ('la', 'es'),
                ('los', 'es'),
                ('las', 'es'),
                ('de', 'es'),
                ('y', 'es'),
                ('que', 'es'),
                ('es', 'es'),
                ('en', 'es'),
                ('por', 'es'),
                ('le', 'fr'),
                ('la', 'fr'),
                ('les', 'fr'),
                ('et', 'fr'),
                ('de', 'fr'),
                ('un', 'fr'),
                ('une', 'fr'),
                ('est', 'fr'),
                ('que', 'fr'),
                ('pour', 'fr')
            ),
            toks AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(text), {_TOKENS_RE})) AS word
                FROM documents
            ),
            hits AS (
                SELECT doc_id, cand_lang, count(*) AS hits
                FROM toks JOIN dim USING (word) GROUP BY 1, 2
            ),
            best AS (
                SELECT doc_id, cand_lang AS lang_pred
                FROM (SELECT doc_id, cand_lang,
                             row_number() OVER (PARTITION BY doc_id
                                                ORDER BY hits DESC, cand_lang) AS rn
                      FROM hits)
                WHERE rn = 1
            )
            SELECT d.doc_id, d.lang, coalesce(b.lang_pred, 'unknown') AS lang_pred
            FROM documents d LEFT JOIN best b USING (doc_id)
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
            scored AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))), 6) AS cosine
                FROM q, c WHERE query_id <> neighbor_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine DESC, neighbor_id) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 10
        """,
        "component_gaps": """
            WITH base AS (
                SELECT user_id,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS idx,
                       (event_type = 'click') AS present
                FROM events
            ),
            flagged AS (
                SELECT user_id, idx, present,
                       CASE WHEN lag(present) OVER (PARTITION BY user_id ORDER BY idx)
                                 IS DISTINCT FROM present THEN 1 ELSE 0 END AS chg
                FROM base
            ),
            runs AS (
                SELECT user_id, idx, present,
                       sum(chg) OVER (PARTITION BY user_id ORDER BY idx
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
                FROM flagged
            ),
            islands AS (
                SELECT user_id, run_id, min(idx) AS start_idx, max(idx) AS end_idx
                FROM runs WHERE present GROUP BY user_id, run_id
            ),
            gaps0 AS (
                SELECT user_id, end_idx,
                       lead(start_idx) OVER (PARTITION BY user_id ORDER BY start_idx) AS next_start
                FROM islands
            ),
            gaps AS (
                SELECT user_id, (next_start - end_idx)::DOUBLE AS d
                FROM gaps0 WHERE next_start IS NOT NULL
            ),
            agg AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                       avg(d) AS avg_distance,
                       coalesce(stddev_samp(d), 0) AS stdev_distance,
                       avg(d) + coalesce(stddev_samp(d), 0) / 3 AS t
                FROM gaps GROUP BY user_id
            ),
            split AS (
                SELECT g.user_id,
                       avg(CASE WHEN d < t THEN d END) AS w_,
                       avg(CASE WHEN d >= t THEN d END) AS b_
                FROM gaps g JOIN agg USING (user_id) GROUP BY g.user_id
            )
            SELECT a.user_id, a.n_gaps,
                   round(a.avg_distance, 6) AS avg_distance,
                   round(a.stdev_distance, 6) AS stdev_distance,
                   round(CASE WHEN w_ IS NOT NULL AND b_ IS NOT NULL THEN w_ ELSE 0 END, 6)
                       AS avg_within_word_distance,
                   round(CASE WHEN w_ IS NOT NULL AND b_ IS NOT NULL THEN b_ ELSE 0 END, 6)
                       AS avg_between_word_distance
            FROM agg a JOIN split s ON a.user_id = s.user_id
        """,
        "embedding_eval": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v, vec_id % 8 AS label
                FROM embeddings WHERE vec_id < 80
            ),
            pairs AS (
                SELECT list_distance(a.v, b.v) AS distance,
                       a.label = b.label AS same_label
                FROM e a JOIN e b ON a.vec_id < b.vec_id
            ),
            conf AS (
                SELECT t.threshold,
                       CAST(sum(CASE WHEN same_label AND distance <= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                       CAST(sum(CASE WHEN NOT same_label AND distance > t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                       CAST(sum(CASE WHEN NOT same_label AND distance <= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                       CAST(sum(CASE WHEN same_label AND distance > t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn
                FROM pairs, (VALUES (0.5), (1.0), (1.25), (1.5), (2.0)) t(threshold)
                GROUP BY t.threshold
            ),
            m AS (
                SELECT *,
                       CASE WHEN tp = 0 AND fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END AS recall_,
                       CASE WHEN tp = 0 AND fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END AS precision_,
                       CASE WHEN tn + fp > 0 THEN tn * 1.0 / (tn + fp) END AS tnr_
                FROM conf
            )
            SELECT round(threshold, 2) AS threshold, tp, tn, fp, fn,
                   round(recall_, 6) AS recall,
                   round(precision_, 6) AS precision,
                   round((tp + tn) * 1.0 / (tp + tn + fp + fn), 6) AS accuracy,
                   round((recall_ + tnr_) / 2, 6) AS balanced_accuracy,
                   round(CASE WHEN precision_ = 0 AND recall_ = 0 THEN 0.0
                         ELSE 2 * precision_ * recall_ / (precision_ + recall_) END, 6) AS f1_score
            FROM m
        """,
        "embedding_clusters": """
            WITH RECURSIVE v AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            p AS (
                SELECT a.vec_id AS a_id, b.vec_id AS b_id
                FROM v a JOIN v b ON a.vec_id < b.vec_id
                WHERE list_dot_product(a.e, b.e)
                      / (sqrt(list_dot_product(a.e, a.e))
                         * sqrt(list_dot_product(b.e, b.e))) >= 0.3499995
                  AND round(list_dot_product(a.e, b.e)
                            / (sqrt(list_dot_product(a.e, a.e))
                               * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35
            ),
            edges AS (
                SELECT a_id AS s, b_id AS d FROM p
                UNION SELECT b_id, a_id FROM p
            ),
            reach(id, r) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM edges)
                UNION
                SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d
            ),
            comp AS (
                SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
            ),
            csizes AS (
                SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                FROM comp GROUP BY cluster_id
            )
            SELECT c.doc_id, c.cluster_id, s.cluster_size
            FROM comp c JOIN csizes s USING (cluster_id)
        """,
        "embedding_near_dup": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))) >= 0.3499995
              AND round(list_dot_product(a.e, b.e)
                        / (sqrt(list_dot_product(a.e, a.e))
                           * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35
        """,
    }



def _curation_oracle_sql() -> dict[str, str]:
    """DuckDB replays of the curation family (operators/curation.py +
    similarity.semdedup). Float contracts: every float is either a ratio /
    rational expression of exact integers (one correctly-rounded IEEE op
    per step, identical expression shape in both engines) or an explicitly
    shared rounded value — no streaming-float aggregates (the r2 lesson)."""
    ngrams3 = f"""
        toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), {_TOKENS_RE}) AS t
            FROM documents
        ),
        pos AS (
            SELECT doc_id, array_to_string(t[gs.g : gs.g + 2], ' ') AS ngram
            FROM toks,
                 LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS g) gs
            WHERE len(t) >= 3
        )
    """
    return {
        "decontaminate": f"""
            WITH {ngrams3},
            tr AS (
                SELECT DISTINCT doc_id, ngram FROM pos WHERE doc_id % 20 <> 0
            ),
            ev AS (SELECT DISTINCT ngram FROM pos WHERE doc_id % 20 = 0),
            per AS (
                SELECT tr.doc_id,
                       CAST(count(*) AS BIGINT) AS n_unique_ngrams,
                       CAST(sum(CASE WHEN ev.ngram IS NOT NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS eval_hits
                FROM tr LEFT JOIN ev ON tr.ngram = ev.ngram
                GROUP BY tr.doc_id
            )
            SELECT d.doc_id,
                   coalesce(n_unique_ngrams, 0) AS n_unique_ngrams,
                   coalesce(eval_hits, 0) AS eval_hits,
                   CASE WHEN coalesce(n_unique_ngrams, 0) > 0
                        THEN CAST(eval_hits AS DOUBLE)
                             / CAST(n_unique_ngrams AS DOUBLE)
                   END AS contamination,
                   CAST(coalesce(CAST(eval_hits AS DOUBLE)
                                 / CAST(n_unique_ngrams AS DOUBLE) >= 0.05,
                                 FALSE) AS BIGINT) AS contaminated
            FROM documents d LEFT JOIN per USING (doc_id)
            WHERE d.doc_id % 20 <> 0
        """,
        # quota = floor(200 * 1/20) = 10 per source; the md5(id:42) rank is
        # the same 60-bit contract as hash_split / triplet_sample
        "domain_mix": """
            WITH r AS (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source ORDER BY
                           ('0x' || substr(md5(doc_id::VARCHAR || ':42'),
                                           1, 15))::BIGINT, doc_id
                       ) AS sample_rank
                FROM documents
            )
            SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
            FROM r WHERE sample_rank <= 10
        """,
        "tfidf_top_terms": f"""
            WITH toks AS (
                SELECT doc_id, source,
                       unnest(regexp_extract_all(lower(text), {_TOKENS_RE})) AS term
                FROM documents
            ),
            tf AS (
                SELECT source, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY 1, 2
            ),
            dfs AS (
                SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
                FROM toks GROUP BY 1
            ),
            n AS (SELECT count(*) AS n_docs FROM documents),
            s AS (
                SELECT source, term, tf, doc_freq,
                       CAST(tf AS DOUBLE)
                       * (2.0 * n_docs - 2.0 * doc_freq + 1.0)
                       / (2.0 * doc_freq + 1.0) AS tfidf
                FROM tf JOIN dfs USING (term) CROSS JOIN n
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY source ORDER BY tfidf DESC, term
                ) AS rank FROM s
            )
            SELECT source, term, tf, doc_freq,
                   round(tfidf, 6) AS tfidf, CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 5
        """,
        # identical pos/floor/frac expression shape as group_quantiles —
        # NOT quantile_cont, whose interpolation may differ by a ULP
        "group_quantiles": """
            WITH ranked AS (
                SELECT source, CAST(n_chars AS DOUBLE) AS v,
                       row_number() OVER (
                           PARTITION BY source ORDER BY CAST(n_chars AS DOUBLE)
                       ) AS rn
                FROM documents
            ),
            counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
            probes AS (
                SELECT source, n, q,
                       CAST(n - 1 AS DOUBLE) * q AS pos,
                       CAST(floor(CAST(n - 1 AS DOUBLE) * q) AS BIGINT) AS k
                FROM counts,
                     (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE,
                                     0.75::DOUBLE, 0.9::DOUBLE]) AS q)
            ),
            p2 AS (
                SELECT *, pos - CAST(k AS DOUBLE) AS frac,
                       least(k + 1, n - 1) AS khi
                FROM probes
            )
            SELECT p.source, p.q,
                   round(lo.v + (hi.v - lo.v) * p.frac, 6) AS quantile_value,
                   CAST(p.n AS BIGINT) AS n
            FROM p2 p
            JOIN ranked lo ON lo.source = p.source AND lo.rn = p.k + 1
            JOIN ranked hi ON hi.source = p.source AND hi.rn = p.khi + 1
        """,
        # synthetic PII is concatenated with the same expression shape as
        # q_pii_scrub; patterns are Java/RE2-identical (explicit classes,
        # no lookaround); DuckDB regexp_replace needs the 'g' flag to match
        # Spark's replace-all
        "pii_scrub": """
            WITH aug AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' contact user' || doc_id::VARCHAR
                                    || '@example.com' ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' host 10.0.' || (doc_id % 256)::VARCHAR
                                    || '.1' ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' call +1 555 000 '
                                    || (1000 + doc_id % 9000)::VARCHAR
                               ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN ' ref 9'
                                    || lpad((doc_id % 100000000)::VARCHAR, 8, '0')
                               ELSE '' END AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'))
                        AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                        '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))
                        AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(text,
                        '\\+[0-9][0-9 -]{7,}[0-9]')) AS BIGINT) AS n_phones,
                   CAST(len(regexp_extract_all(text, '[0-9]{9,}'))
                        AS BIGINT) AS n_longnums,
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                       text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                       '<EMAIL>', 'g'),
                       '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
                       '<IP>', 'g'),
                       '\\+[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g'),
                       '[0-9]{9,}', '<NUM>', 'g') AS clean_text
            FROM aug
        """,
        # the oracle's cumsum is a plain global window (fine at DuckDB's
        # replay scale); the ENGINE computes it range-partitioned with
        # per-partition broadcast offsets — packing.with_global_cumsum.
        # 512 is a power of 2, so /512.0 + floor is bit-exact everywhere
        "pack_sequences": f"""
            WITH toks AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, {_TOKENS_RE}))
                            AS BIGINT) AS n_tokens,
                       ('0x' || substr(md5(doc_id::VARCHAR || ':42'),
                                       1, 15))::BIGINT AS h
                FROM documents
            ),
            cum AS (
                SELECT doc_id, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS cum_start
                FROM toks
            )
            SELECT doc_id, n_tokens, cum_start,
                   CASE WHEN n_tokens > 0
                        THEN CAST(floor(cum_start / 512.0) AS BIGINT)
                   END AS first_seq,
                   CASE WHEN n_tokens > 0
                        THEN CAST(floor((cum_start + n_tokens - 1) / 512.0)
                                  AS BIGINT)
                   END AS last_seq,
                   coalesce(CASE WHEN n_tokens > 0
                        THEN CAST(floor((cum_start + n_tokens - 1) / 512.0)
                                  - floor(cum_start / 512.0) + 1 AS BIGINT)
                   END, 0) AS n_seqs
            FROM cum
        """,
        "pack_segments": f"""
            WITH toks AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, {_TOKENS_RE}))
                            AS BIGINT) AS n_tokens,
                       ('0x' || substr(md5(doc_id::VARCHAR || ':42'),
                                       1, 15))::BIGINT AS h
                FROM documents
            ),
            cum AS (
                SELECT doc_id, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS cum_start
                FROM toks WHERE n_tokens > 0
            ),
            seg AS (
                SELECT doc_id, n_tokens, cum_start,
                       unnest(generate_series(
                           CAST(floor(cum_start / 512.0) AS BIGINT),
                           CAST(floor((cum_start + n_tokens - 1) / 512.0)
                                AS BIGINT))) AS seq_id
                FROM cum
            )
            SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
                   CAST(greatest(seq_id * 512 - cum_start, 0) AS BIGINT)
                       AS seg_start,
                   CAST(least(seq_id * 512 + 512 - cum_start, n_tokens)
                        - greatest(seq_id * 512 - cum_start, 0) AS BIGINT)
                       AS seg_len,
                   CAST(greatest(cum_start - seq_id * 512, 0) AS BIGINT)
                       AS seq_offset
            FROM seg
        """,
        # multi-line fixture identical to q_c4_line_filter; the line
        # predicate is the same Java/RE2-identical regex trio
        "c4_line_filter": f"""
            WITH aug AS (
                SELECT doc_id,
                       substr(text, 1, 60) || '.' || chr(10)
                       || substr(text, 61, 40) || chr(10)
                       || 'ok.' || chr(10)
                       || CASE WHEN doc_id % 7 = 0
                               THEN 'please enable javascript to view this page.'
                               ELSE substr(text, 101, 50) || '?' END || chr(10)
                       || CASE WHEN doc_id % 13 = 0
                               THEN 'function f() {{ return 1; }}'
                               ELSE '' END || chr(10)
                       || CASE WHEN doc_id % 17 = 0
                               THEN 'Lorem ipsum dolor sit amet.'
                               ELSE substr(text, 151, 60) || '!' END AS text
                FROM documents
            ),
            f AS (
                SELECT doc_id, text,
                       string_split(text, chr(10)) AS lines,
                       list_filter(string_split(text, chr(10)),
                           l -> len(regexp_extract_all(l, {_TOKENS_RE})) >= 3
                                AND regexp_matches(trim(l), '[.!?"]$')
                                AND NOT contains(lower(l), 'javascript')) AS kept
                FROM aug
            )
            SELECT doc_id,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(kept) AS BIGINT) AS n_kept,
                   CAST(contains(text, '{{') AS BIGINT) AS has_brace,
                   CAST(contains(lower(text), 'lorem ipsum') AS BIGINT)
                       AS has_lorem,
                   CAST(len(kept) >= 3 AND NOT contains(text, '{{')
                        AND NOT contains(lower(text), 'lorem ipsum')
                        AS BIGINT) AS keep_doc,
                   array_to_string(kept, chr(10)) AS clean_text
            FROM f
        """,
        "duplicated_spans": f"""
            WITH aug AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 = 0
                            THEN 'copyright acme corp all rights reserved '
                                 || 'do not redistribute this file '
                            ELSE '' END
                       || text
                       || CASE WHEN doc_id % 6 = 0
                               THEN ' subscribe to our newsletter for more'
                                    || ' updates and exclusive offers'
                               ELSE '' END AS text
                FROM documents
            ),
            toks AS (
                SELECT doc_id, regexp_extract_all(lower(text), {_TOKENS_RE}) AS t
                FROM aug
            ),
            pos AS (
                SELECT doc_id, gs.g - 1 AS p,
                       array_to_string(t[gs.g : gs.g + 3], ' ') AS ngram
                FROM toks,
                     LATERAL (SELECT unnest(generate_series(1, len(t) - 3)) AS g) gs
                WHERE len(t) >= 4
            ),
            dfs AS (
                SELECT ngram FROM (
                    SELECT ngram, count(DISTINCT doc_id) AS ddf
                    FROM pos GROUP BY 1
                ) WHERE ddf >= 2
            ),
            dup AS (SELECT doc_id, p FROM pos JOIN dfs USING (ngram)),
            grp AS (
                SELECT doc_id, p,
                       p - row_number() OVER (
                           PARTITION BY doc_id ORDER BY p) AS g
                FROM dup
            ),
            sp AS (
                SELECT doc_id, min(p) AS start_tok, max(p) + 4 AS end_tok,
                       count(*) AS n_dup_grams
                FROM grp GROUP BY doc_id, g
            )
            SELECT doc_id,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY start_tok) AS BIGINT)
                       AS span_rank,
                   CAST(start_tok AS BIGINT) AS start_tok,
                   CAST(end_tok AS BIGINT) AS end_tok,
                   CAST(end_tok - start_tok AS BIGINT) AS span_tokens,
                   CAST(n_dup_grams AS BIGINT) AS n_dup_grams
            FROM sp
        """,
        "pq_topk": """
            WITH cb AS (
                SELECT vec_id AS c, embedding::DOUBLE[] AS v
                FROM embeddings WHERE vec_id < 8
            ),
            sub AS (SELECT unnest(generate_series(0, 3)) AS j),
            cbsub AS (
                SELECT j, c, v[j*16+1 : j*16+16] AS cv FROM cb, sub
            ),
            corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            corpsub AS (
                SELECT vec_id, j, v[j*16+1 : j*16+16] AS sv FROM corp, sub
            ),
            enc AS (
                SELECT vec_id, j, c AS code, cv FROM (
                    SELECT cs.vec_id, cs.j, k.c, k.cv,
                           row_number() OVER (
                               PARTITION BY cs.vec_id, cs.j
                               ORDER BY list_dot_product(cs.sv, cs.sv)
                                        - 2 * list_dot_product(cs.sv, k.cv)
                                        + list_dot_product(k.cv, k.cv),
                                     k.c) AS rn
                    FROM corpsub cs JOIN cbsub k USING (j)
                ) WHERE rn = 1
            ),
            q AS (
                SELECT vec_id AS query_id, j, v[j*16+1 : j*16+16] AS qsub
                FROM corp, sub WHERE vec_id < 10
            ),
            persub AS (
                SELECT q.query_id, e.vec_id AS neighbor_id, q.j,
                       list_dot_product(q.qsub, e.cv) AS ip
                FROM q JOIN enc e ON q.j = e.j
                WHERE q.query_id <> e.vec_id
            ),
            piv AS (
                SELECT query_id, neighbor_id,
                       max(CASE WHEN j = 0 THEN ip END) AS ip0,
                       max(CASE WHEN j = 1 THEN ip END) AS ip1,
                       max(CASE WHEN j = 2 THEN ip END) AS ip2,
                       max(CASE WHEN j = 3 THEN ip END) AS ip3
                FROM persub GROUP BY query_id, neighbor_id
            ),
            scored AS (
                SELECT query_id, neighbor_id,
                       round(ip0 + ip1 + ip2 + ip3, 6) AS adc
                FROM piv
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY adc DESC, neighbor_id) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, adc, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 10
        """,
        "ngram_repetition": f"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_extract_all(lower(text), {_TOKENS_RE}) AS t
                FROM documents
            ),
            pos AS (
                SELECT doc_id, gs.g - 1 AS p,
                       array_to_string(t[gs.g : gs.g + 1], ' ') AS ngram
                FROM toks,
                     LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS g) gs
                WHERE len(t) >= 2
            ),
            counts AS (
                SELECT doc_id, ngram, count(*) AS c
                FROM pos GROUP BY doc_id, ngram
            ),
            top AS (
                SELECT doc_id, ngram AS top_gram, c AS top_gram_count
                FROM (
                    SELECT doc_id, ngram, c,
                           row_number() OVER (
                               PARTITION BY doc_id
                               ORDER BY c DESC, ngram ASC) AS rn
                    FROM counts
                ) WHERE rn = 1
            ),
            cov AS (
                SELECT p.doc_id,
                       count(DISTINCT CASE WHEN p.ngram = t.top_gram
                                           THEN p.p + o.o END) AS top_cov,
                       count(DISTINCT CASE WHEN c.c > 1
                                           THEN p.p + o.o END) AS dup_cov
                FROM pos p
                JOIN counts c ON p.doc_id = c.doc_id AND p.ngram = c.ngram
                JOIN top t ON p.doc_id = t.doc_id
                CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS o) o
                GROUP BY p.doc_id
            )
            SELECT b.doc_id,
                   CAST(len(b.t) AS BIGINT) AS n_tokens,
                   t.top_gram,
                   CAST(t.top_gram_count AS BIGINT) AS top_gram_count,
                   CASE WHEN len(b.t) = 0 THEN 0.0
                        ELSE CAST(coalesce(c.top_cov, 0) AS DOUBLE) / len(b.t)
                        END AS top_cover_frac,
                   CASE WHEN len(b.t) = 0 THEN 0.0
                        ELSE CAST(coalesce(c.dup_cov, 0) AS DOUBLE) / len(b.t)
                        END AS dup_cover_frac
            FROM toks b
            LEFT JOIN top t USING (doc_id)
            LEFT JOIN cov c USING (doc_id)
        """,
        "dsir": f"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_extract_all(lower(text), {_TOKENS_RE}) AS t
                FROM documents
            ),
            grams AS (
                SELECT doc_id, unnest(t) AS g FROM toks
                UNION ALL
                SELECT doc_id, t[gs.i] || ' ' || t[gs.i + 1] AS g
                FROM toks,
                     LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) gs
                WHERE len(t) >= 2
            ),
            gb AS (
                SELECT doc_id,
                       ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b
                FROM grams
            ),
            counts AS (
                SELECT b,
                       sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS ct,
                       sum(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END) AS cr
                FROM gb GROUP BY b
            ),
            agg AS (
                SELECT doc_id, count(*) AS n_grams,
                       sum(((ct + 1) * 1000000) // (cr + 1)) AS weight_q
                FROM gb JOIN counts USING (b) GROUP BY doc_id
            )
            SELECT doc_id,
                   CAST(n_grams AS BIGINT) AS n_grams,
                   CAST(weight_q AS BIGINT) AS weight_q,
                   CAST(weight_q AS DOUBLE) / (n_grams * 1000000)
                       AS ratio_score
            FROM agg
        """,
        "unigram_lm": f"""
            WITH tok AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text), {_TOKENS_RE})) AS t
                FROM documents
            ),
            lm AS (
                SELECT t, count(*) AS c FROM tok
                WHERE doc_id % 10 = 0 GROUP BY t
            ),
            tot AS (
                SELECT coalesce(sum(c), 0) AS n, count(*) AS v FROM lm
            ),
            agg AS (
                SELECT tok.doc_id,
                       count(*) AS n_tokens,
                       count(*) FILTER (lm.c IS NULL) AS oov_tokens,
                       sum(coalesce(lm.c, 0) + 1) AS lm_num
                FROM tok LEFT JOIN lm USING (t)
                GROUP BY tok.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(a.oov_tokens, 0) AS BIGINT) AS oov_tokens,
                   CAST(coalesce(a.lm_num, 0) AS BIGINT) AS lm_num,
                   CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
                        ELSE CAST(a.lm_num AS DOUBLE)
                             / (a.n_tokens * (tot.n + tot.v + 1)) END
                       AS mean_tok_prob
            FROM documents d LEFT JOIN agg a USING (doc_id), tot
        """,
        "line_dedup": """
            WITH aug AS (
                SELECT doc_id,
                       concat_ws(chr(10),
                           substr(text, 1, 40),
                           substr(text, 41, 30),
                           CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 40)
                                ELSE substr(text, 71, 30) END,
                           'contact us at example dot com',
                           CASE WHEN doc_id % 5 = 0
                                THEN 'contact us at example dot com'
                                ELSE substr(text, 101, 25) END,
                           CASE WHEN doc_id % 2 = 0 THEN '' ELSE 'x' END,
                           '') AS text
                FROM documents
            ),
            l AS (
                SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                FROM aug
            ),
            per AS (
                SELECT doc_id, line, count(*) AS c, len(line) AS ln
                FROM l GROUP BY doc_id, line
            ),
            agg AS (
                SELECT doc_id,
                       CAST(sum(c) AS BIGINT) AS n_lines,
                       CAST(sum(c - 1) AS BIGINT) AS dup_lines,
                       CAST(sum(c * ln) AS BIGINT) AS chars,
                       CAST(sum((c - 1) * ln) AS BIGINT) AS dup_chars
                FROM per GROUP BY doc_id
            )
            SELECT doc_id, n_lines, dup_lines,
                   CAST(dup_lines AS DOUBLE) / n_lines AS dup_line_frac,
                   CASE WHEN chars = 0 THEN 0.0
                        ELSE CAST(dup_chars AS DOUBLE) / chars END
                       AS dup_char_frac
            FROM agg
        """,
        # apply step: cased tokens for reassembly, lowercased grams for
        # discovery; cover set = union of [p, p+4) over duplicated
        # positions, cut via anti-join, survivors re-joined in order
        "cut_dup_spans": f"""
            WITH aug AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 = 0
                            THEN 'copyright acme corp all rights reserved '
                                 || 'do not redistribute this file '
                            ELSE '' END
                       || text
                       || CASE WHEN doc_id % 6 = 0
                               THEN ' subscribe to our newsletter for more'
                                    || ' updates and exclusive offers'
                               ELSE '' END AS text
                FROM documents
            ),
            toksc AS (
                SELECT doc_id, regexp_extract_all(text, {_TOKENS_RE}) AS t
                FROM aug
            ),
            pos AS (
                SELECT doc_id, gs.g - 1 AS p,
                       array_to_string(tl[gs.g : gs.g + 3], ' ') AS ngram
                FROM (SELECT doc_id,
                             regexp_extract_all(lower(text), {_TOKENS_RE}) AS tl
                      FROM aug),
                     LATERAL (SELECT unnest(generate_series(1, len(tl) - 3)) AS g) gs
                WHERE len(tl) >= 4
            ),
            dfs AS (
                SELECT ngram FROM (
                    SELECT ngram, count(DISTINCT doc_id) AS ddf
                    FROM pos GROUP BY 1
                ) WHERE ddf >= 2
            ),
            dup AS (SELECT doc_id, p FROM pos JOIN dfs USING (ngram)),
            cover AS (
                SELECT DISTINCT doc_id, p + o.o AS ri
                FROM dup CROSS JOIN
                     (SELECT unnest(generate_series(0, 3)) AS o) o
            ),
            tok_rows AS (
                SELECT doc_id, gs.i - 1 AS ti, t[gs.i] AS tok
                FROM toksc,
                     LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) gs
                WHERE len(t) > 0
            ),
            kept AS (
                SELECT tr.doc_id, tr.ti, tr.tok
                FROM tok_rows tr
                ANTI JOIN cover c
                  ON tr.doc_id = c.doc_id AND tr.ti = c.ri
            ),
            agg AS (
                SELECT doc_id, count(*) AS kept_n,
                       string_agg(tok, ' ' ORDER BY ti) AS clean_text
                FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(len(t.t) AS BIGINT) AS n_tokens,
                   CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT)
                       AS removed_tokens,
                   coalesce(a.clean_text, '') AS clean_text
            FROM toksc t LEFT JOIN agg a USING (doc_id)
        """,
        "semdedup": """
            WITH v AS (
                SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
            ),
            per AS (
                SELECT b.vec_id AS vec_id,
                       max(round(list_dot_product(a.e, b.e)
                                 / (sqrt(list_dot_product(a.e, a.e))
                                    * sqrt(list_dot_product(b.e, b.e))), 6))
                           AS max_cos_lower
                FROM v a JOIN v b
                  ON a.label = b.label AND a.vec_id < b.vec_id
                GROUP BY b.vec_id
            )
            SELECT v.vec_id, v.label, per.max_cos_lower,
                   CAST(coalesce(per.max_cos_lower < 0.35, TRUE) AS BIGINT) AS keep
            FROM v LEFT JOIN per USING (vec_id)
        """,
        # covering-rule start grid replayed with the same integer-only
        # arithmetic as the Spark plan (last start L = 1 + ceil((n-w)/s)·s)
        "chunk_docs": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(
                           string_split(
                               trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')),
                               ' '),
                           x -> x <> '') AS toks
                FROM documents
            ),
            nn AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
            s AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1,
                           1 + CAST(((greatest(n - 16, 0) + 11)
                                     - ((greatest(n - 16, 0) + 11) % 12)) / 12 AS INT) * 12,
                           12)) AS st
                FROM nn
            )
            SELECT doc_id,
                   CAST((st - 1) / 12 AS INT) AS chunk_id,
                   CAST(len(toks[st : st + 15]) AS BIGINT) AS n_tokens,
                   array_to_string(toks[st : st + 15], ' ') AS chunk_text
            FROM s
        """,
        # per-source token budget walk in hash_split's md5-60-bit order;
        # the budget-crossing document is admitted
        "quota_sample": f"""
            WITH d AS (
                SELECT doc_id, source,
                       CAST(length(regexp_extract_all(text, {_TOKENS_RE})) AS BIGINT)
                           AS n_tokens,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'),
                                            1, 15))::BIGINT AS DOUBLE)
                       / 1152921504606846976.0 AS u
                FROM documents
            ),
            c AS (
                SELECT doc_id, source, n_tokens, u,
                       sum(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum_tokens
                FROM d
            )
            SELECT doc_id, source, n_tokens, u,
                   CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM c WHERE cum_tokens - n_tokens < 600
        """,
        # hash-green `rendered` == per-turn text byte-equality + stable
        # (conv_id, turn_idx) ordering, the north-rule per-row invariant
        "render_conversations": """
            WITH tr AS (
                SELECT CAST(user_id AS VARCHAR) AS conv_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1 AS turn_idx,
                       event_type AS role,
                       coalesce(props, '') AS text
                FROM events
            )
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS turn_count,
                   CAST(length(string_agg('<|' || role || '|>' || text, chr(10)
                                          ORDER BY turn_idx)) AS BIGINT) AS n_chars,
                   string_agg('<|' || role || '|>' || text, chr(10)
                              ORDER BY turn_idx) AS rendered
            FROM tr GROUP BY conv_id
        """,
        # same literal weight/order arithmetic as QUALITY_CLF_WEIGHTS; the
        # 1-ulp ln/exp divergence rides the shared nudged rounding
        "quality_clf": f"""
            WITH f AS (
                SELECT doc_id,
                       CAST(length(regexp_extract_all(text, {_TOKENS_RE})) AS BIGINT)
                           AS n_tokens,
                       CASE WHEN length(text) > 0
                            THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                                 / length(text) ELSE 0 END AS a,
                       CASE WHEN length(text) > 0
                            THEN length(regexp_replace(text,
                                 $$[^.,;:!?'"()\\[\\]{{}}-]$$, '', 'g')) * 1.0
                                 / length(text) ELSE 0 END AS p,
                       CASE WHEN length(regexp_extract_all(text, {_TOKENS_RE})) > 0
                            THEN length(regexp_extract_all(lower(text),
                                 '(^|[ ])(the|and|of|to|is|in|that|it|for|with)([ ]|$)')) * 1.0
                                 / length(regexp_extract_all(text, {_TOKENS_RE}))
                            ELSE 0 END AS s
                FROM documents
            ),
            l AS (
                SELECT doc_id, n_tokens,
                       -2.0 + 2.5 * a + 4.0 * s + -6.0 * p
                            + 0.35 * ln(CAST(n_tokens AS DOUBLE) + 1.0) AS logit
                FROM f
            )
            SELECT doc_id, n_tokens,
                   round(logit + 1e-9, 6) AS logit,
                   round(1.0 / (1.0 + exp(-logit)) + 1e-9, 6) AS prob,
                   CAST(logit > 0 AS BIGINT) AS keep
            FROM l
        """,
        # lag flags + cumulative-sum island ids replayed 1:1; every float
        # is one integer/integer division so only the rounding needs the
        # shared nudge
        "turn_taking": """
            WITH tr AS (
                SELECT CAST(user_id AS VARCHAR) AS conv_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1 AS turn_idx,
                       event_type AS role,
                       CASE WHEN event_type = 'error' THEN event_type END AS tool,
                       ts
                FROM events
            ),
            f AS (
                SELECT conv_id, turn_idx, role, tool,
                       CASE WHEN lag(role) OVER w IS NOT NULL
                                 AND role <> lag(role) OVER w
                            THEN 1 ELSE 0 END AS role_chg,
                       CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS tool_flag,
                       CASE WHEN tool IS NOT NULL
                                 AND NOT coalesce(lag(tool IS NOT NULL) OVER w, FALSE)
                            THEN 1 ELSE 0 END AS chain_start,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
                FROM tr
                WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ),
            g AS (
                SELECT *,
                       sum(role_chg) OVER wc AS role_grp,
                       sum(chain_start) OVER wc AS chain_grp
                FROM f
                WINDOW wc AS (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            base AS (
                SELECT conv_id,
                       CAST(count(*) AS BIGINT) AS n_turns,
                       CAST(count(DISTINCT role) AS BIGINT) AS n_roles,
                       CAST(sum(role_chg) AS BIGINT) AS alternations,
                       CAST(sum(tool_flag) AS BIGINT) AS tool_turns,
                       CAST(sum(gap_us) AS BIGINT) AS gap_sum_us,
                       count(gap_us) AS n_gaps
                FROM g GROUP BY conv_id
            ),
            runs AS (
                SELECT conv_id, CAST(max(c) AS BIGINT) AS max_role_run
                FROM (SELECT conv_id, role_grp, count(*) AS c
                      FROM g GROUP BY conv_id, role_grp)
                GROUP BY conv_id
            ),
            chains AS (
                SELECT conv_id, CAST(max(c) AS BIGINT) AS max_tool_chain
                FROM (SELECT conv_id, chain_grp, count(*) AS c
                      FROM g WHERE tool_flag = 1 GROUP BY conv_id, chain_grp)
                GROUP BY conv_id
            )
            SELECT b.conv_id, n_turns, n_roles, alternations,
                   round(CASE WHEN n_turns > 1
                              THEN alternations * 1.0 / (n_turns - 1)
                              ELSE 0.0 END + 1e-9, 6) AS alternation_rate,
                   max_role_run, tool_turns,
                   round(tool_turns * 1.0 / n_turns + 1e-9, 6) AS tool_fraction,
                   CAST(coalesce(max_tool_chain, 0) AS BIGINT) AS max_tool_chain,
                   gap_sum_us,
                   round(CASE WHEN n_gaps > 0
                              THEN gap_sum_us * 1.0 / n_gaps / 1000000.0
                              END + 1e-9, 6) AS mean_gap_sec
            FROM base b
            JOIN runs USING (conv_id)
            LEFT JOIN chains USING (conv_id)
        """,
        # reverse cumulative token sum; integer counts only, newest turn
        # always kept
        "context_truncate": """
            WITH tr AS (
                SELECT CAST(user_id AS VARCHAR) AS conv_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1 AS turn_idx,
                       coalesce(props, '') AS text
                FROM events
            ),
            t AS (
                SELECT conv_id, turn_idx,
                       CAST(len(list_filter(
                           string_split(trim(regexp_replace(
                               text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' '),
                           x -> x <> '')) AS BIGINT) AS n_tokens
                FROM tr
            ),
            c AS (
                SELECT conv_id, turn_idx, n_tokens,
                       sum(n_tokens) OVER (PARTITION BY conv_id
                           ORDER BY turn_idx DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum,
                       row_number() OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx DESC) AS rn
                FROM t
            )
            SELECT conv_id, turn_idx, n_tokens,
                   CAST(cum AS BIGINT) AS cum_tokens_from_end
            FROM c WHERE cum <= 60 OR rn = 1
        """,
        # identical Lucene-idf BM25 arithmetic in the identical operation
        # order; score quantized through the shared nudge BEFORE the
        # ORDER BY so the top-k SET survives 1-ulp ln()/sum divergence
        "bm25_topk": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(
                           string_split(lower(trim(regexp_replace(
                               text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' '),
                           x -> x <> '') AS toks
                FROM documents
            ),
            b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM t),
            st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
                   FROM b),
            tf AS (
                SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b)
                WHERE term IN ('filter', 'join', 'merge', 'scan', 'vector',
                               'window')
                GROUP BY doc_id, dl, term
            ),
            dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY term),
            sc AS (
                SELECT doc_id,
                       ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                           * (tf * 2.2)
                           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
                FROM tf JOIN dfq USING (term) CROSS JOIN st
            ),
            agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
                       round(sum(s) + 1e-9, 6) AS score
                FROM sc GROUP BY doc_id
            )
            SELECT doc_id, n_terms_hit, score
            FROM agg ORDER BY score DESC, doc_id LIMIT 20
        """,
        # distinct-words-with-counts first (the BPE trainer optimization),
        # then pair explode; exact integer counts, deterministic top-50
        "bpe_pairs": """
            WITH w AS (
                SELECT unnest(list_filter(
                    string_split(lower(trim(regexp_replace(
                        text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' '),
                    x -> x <> '')) AS w
                FROM documents
            ),
            wc AS (
                SELECT w, CAST(count(*) AS BIGINT) AS c
                FROM w WHERE length(w) >= 2 GROUP BY w
            ),
            p AS (
                SELECT w, c,
                       unnest(list_transform(range(1, length(w)),
                                             i -> substr(w, CAST(i AS INT), 2)))
                           AS pair
                FROM wc
            ),
            agg AS (
                SELECT pair, CAST(count(DISTINCT w) AS BIGINT) AS n_words,
                       CAST(sum(c) AS BIGINT) AS pair_count
                FROM p GROUP BY pair
            )
            SELECT pair, n_words, pair_count
            FROM agg ORDER BY pair_count DESC, pair LIMIT 50
        """,
        # RANGE frame over epoch µs — ties are peers on both engines, so
        # the window contents are deterministic; the only float is one
        # integer/integer division on the shared nudge
        "rolling_window": """
            WITH t AS (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       event_type AS role,
                       CASE WHEN event_type = 'error' THEN event_type END AS tool,
                       CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq
                FROM events
            )
            SELECT user_id, event_id,
                   CAST(count(*) OVER w AS BIGINT) AS win_turns,
                   CAST(count(tool) OVER w AS BIGINT) AS win_tool_turns,
                   CAST(count(DISTINCT role) OVER w AS BIGINT) AS win_roles,
                   CAST(sum(vq) OVER w AS BIGINT) AS win_value_sum_q,
                   round(sum(vq) OVER w / (1000000.0 * count(*) OVER w)
                         + 1e-9, 6) AS win_value_mean
            FROM t
            WINDOW w AS (PARTITION BY user_id ORDER BY us
                         RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
        """,
        # the single-window SPEC of the two-phase bucketed encoder —
        # prior stats over strictly-earlier same-category rows under the
        # total (us, event_id) order
        "target_encode": """
            WITH t AS (
                SELECT event_id, event_type, epoch_us(ts) AS us,
                       CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq
                FROM events
            )
            SELECT event_id, event_type,
                   CAST(count(*) OVER wprev AS BIGINT) AS prior_n,
                   CAST(coalesce(sum(vq) OVER wprev, 0) AS BIGINT)
                       AS prior_sum_q,
                   round(CASE WHEN count(*) OVER wprev > 0
                              THEN coalesce(sum(vq) OVER wprev, 0)
                                   / (1000000.0 * count(*) OVER wprev)
                         END + 1e-9, 6) AS te_mean
            FROM t
            WINDOW wprev AS (PARTITION BY event_type ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING)
        """,
        "transition_latency": """
            WITH tr AS (
                SELECT CAST(user_id AS VARCHAR) AS conv_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1 AS turn_idx,
                       event_type AS role, ts
                FROM events
            ),
            p AS (
                SELECT conv_id, role,
                       lag(role) OVER w AS prev_role,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
                FROM tr
                WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            )
            SELECT prev_role, role,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(gap_us) AS BIGINT) AS gap_sum_us,
                   CAST(min(gap_us) AS BIGINT) AS gap_min_us,
                   CAST(max(gap_us) AS BIGINT) AS gap_max_us,
                   round(sum(gap_us) / CAST(count(*) AS DOUBLE) / 1000000.0
                         + 1e-9, 6) AS mean_gap_sec
            FROM p WHERE prev_role IS NOT NULL
            GROUP BY prev_role, role
        """,
        # integer `//` ≡ Spark `div` (both truncate); counts exact, the
        # share is one integer/integer division on the shared nudge
        "len_histogram": """
            WITH b AS (
                SELECT lang, n_chars // 200 AS bin FROM documents
            ),
            c AS (
                SELECT lang, bin, CAST(count(*) AS BIGINT) AS n
                FROM b GROUP BY lang, bin
            )
            SELECT lang, bin,
                   CAST(bin * 200 AS BIGINT) AS bin_lo,
                   CAST((bin + 1) * 200 - 1 AS BIGINT) AS bin_hi,
                   n,
                   round(n / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE)
                         + 1e-9, 6) AS share
            FROM c
        """,
        # integer moments are exact on both engines; the cov expression
        # multiplies the sums as DOUBLES (DuckDB sums land in HUGEINT,
        # Spark in long — double×double is the shared exact product while
        # |sum| < 2^53)
        "embedding_cov": """
            WITH comp AS (
                SELECT vec_id,
                       CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
                       -- explicit DOUBLE cast: FLOAT * 1000000.0 stays
                       -- FLOAT in DuckDB (decimal literal), which flips
                       -- floor boundaries vs Spark's double arithmetic
                       CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                                  * 1000000.0 + 0.5) AS BIGINT) AS xq
                FROM embeddings
            ),
            pairs AS (
                SELECT a.i AS i, b.i AS j, a.xq AS xi, b.xq AS xj
                FROM comp a JOIN comp b USING (vec_id)
                WHERE b.i >= a.i
            )
            SELECT i, j,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(xi) AS BIGINT) AS sum_i,
                   CAST(sum(xj) AS BIGINT) AS sum_j,
                   CAST(sum(xi * xj) AS BIGINT) AS s_ij,
                   round((CAST(sum(xi * xj) AS DOUBLE)
                          - CAST(sum(xi) AS DOUBLE) * CAST(sum(xj) AS DOUBLE)
                            / CAST(count(*) AS DOUBLE))
                         / (CAST(count(*) AS DOUBLE) - 1.0) / 1e12
                         + 1e-9, 6) AS cov
            FROM pairs GROUP BY i, j
        """,
        # doubled/quadrupled medians: both engines linearly interpolate
        # (Spark percentile(0.5) ≡ DuckDB median ≡ quantile_cont), so
        # 2·median of integers is integer-valued and floor() is a no-op
        # cast; outlier test is pure integer arithmetic (44478 = 3·1.4826·1e4)
        "robust_outliers": """
            WITH t AS (
                SELECT event_id, event_type,
                       CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq
                FROM events
            ),
            med AS (
                SELECT event_type,
                       CAST(floor(2.0 * median(vq)) AS BIGINT) AS med_x2
                FROM t GROUP BY event_type
            ),
            dev AS (
                SELECT t.event_id, t.event_type, t.vq, med.med_x2,
                       abs(2 * t.vq - med.med_x2) AS dev_x2
                FROM t JOIN med USING (event_type)
            ),
            mad AS (
                SELECT event_type,
                       CAST(floor(2.0 * median(dev_x2)) AS BIGINT) AS mad_x4
                FROM dev GROUP BY event_type
            )
            SELECT dev.event_id, dev.event_type, dev.vq, dev.med_x2,
                   mad.mad_x4, dev.dev_x2,
                   20000 * dev.dev_x2 > 44478 * mad.mad_x4 AS is_outlier,
                   CASE WHEN mad.mad_x4 > 0
                        THEN round(20000.0 * dev.dev_x2
                                   / (14826.0 * mad.mad_x4) + 1e-9, 6)
                   END AS robust_z
            FROM dev JOIN mad USING (event_type)
        """,
        # Gini impurity instead of entropy: rational in the integer role
        # counts, so no libm ln on the hash path
        "conv_summary": """
            WITH tr AS (
                SELECT CAST(user_id AS VARCHAR) AS conv_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1 AS turn_idx,
                       event_type AS role,
                       coalesce(props, '') AS text,
                       CASE WHEN event_type = 'error' THEN event_type END AS tool,
                       ts
                FROM events
            ),
            g AS (
                SELECT conv_id, role, tool,
                       epoch_us(ts) AS us,
                       epoch_us(ts) - lag(epoch_us(ts))
                           OVER (PARTITION BY conv_id ORDER BY turn_idx)
                           AS gap_us,
                       length(text) AS chars
                FROM tr
            ),
            agg AS (
                SELECT conv_id,
                       CAST(count(*) AS BIGINT) AS n_turns,
                       CAST(max(us) - min(us) AS BIGINT) AS duration_us,
                       CAST(count(DISTINCT role) AS BIGINT) AS n_roles,
                       CAST(count(tool) AS BIGINT) AS tool_turns,
                       CAST(sum(chars) AS BIGINT) AS text_chars,
                       CAST(max(gap_us) AS BIGINT) AS max_gap_us
                FROM g GROUP BY conv_id
            ),
            rc AS (
                SELECT conv_id, CAST(sum(c * c) AS BIGINT) AS sum_sq
                FROM (
                    SELECT conv_id, role, count(*) AS c
                    FROM tr GROUP BY conv_id, role
                ) GROUP BY conv_id
            )
            SELECT agg.conv_id, agg.n_turns, agg.duration_us, agg.n_roles,
                   agg.tool_turns, agg.text_chars, agg.max_gap_us,
                   round(agg.text_chars / CAST(agg.n_turns AS DOUBLE)
                         + 1e-9, 6) AS mean_turn_chars,
                   round(CAST(agg.n_turns * agg.n_turns - rc.sum_sq AS DOUBLE)
                         / CAST(agg.n_turns * agg.n_turns AS DOUBLE)
                         + 1e-9, 6) AS role_gini
            FROM agg JOIN rc USING (conv_id)
        """,
        # bucket = h % 64, sign = bit 6 of h via pure modulo (h % 128 <
        # 64) — both engines agree on % of non-negative longs
        "hashed_features": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text),
                                                 {_TOKENS_RE}, 0)) AS tok
                FROM documents
            ),
            h AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok || ':17'), 1, 15))::BIGINT AS h
                FROM toks
            )
            SELECT doc_id, CAST(h % 64 AS BIGINT) AS bucket,
                   CAST(sum(CASE WHEN h % 128 < 64 THEN 1 ELSE -1 END)
                        AS BIGINT) AS val,
                   CAST(count(*) AS BIGINT) AS n_tokens
            FROM h GROUP BY doc_id, bucket
        """,
        "fold_assign": """
            WITH tr AS (
                SELECT CAST(user_id AS VARCHAR) AS conv_id,
                       CASE WHEN event_type = 'error' THEN event_type END AS tool
                FROM events
            ),
            f AS (
                SELECT conv_id, tool,
                       ('0x' || substr(md5(conv_id || ':23'), 1, 15))::BIGINT
                           % 5 AS fold
                FROM tr
            )
            SELECT CAST(fold AS BIGINT) AS fold,
                   CAST(count(DISTINCT conv_id) AS BIGINT) AS n_groups,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(tool) AS BIGINT) AS tool_rows
            FROM f GROUP BY fold
        """,
        # milli-unit quantization so the SQUARED moment stays in int64;
        # the transform multiplies the sums as doubles and sqrt is
        # IEEE-correctly-rounded on both engines
        "standard_scale": """
            WITH t AS (
                SELECT event_id, user_id,
                       CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq,
                       CASE WHEN CAST(('0x' || substr(md5(
                                    CAST(user_id AS VARCHAR) || ':42'), 1, 15)
                                  )::BIGINT AS DOUBLE)
                                 / 1152921504606846976.0 < 0.8
                            THEN 'train' ELSE 'held' END AS split
                FROM events
            ),
            fit AS (
                SELECT CAST(count(*) AS BIGINT) AS n_train,
                       CAST(sum(vq) AS BIGINT) AS sum_q,
                       CAST(sum(vq * vq) AS BIGINT) AS sum_sq_q
                FROM t WHERE split = 'train'
            )
            SELECT event_id, user_id, split, vq, n_train, sum_q, sum_sq_q,
                   round((CAST(vq AS DOUBLE)
                          - CAST(sum_q AS DOUBLE) / CAST(n_train AS DOUBLE))
                         / sqrt((CAST(sum_sq_q AS DOUBLE)
                                 - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE)
                                   / CAST(n_train AS DOUBLE))
                                / (CAST(n_train AS DOUBLE) - 1.0))
                         + 1e-9, 6) AS z
            FROM t, fit
        """,
        # list() over the trailing frame is oldest→newest on both
        # engines under the total (ts, event_id) order; list_reduce's
        # first-element seeding equals the acc=0 fold for acc·2+x
        "ewma": """
            WITH t AS (
                SELECT event_id, user_id, ts,
                       CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq
                FROM events
            ),
            l AS (
                SELECT event_id, user_id,
                       list(vq) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN 20 PRECEDING
                                      AND CURRENT ROW) AS lst
                FROM t
            )
            SELECT event_id, user_id,
                   CAST(list_reduce(list_reverse(lst), (a, b) -> a * 2 + b)
                        AS BIGINT) AS ewma_num,
                   CAST(len(lst) AS BIGINT) AS ewma_len,
                   round(CAST(list_reduce(list_reverse(lst),
                                          (a, b) -> a * 2 + b) AS BIGINT)
                         / (CAST((CAST(1 AS BIGINT) << len(lst)) - 1 AS DOUBLE)
                            * 1000.0) + 1e-9, 6) AS ewma
            FROM l
        """,
        "vocab_growth": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text),
                                                 {_TOKENS_RE}, 0)) AS tok
                FROM documents
            ),
            first AS (
                SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
            ),
            nb AS (
                SELECT first_doc // 150 AS bin,
                       CAST(count(*) AS BIGINT) AS new_types
                FROM first GROUP BY bin
            ),
            tb AS (
                SELECT doc_id // 150 AS bin,
                       CAST(count(*) AS BIGINT) AS n_tokens
                FROM toks GROUP BY bin
            )
            SELECT tb.bin, tb.n_tokens,
                   CAST(coalesce(nb.new_types, 0) AS BIGINT) AS new_types,
                   CAST(sum(coalesce(nb.new_types, 0))
                        OVER cw AS BIGINT) AS cum_types,
                   CAST(sum(tb.n_tokens) OVER cw AS BIGINT) AS cum_tokens,
                   round(CAST(sum(coalesce(nb.new_types, 0)) OVER cw AS DOUBLE)
                         / CAST(sum(tb.n_tokens) OVER cw AS DOUBLE)
                         + 1e-9, 6) AS ttr
            FROM tb LEFT JOIN nb USING (bin)
            WINDOW cw AS (ORDER BY tb.bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        # lift (monotone with PMI) as one rational expression of exact
        # integer counts; rank on the nudge-rounded lift + pair tiebreak
        "pmi_pairs": f"""
            WITH t AS (
                SELECT regexp_extract_all(lower(coalesce(text, '')),
                                          {_TOKENS_RE}, 0) AS ts
                FROM documents
            ),
            pairs AS (
                SELECT unnest(list_transform(range(1, len(ts)),
                                             i -> ts[i] || ' ' || ts[i+1]))
                       AS pair
                FROM t
            ),
            uni AS (SELECT unnest(ts) AS tok FROM t),
            pc AS (SELECT pair, count(*) AS n_ab FROM pairs GROUP BY pair),
            uc AS (SELECT tok, count(*) AS n_tok FROM uni GROUP BY tok),
            tot AS (
                SELECT (SELECT sum(n_tok) FROM uc) AS n_toks_total,
                       (SELECT sum(n_ab) FROM pc) AS n_pairs_total
            ),
            s AS (
                SELECT pair, n_ab,
                       split_part(pair, ' ', 1) AS a,
                       split_part(pair, ' ', 2) AS b
                FROM pc WHERE n_ab >= 5
            )
            SELECT s.pair,
                   CAST(s.n_ab AS BIGINT) AS n_ab,
                   CAST(ua.n_tok AS BIGINT) AS n_a,
                   CAST(ub.n_tok AS BIGINT) AS n_b,
                   round(CAST(s.n_ab AS DOUBLE)
                         * CAST(tot.n_toks_total AS DOUBLE)
                         * CAST(tot.n_toks_total AS DOUBLE)
                         / (CAST(tot.n_pairs_total AS DOUBLE)
                            * CAST(ua.n_tok AS DOUBLE)
                            * CAST(ub.n_tok AS DOUBLE))
                         + 1e-9, 6) AS lift
            FROM s
            JOIN uc ua ON s.a = ua.tok
            JOIN uc ub ON s.b = ub.tok
            CROSS JOIN tot
            ORDER BY lift DESC, pair ASC LIMIT 50
        """,
    }


def _pit_feature_oracle_sql() -> dict[str, str]:
    """Oracles for the recency/expanding/lookahead point-in-time family,
    the rank/winsorize/drift transforms and vocabulary coverage. Every
    float output is either an exact integer vehicle or ONE division
    through the nudged rounding; window orders are total (turn_idx
    derives from (ts, event_id))."""
    tr = """
            SELECT CAST(user_id AS VARCHAR) AS conv_id,
                   CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) - 1
                        AS BIGINT) AS turn_idx,
                   event_type AS role,
                   CASE WHEN event_type = 'error' THEN event_type END AS tool,
                   epoch_us(ts) AS us
            FROM events
    """
    return {
        "recency": f"""
            WITH tr AS ({tr})
            SELECT conv_id, turn_idx,
                   CAST(us - min(us) OVER wall AS BIGINT) AS us_since_conv_start,
                   CAST(us - max(CASE WHEN tool IS NOT NULL THEN us END)
                             OVER wprev AS BIGINT) AS us_since_tool,
                   CAST(turn_idx - max(CASE WHEN role = 'view' THEN turn_idx END)
                                   OVER wprev AS BIGINT) AS turns_since_anchor,
                   CAST(coalesce(count(tool) OVER wprev, 0) AS BIGINT)
                       AS prior_tool_turns
            FROM tr
            WINDOW wall AS (PARTITION BY conv_id ORDER BY turn_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wprev AS (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """,
        "expanding_stats": """
            WITH t AS (
                SELECT event_id, user_id, ts,
                       CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq
                FROM events
            )
            SELECT event_id,
                   CAST(count(vq) OVER wprev AS BIGINT) AS prior_n,
                   CAST(coalesce(sum(vq) OVER wprev, 0) AS BIGINT) AS prior_sum_q,
                   CAST(min(vq) OVER wprev AS BIGINT) AS prior_min_q,
                   CAST(max(vq) OVER wprev AS BIGINT) AS prior_max_q,
                   round(CASE WHEN count(vq) OVER wprev > 0
                              THEN CAST(coalesce(sum(vq) OVER wprev, 0) AS DOUBLE)
                                   / (1e6 * CAST(count(vq) OVER wprev AS DOUBLE))
                         END + 1e-9, 6) AS expanding_mean
            FROM t
            WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """,
        "label_windows": f"""
            WITH tr AS ({tr})
            SELECT conv_id, turn_idx,
                   lead(role) OVER w AS next_role,
                   CAST(coalesce(max(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)
                                 OVER wh, 0) AS BIGINT) AS tool_within_h,
                   CAST(min(CASE WHEN tool IS NOT NULL THEN us END) OVER wf - us
                        AS BIGINT) AS us_to_next_tool
            FROM tr
            WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
                   wh AS (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING),
                   wf AS (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        """,
        "quantile_rank": """
            WITH r AS (
                SELECT doc_id, lang,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY CAST(n_chars AS DOUBLE),
                                                   doc_id) - 1 AS rank,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM documents
            )
            SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank,
                   CAST(n AS BIGINT) AS n,
                   round(CASE WHEN n > 1
                              THEN CAST(rank AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                              ELSE 0.0 END + 1e-9, 6) AS norm_rank
            FROM r
        """,
        # identical interpolation shape as group_quantiles (its green
        # contract); bounds rounded to 6 on BOTH engines before the clip
        "winsorize": """
            WITH ranked AS (
                SELECT lang, CAST(n_chars AS DOUBLE) AS v,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE)
                       ) AS rn
                FROM documents
            ),
            counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            probes AS (
                SELECT lang, n, q,
                       CAST(n - 1 AS DOUBLE) * q AS pos,
                       CAST(floor(CAST(n - 1 AS DOUBLE) * q) AS BIGINT) AS k
                FROM counts,
                     (SELECT unnest([0.05::DOUBLE, 0.95::DOUBLE]) AS q)
            ),
            p2 AS (
                SELECT *, pos - CAST(k AS DOUBLE) AS frac,
                       least(k + 1, n - 1) AS khi
                FROM probes
            ),
            qv AS (
                SELECT p.lang, p.q,
                       round(lo.v + (hi.v - lo.v) * p.frac, 6) AS qval
                FROM p2 p
                JOIN ranked lo ON lo.lang = p.lang AND lo.rn = p.k + 1
                JOIN ranked hi ON hi.lang = p.lang AND hi.rn = p.khi + 1
            ),
            b AS (
                SELECT lang,
                       max(CASE WHEN q = 0.05 THEN qval END) AS w_lo,
                       max(CASE WHEN q = 0.95 THEN qval END) AS w_hi
                FROM qv GROUP BY lang
            )
            SELECT d.doc_id, d.lang, d.n_chars,
                   round(w_lo + 1e-9, 6) AS w_lo,
                   round(w_hi + 1e-9, 6) AS w_hi,
                   round(greatest(w_lo, least(w_hi, CAST(n_chars AS DOUBLE)))
                         + 1e-9, 6) AS winsorized,
                   CAST(CAST(n_chars AS DOUBLE) < w_lo AS BIGINT) AS clipped_lo,
                   CAST(CAST(n_chars AS DOUBLE) > w_hi AS BIGINT) AS clipped_hi
            FROM documents d JOIN b USING (lang)
        """,
        # same md5-60-bit split contract as hash_split; chi2 replayed with
        # the operator's exact double expression order
        "drift_bins": """
            WITH h AS (
                SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 50.0) AS BIGINT)
                           AS bin,
                       CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':42'),
                                                 1, 15))::BIGINT % 2 = 0
                            THEN 1 ELSE 0 END AS is_a
                FROM documents
            ),
            bins AS (
                SELECT bin, CAST(sum(is_a) AS BIGINT) AS n_a,
                       CAST(sum(1 - is_a) AS BIGINT) AS n_b
                FROM h GROUP BY bin
            ),
            t AS (
                SELECT CAST(sum(n_a) AS DOUBLE) AS na_t,
                       CAST(sum(n_b) AS DOUBLE) AS nb_t
                FROM bins
            ),
            x AS (
                SELECT bin, n_a, n_b,
                       CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
                       (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * na_t
                           / (na_t + nb_t) AS ea,
                       (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * nb_t
                           / (na_t + nb_t) AS eb
                FROM bins, t
            )
            SELECT bin, n_a, n_b,
                   round((CASE WHEN ea > 0 THEN (na - ea) * (na - ea) / ea
                               ELSE 0.0 END
                        + CASE WHEN eb > 0 THEN (nb - eb) * (nb - eb) / eb
                               ELSE 0.0 END) + 1e-9, 6) AS chi2
            FROM x
        """,
        "oov_rate": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(coalesce(text, '')),
                                                 {_TOKENS_RE})) AS term
                FROM documents
            ),
            counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
            vocab AS (
                SELECT term FROM (
                    SELECT term, row_number() OVER (ORDER BY cnt DESC, term)
                               AS rk
                    FROM counts
                ) WHERE rk <= 500
            ),
            per AS (
                SELECT t.doc_id,
                       CAST(count(*) AS BIGINT) AS n_tokens,
                       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS oov_tokens
                FROM toks t LEFT JOIN vocab v ON t.term = v.term
                GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   coalesce(n_tokens, 0) AS n_tokens,
                   coalesce(oov_tokens, 0) AS oov_tokens,
                   round(CASE WHEN coalesce(n_tokens, 0) > 0
                              THEN CAST(oov_tokens AS DOUBLE)
                                   / CAST(n_tokens AS DOUBLE)
                         END + 1e-9, 6) AS oov_rate
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
    }


def _sketch_oracle_sql() -> dict[str, str]:
    """Count-Min / HyperLogLog oracles — the sketch STATE is replayed
    cell-exact (pure integer md5/bit arithmetic; `bin()` has identical
    no-leading-zeros semantics on both engines), and the HLL estimate is
    one double division by a folded constant that DuckDB receives as
    CAST('<repr>' AS DOUBLE) (long float literals would parse as DECIMAL
    and lose bits)."""
    from featureextraction_spark.operators.sketches import HLL_EST_NUM

    toks = f"""
            SELECT unnest(regexp_extract_all(lower(coalesce(text, '')),
                                             {_TOKENS_RE})) AS term
            FROM documents
    """
    cms_cells = """
            x AS (
                SELECT term,
                       ('0x' || substr(md5(term || ':0'), 1, 15))::BIGINT AS h0,
                       ('0x' || substr(md5(term || ':1'), 1, 15))::BIGINT AS h1
                FROM toks
            ),
            e AS (
                SELECT d, (h0 + d * h1) % 256 AS bucket
                FROM x, (SELECT unnest([0, 1, 2, 3]) AS d)
            ),
            cms AS (
                SELECT d, bucket, count(*) AS cell_count
                FROM e GROUP BY d, bucket
            )
    """
    probe_list = ", ".join(f"'{t}'" for t in CMS_PROBE_TERMS)
    hll_regs = """
            x AS (
                SELECT ('0x' || substr(md5(term || ':0'), 1, 15))::BIGINT AS h
                FROM toks
            ),
            r AS (
                SELECT h // 4503599627370496 AS register,
                       h % 4503599627370496 AS tail
                FROM x
            ),
            rr AS (
                SELECT register,
                       CASE WHEN tail > 0 THEN 53 - length(bin(tail))
                            ELSE 53 END AS rho
                FROM r
            ),
            m AS (SELECT register, max(rho) AS m_rho FROM rr GROUP BY register),
            gs AS (SELECT unnest(generate_series(0, 255)) AS register),
            f AS (
                SELECT gs.register, coalesce(m_rho, 0) AS m_rho
                FROM gs LEFT JOIN m USING (register)
            )
    """
    return {
        "cms_counts": f"""
            WITH toks AS ({toks}),
            {cms_cells}
            SELECT CAST(d AS BIGINT) AS d, CAST(bucket AS BIGINT) AS bucket,
                   CAST(cell_count AS BIGINT) AS cell_count
            FROM cms
        """,
        "cms_estimate": f"""
            WITH toks AS ({toks}),
            {cms_cells},
            probes AS (SELECT unnest([{probe_list}]) AS term),
            px AS (
                SELECT term,
                       ('0x' || substr(md5(term || ':0'), 1, 15))::BIGINT AS h0,
                       ('0x' || substr(md5(term || ':1'), 1, 15))::BIGINT AS h1
                FROM probes
            ),
            pe AS (
                SELECT term, d, (h0 + d * h1) % 256 AS bucket
                FROM px, (SELECT unnest([0, 1, 2, 3]) AS d)
            ),
            est AS (
                SELECT term, min(coalesce(cell_count, 0)) AS cm_estimate
                FROM pe LEFT JOIN cms USING (d, bucket)
                GROUP BY term
            ),
            tc AS (SELECT term, count(*) AS true_count FROM toks GROUP BY term)
            SELECT e.term, CAST(cm_estimate AS BIGINT) AS cm_estimate,
                   CAST(coalesce(true_count, 0) AS BIGINT) AS true_count
            FROM est e LEFT JOIN tc USING (term)
        """,
        "hll_registers": f"""
            WITH toks AS ({toks}),
            {hll_regs}
            SELECT CAST(register AS BIGINT) AS register,
                   CAST(m_rho AS BIGINT) AS m_rho,
                   CAST(1::BIGINT << CAST(53 - m_rho AS INT) AS BIGINT) AS z
            FROM f
        """,
        "hll_card": f"""
            WITH toks AS ({toks}),
            {hll_regs},
            a AS (
                SELECT CAST(sum(1::BIGINT << CAST(53 - m_rho AS INT))
                            AS BIGINT) AS z_sum,
                       CAST(sum(CASE WHEN m_rho = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_zero_regs
                FROM f
            )
            SELECT z_sum, n_zero_regs,
                   round(CAST('{HLL_EST_NUM!r}' AS DOUBLE)
                         / CAST(z_sum AS DOUBLE) + 1e-9, 6) AS hll_estimate
            FROM a
        """,
    }


def _analytics_oracle_sql() -> dict[str, str]:
    """Range-join oracle: it replays the PLAIN THETA JOIN the bucketized
    rewrite must row-equal."""
    return {
        # the spec the bucketized equi-join rewrite must row-equal
        "range_join": f"""
            WITH p AS (
                SELECT user_id, event_id AS purchase_id,
                       epoch_us(ts) AS start_us,
                       epoch_us(ts) + {RANGE_JOIN_WINDOW_US} AS end_us
                FROM events WHERE event_type = 'purchase'
            ),
            c AS (
                SELECT user_id, event_id AS click_id, epoch_us(ts) AS us
                FROM events WHERE event_type = 'click'
            )
            SELECT p.user_id, purchase_id, click_id, us, start_us
            FROM p JOIN c ON p.user_id = c.user_id
                         AND c.us >= p.start_us AND c.us <= p.end_us
        """,
    }


def _warehouse_oracle_sql() -> dict[str, str]:
    """SCD2 / ROLLUP / pivot / tokenizer-apply oracles.
    generate_subscripts+unnest zip replays posexplode."""
    pivots = ", ".join(
        f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in PIVOT_TYPES
    )
    return {
        "scd2_build": """
            WITH t AS (
                SELECT user_id, event_id, event_type AS state,
                       epoch_us(ts) AS us
                FROM events
            )
            SELECT user_id, event_id, state,
                   CAST(us AS BIGINT) AS valid_from_us,
                   CAST(lead(us) OVER w AS BIGINT) AS valid_to_us,
                   CAST(row_number() OVER w AS BIGINT) AS version
            FROM t
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        """,
        "rollup_counts": """
            WITH t AS (
                SELECT event_type,
                       (epoch_us(ts) % 86400000000) // 3600000000 AS hour,
                       CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq
                FROM events
            )
            SELECT event_type, CAST(hour AS BIGINT) AS hour,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vq) AS BIGINT) AS sum_q,
                   CAST(grouping(event_type) AS BIGINT) AS g1_total,
                   CAST(grouping(hour) AS BIGINT) AS g2_total
            FROM t GROUP BY ROLLUP(event_type, hour)
        """,
        "pivot_counts": f"""
            SELECT user_id, {pivots}
            FROM events GROUP BY user_id
        """,
        "token_ids": f"""
            WITH lists AS (
                SELECT doc_id,
                       regexp_extract_all(lower(coalesce(text, '')),
                                          {_TOKENS_RE}) AS l
                FROM documents
            ),
            toks AS (
                SELECT doc_id,
                       CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS pos,
                       unnest(l) AS term
                FROM lists
            ),
            counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
            v AS (
                SELECT term, rk - 1 AS vid FROM (
                    SELECT term, row_number() OVER (ORDER BY cnt DESC, term)
                               AS rk
                    FROM counts
                ) WHERE rk <= 500
            )
            SELECT t.doc_id, t.pos, t.term,
                   CAST(coalesce(v.vid, -1) AS BIGINT) AS token_id
            FROM toks t LEFT JOIN v USING (term)
        """,
    }


def _sequential_oracle_sql() -> dict[str, str]:
    """Temporal purged split / label-centroid oracles. Integer sums
    promote to HUGEINT in DuckDB — exact, compared after the final
    BIGINT cast; the split cutoff replays the group_quantiles round-6
    interpolation before the floor."""
    return {
        "temporal_split": f"""
            WITH t AS (SELECT event_id, epoch_us(ts) AS us FROM events),
            ranked AS (
                SELECT CAST(us AS DOUBLE) AS v,
                       row_number() OVER (ORDER BY CAST(us AS DOUBLE)) AS rn
                FROM t
            ),
            c AS (SELECT count(*) AS n FROM t),
            p AS (
                SELECT n, CAST(n - 1 AS DOUBLE) * 0.8 AS pos,
                       CAST(floor(CAST(n - 1 AS DOUBLE) * 0.8) AS BIGINT) AS k
                FROM c
            ),
            p2 AS (
                SELECT *, pos - CAST(k AS DOUBLE) AS frac,
                       least(k + 1, n - 1) AS khi
                FROM p
            ),
            cut AS (
                SELECT CAST(floor(round(lo.v + (hi.v - lo.v) * p2.frac, 6))
                            AS BIGINT) AS cutoff
                FROM p2
                JOIN ranked lo ON lo.rn = p2.k + 1
                JOIN ranked hi ON hi.rn = p2.khi + 1
            )
            SELECT event_id,
                   CASE WHEN us < cutoff THEN 'train'
                        WHEN us >= cutoff + {EMBARGO_US} THEN 'test'
                        ELSE 'purged' END AS split,
                   CAST(cutoff AS BIGINT) AS cutoff_us
            FROM t, cut
        """,
        "label_centroids": """
            WITH x AS (
                SELECT label,
                       CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
                           AS dim,
                       unnest(embedding) AS comp
                FROM embeddings
            ),
            q AS (
                SELECT label, dim,
                       CAST(floor(CAST(comp AS DOUBLE) * 1000000.0 + 0.5)
                            AS BIGINT) AS cq
                FROM x
            )
            SELECT CAST(label AS BIGINT) AS label, dim,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cq) AS BIGINT) AS sum_cq,
                   round(CAST(CAST(sum(cq) AS BIGINT) AS DOUBLE)
                         / (1e6 * CAST(count(*) AS DOUBLE)) + 1e-9, 6)
                       AS centroid
            FROM q GROUP BY label, dim
        """,
    }


def _round4m_oracle_sql() -> dict[str, str]:
    """Bloom and skew-profile oracles. Every output
    column is an exact integer or a string — no float rounding boundary
    anywhere — except skew_topk.share_ppm, which is ONE shared-shape
    IEEE division (exact small-integer doubles) under floor. Bloom words
    replay the md5-60-bit double-hash positions."""
    bloom_words = f"""
        keyed AS (
            SELECT CAST(o_custkey AS VARCHAR) AS s
            FROM orders WHERE o_custkey IS NOT NULL
        ),
        hh AS (
            SELECT s,
                   ('0x' || substr(md5(s || ':0'), 1, 15))::BIGINT AS h0,
                   ('0x' || substr(md5(s || ':1'), 1, 15))::BIGINT AS h1
            FROM keyed
        ),
        pos AS (
            SELECT ((h0 % {BLOOM_M}) + j * ((h1 % {BLOOM_M}) * 2 + 1))
                       % {BLOOM_M} AS p
            FROM hh, (SELECT unnest([0, 1, 2, 3, 4]) AS j) js
        ),
        bloom AS (
            SELECT CAST(p // 62 AS BIGINT) AS word,
                   CAST(bit_or(1::BIGINT << CAST(p % 62 AS INT)) AS BIGINT)
                       AS bits
            FROM pos GROUP BY word
        )
    """
    return {
        "bloom_words": f"""
            WITH {bloom_words}
            SELECT word, bits FROM bloom
        """,
        "bloom_probe": f"""
            WITH {bloom_words},
            probes AS (
                SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS x
                FROM customer WHERE c_custkey IS NOT NULL
            ),
            ph AS (
                SELECT x,
                       ('0x' || substr(md5(x || ':0'), 1, 15))::BIGINT AS h0,
                       ('0x' || substr(md5(x || ':1'), 1, 15))::BIGINT AS h1
                FROM probes
            ),
            pp AS (
                SELECT x,
                       ((h0 % {BLOOM_M}) + j * ((h1 % {BLOOM_M}) * 2 + 1))
                           % {BLOOM_M} AS p
                FROM ph, (SELECT unnest([0, 1, 2, 3, 4]) AS j) js
            ),
            pj AS (
                SELECT x, CAST(p // 62 AS BIGINT) AS word,
                       CAST(p % 62 AS INT) AS bit
                FROM pp
            ),
            hit AS (
                SELECT x,
                       CASE WHEN ((coalesce(bits, 0::BIGINT) >> bit) % 2) = 1
                            THEN 1 ELSE 0 END AS h
                FROM pj LEFT JOIN bloom USING (word)
            )
            SELECT x AS c_custkey,
                   CAST(sum(h) AS BIGINT) AS n_hits,
                   CAST(CASE WHEN sum(h) = {BLOOM_K} THEN 1 ELSE 0 END
                        AS BIGINT) AS maybe_member
            FROM hit GROUP BY x
        """,
        "skew_topk": """
            WITH c AS (
                SELECT CAST(user_id AS VARCHAR) AS key,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY key
            ),
            s AS (
                SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
                       CAST(count(*) AS BIGINT) AS n_keys
                FROM c
            ),
            top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT 20)
            SELECT key, cnt, total_rows, n_keys,
                   CAST(floor(CAST(cnt * 1000000 AS DOUBLE)
                              / CAST(total_rows AS DOUBLE)) AS BIGINT)
                       AS share_ppm
            FROM top, s
        """,
        "skew_histogram": """
            WITH c AS (
                SELECT CAST(user_id AS VARCHAR) AS k,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY k
            )
            SELECT CAST(length(bin(cnt)) AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(cnt) AS BIGINT) AS rows_in_bucket
            FROM c GROUP BY bucket
        """,
    }


def _round4n_oracle_sql() -> dict[str, str]:
    """DuckDB replays of the histogram-quantile sketch and the chi2
    term selector. Integer contracts documented at the operators
    (sketches.hist_quantile_estimate, selection.chi2_terms)."""
    return {
        # integer rank = ceil(q*N) via (num*N + den - 1) // den; the
        # answer bin is cum_before < rank <= cum; interpolation is the
        # ONE IEEE division, nudged round-6 like the Spark side
        "hist_quantiles": f"""
            WITH b AS (
                SELECT CAST(n_chars // {HQ_BIN_WIDTH} AS BIGINT) AS bin,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
            ),
            c AS (
                SELECT bin, cnt,
                       CAST(sum(cnt) OVER (
                           ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS cum
                FROM b
            ),
            t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM b),
            q(q_num, q_den) AS (
                VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
                       (CAST(9 AS BIGINT), CAST(10 AS BIGINT)),
                       (CAST(99 AS BIGINT), CAST(100 AS BIGINT))
            ),
            r AS (
                SELECT q_num, q_den,
                       greatest(CAST(1 AS BIGINT),
                                CAST((q_num * n + q_den - 1) // q_den AS BIGINT))
                           AS rank
                FROM q, t
            )
            SELECT r.q_num, r.q_den, r.rank, c.bin, c.cnt AS bin_cnt,
                   round(CAST(c.bin * {HQ_BIN_WIDTH} AS DOUBLE)
                         + CAST((r.rank - (c.cum - c.cnt)) * {HQ_BIN_WIDTH} AS DOUBLE)
                           / CAST(c.cnt AS DOUBLE)
                         + 1e-9, 6) AS est_q
            FROM r JOIN c ON (c.cum - c.cnt) < r.rank AND r.rank <= c.cum
        """,
        # 2x2 presence contingency per term, all-BIGINT numerator and
        # denominator, one division; degenerate marginals score 0
        "chi2_terms": f"""
            WITH base AS (
                SELECT doc_id,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                       text
                FROM documents
            ),
            tot AS (
                SELECT CAST(sum(y) AS BIGINT) AS n1,
                       CAST(sum(1 - y) AS BIGINT) AS n0
                FROM base
            ),
            pres AS (
                SELECT DISTINCT doc_id, y, term FROM (
                    SELECT doc_id, y,
                           unnest(regexp_extract_all(
                               lower(coalesce(text, '')), {_TOKENS_RE})) AS term
                    FROM base
                )
            ),
            cells AS (
                SELECT term,
                       CAST(sum(y) AS BIGINT) AS a,
                       CAST(sum(1 - y) AS BIGINT) AS b
                FROM pres GROUP BY term
            ),
            s AS (
                SELECT term, a, b,
                       CAST(n1 - a AS BIGINT) AS c,
                       CAST(n0 - b AS BIGINT) AS d,
                       n1, n0
                FROM cells, tot WHERE a + b >= 5
            )
            SELECT term, a AS df_pos, b AS df_neg,
                   round(CASE WHEN CAST((a+b)*(c+d)*(a+c)*(b+d) AS BIGINT) = 0
                              THEN 0.0
                              ELSE CAST((n1+n0)*(a*d-b*c)*(a*d-b*c) AS DOUBLE)
                                   / CAST((a+b)*(c+d)*(a+c)*(b+d) AS DOUBLE)
                         END + 1e-9, 6) AS chi2_q
            FROM s
        """,
    }


def _activity_oracle_sql() -> dict[str, str]:
    """DuckDB replays of the rolling-active / HLL-rolling / last-touch
    attribution operators (operators/activity.py). Days are integer
    `//` of epoch µs (no calendar functions, no double division); the
    HLL register math is the sketches portability contract (md5-60-bit,
    bin() rho, integer Z);
    per-channel value totals sum integer thousandths."""
    from featureextraction_spark.operators.sketches import HLL_EST_NUM

    ud = """
            SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
            FROM events
    """
    return {
        "rolling_active": f"""
            WITH ud AS ({ud}),
            dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
            cov AS (
                SELECT day, count(*) AS rolling_active FROM (
                    SELECT DISTINCT user_id, day + o AS day
                    FROM ud, (SELECT unnest(generate_series(0, 6)) AS o)
                ) GROUP BY day
            )
            SELECT CAST(day AS BIGINT) AS day, CAST(dau AS BIGINT) AS dau,
                   CAST(rolling_active AS BIGINT) AS rolling_active
            FROM dau JOIN cov USING (day)
        """,
        "rolling_active_hll": f"""
            WITH h AS (
                SELECT epoch_us(ts) // 86400000000 AS day,
                       ('0x' || substr(md5(user_id::VARCHAR || ':0'), 1, 15))::BIGINT AS h
                FROM events
            ),
            daily AS (
                SELECT day, h // 4503599627370496 AS register,
                       max(CASE WHEN h % 4503599627370496 > 0
                                THEN 53 - length(bin(h % 4503599627370496))
                                ELSE 53 END) AS m_rho
                FROM h GROUP BY 1, 2
            ),
            merged AS (
                SELECT day + o AS day, register, max(m_rho) AS m_rho
                FROM daily, (SELECT unnest(generate_series(0, 6)) AS o)
                GROUP BY 1, 2
            ),
            est AS (
                SELECT day,
                       CAST(sum(1::BIGINT << CAST(53 - m_rho AS INT))
                            AS BIGINT)
                       + (256 - count(*)) * (1::BIGINT << 53) AS z_sum,
                       CAST(count(*) AS BIGINT) AS n_occupied
                FROM merged GROUP BY day
            ),
            days AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day
                     FROM events)
            SELECT CAST(day AS BIGINT) AS day,
                   CAST(z_sum AS BIGINT) AS z_sum, n_occupied,
                   round(CAST('{HLL_EST_NUM!r}' AS DOUBLE)
                         / CAST(z_sum AS DOUBLE) + 1e-9, 6) AS hll_active
            FROM est JOIN days USING (day)
        """,
        "attribution": """
            WITH t AS (
                SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
                FROM events
            ),
            w AS (
                SELECT *,
                       last_value(CASE WHEN event_type <> 'purchase'
                                       THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS touch
                FROM t
            )
            SELECT coalesce(touch, 'direct') AS channel,
                   CAST(count(*) AS BIGINT) AS conversions,
                   CAST(sum(CAST(floor(value * 1000.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS value_q_sum
            FROM w WHERE event_type = 'purchase'
            GROUP BY 1
        """,
    }


def _round4p_oracle_sql() -> dict[str, str]:
    """DuckDB replays of the round-4p batch: JSON schema-on-read
    profile, skew-proof per-group top-k, vocabulary-coverage pruning,
    hash-bucketed negative sampling. All-integer contracts; hashes are the md5-60-bit family."""
    return {
        "json_props": """
            WITH x AS (
                SELECT event_type,
                       CASE WHEN json_valid(props)
                            THEN TRY_CAST(json_extract_string(props, '$.k')
                                          AS BIGINT)
                       END AS k
                FROM events
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(k) AS BIGINT) AS n_present,
                   CAST(min(k) AS BIGINT) AS k_min,
                   CAST(max(k) AS BIGINT) AS k_max,
                   CAST(sum(k) AS BIGINT) AS k_sum
            FROM x GROUP BY event_type
        """,
        "top_docs": """
            SELECT doc_id, lang, source, n_chars, CAST(rnk AS BIGINT) AS rnk
            FROM (
                SELECT doc_id, lang, source, n_chars,
                       row_number() OVER (
                           PARTITION BY lang, source
                           ORDER BY n_chars DESC NULLS LAST, doc_id
                       ) AS rnk
                FROM documents
            ) WHERE rnk <= 3
        """,
        "vocab_prefix": f"""
            WITH toks AS (
                SELECT unnest(regexp_extract_all(
                           lower(coalesce(text, '')), {_TOKENS_RE})) AS term
                FROM documents
            ),
            c AS (
                SELECT term, CAST(count(*) AS BIGINT) AS cnt
                FROM toks GROUP BY term
            ),
            t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
            r AS (
                SELECT term, cnt,
                       CAST(sum(cnt) OVER (
                           ORDER BY cnt DESC, term
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS cum
                FROM c
            )
            SELECT term, cnt, cum
            FROM r, t WHERE (cum - cnt) * 100 < 90 * total
        """,
        "negative_sample": """
            WITH d AS (
                SELECT doc_id,
                       ('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 15))
                           ::BIGINT % 16 AS b
                FROM documents
            ),
            q AS (
                SELECT vec_id,
                       ('0x' || substr(md5(vec_id::VARCHAR || ':8'), 1, 15))
                           ::BIGINT % 16 AS b
                FROM embeddings
            ),
            p AS (
                SELECT vec_id, doc_id,
                       ('0x' || substr(md5(vec_id::VARCHAR || '|'
                                           || doc_id::VARCHAR || ':9'),
                                       1, 15))::BIGINT AS ph
                FROM q JOIN d USING (b)
            ),
            r AS (
                SELECT vec_id, doc_id,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY ph, doc_id
                       ) AS neg_rank
                FROM p
            )
            SELECT vec_id, doc_id, CAST(neg_rank AS BIGINT) AS neg_rank
            FROM r WHERE neg_rank <= 2
        """,
    }


def _round4q_oracle_sql() -> dict[str, str]:
    """DuckDB replays of the round-4q batch: RFM segmentation,
    Z-order layout keys, systematic sampling. Integer-only contracts
    throughout (tiles = rank·5 // n; Morton = shift/mask sums)."""
    return {
        "rfm": """
            WITH pu AS (
                SELECT user_id,
                       max(epoch_us(ts) // 86400000000) AS last_day,
                       CAST(count(*) AS BIGINT) AS f_cnt,
                       CAST(sum(CAST(floor(value * 1000.0 + 0.5) AS BIGINT))
                            AS BIGINT) AS m_q
                FROM events GROUP BY user_id
            ),
            r AS (
                SELECT *,
                       (SELECT max(last_day) FROM pu) - last_day AS r_days,
                       (SELECT count(*) FROM pu) AS n
                FROM pu
            ),
            s AS (
                SELECT user_id, r_days, f_cnt, m_q,
                       (row_number() OVER (ORDER BY r_days, user_id) - 1)
                           * 5 // n + 1 AS r_score,
                       (row_number() OVER (ORDER BY f_cnt, user_id) - 1)
                           * 5 // n + 1 AS f_score,
                       (row_number() OVER (ORDER BY m_q, user_id) - 1)
                           * 5 // n + 1 AS m_score
                FROM r
            )
            SELECT user_id, CAST(r_days AS BIGINT) AS r_days, f_cnt, m_q,
                   CAST(r_score AS BIGINT) AS r_score,
                   CAST(f_score AS BIGINT) AS f_score,
                   CAST(m_score AS BIGINT) AS m_score,
                   CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
                       AS rfm_code
            FROM s
        """,
        "zorder": """
            WITH t AS (
                SELECT event_id, user_id,
                       epoch_us(ts) // 86400000000 AS day
                FROM events
            )
            SELECT event_id, user_id, CAST(day AS BIGINT) AS day,
                   CAST((((user_id >> 0) & 1) << 0) + (((day >> 0) & 1) << 1) + (((user_id >> 1) & 1) << 2) + (((day >> 1) & 1) << 3) + (((user_id >> 2) & 1) << 4) + (((day >> 2) & 1) << 5) + (((user_id >> 3) & 1) << 6) + (((day >> 3) & 1) << 7) + (((user_id >> 4) & 1) << 8) + (((day >> 4) & 1) << 9) + (((user_id >> 5) & 1) << 10) + (((day >> 5) & 1) << 11) + (((user_id >> 6) & 1) << 12) + (((day >> 6) & 1) << 13) + (((user_id >> 7) & 1) << 14) + (((day >> 7) & 1) << 15) + (((user_id >> 8) & 1) << 16) + (((day >> 8) & 1) << 17) + (((user_id >> 9) & 1) << 18) + (((day >> 9) & 1) << 19) + (((user_id >> 10) & 1) << 20) + (((day >> 10) & 1) << 21) + (((user_id >> 11) & 1) << 22) + (((day >> 11) & 1) << 23) + (((user_id >> 12) & 1) << 24) + (((day >> 12) & 1) << 25) + (((user_id >> 13) & 1) << 26) + (((day >> 13) & 1) << 27) + (((user_id >> 14) & 1) << 28) + (((day >> 14) & 1) << 29) + (((user_id >> 15) & 1) << 30) + (((day >> 15) & 1) << 31) + (((user_id >> 16) & 1) << 32) + (((day >> 16) & 1) << 33) + (((user_id >> 17) & 1) << 34) + (((day >> 17) & 1) << 35) + (((user_id >> 18) & 1) << 36) + (((day >> 18) & 1) << 37) + (((user_id >> 19) & 1) << 38) + (((day >> 19) & 1) << 39) + (((user_id >> 20) & 1) << 40) + (((day >> 20) & 1) << 41) AS BIGINT) AS zkey
            FROM t
        """,
        "systematic_sample": """
            SELECT event_id, user_id, event_type FROM (
                SELECT event_id, user_id, event_type,
                       row_number() OVER (ORDER BY event_id) - 1 AS rk
                FROM events
            ) WHERE rk % 10 = 0
        """,
    }


def _round4r_oracle_sql() -> dict[str, str]:
    """DuckDB replay of the mergeable daily-moments lambda pattern:
    build exact-integer per-(day, type) partials once, merge the
    trailing window over the daily table, one closing division."""
    return {
        "rolling_moments": """
            WITH d AS (
                SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                       CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq
                FROM events
            ),
            daily AS (
                SELECT day, event_type,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(vq) AS BIGINT) AS sum_q,
                       CAST(min(vq) AS BIGINT) AS min_q,
                       CAST(max(vq) AS BIGINT) AS max_q,
                       CAST(sum(vq * vq) AS BIGINT) AS sum_sq
                FROM d GROUP BY 1, 2
            ),
            m AS (
                SELECT day + o AS day, event_type, n, sum_q, min_q, max_q,
                       sum_sq
                FROM daily, (SELECT unnest(generate_series(0, 6)) AS o)
            ),
            g AS (
                SELECT day, event_type,
                       CAST(sum(n) AS BIGINT) AS n,
                       CAST(sum(sum_q) AS BIGINT) AS sum_q,
                       CAST(min(min_q) AS BIGINT) AS min_q,
                       CAST(max(max_q) AS BIGINT) AS max_q,
                       CAST(sum(sum_sq) AS BIGINT) AS sum_sq
                FROM m GROUP BY 1, 2
            ),
            days AS (SELECT DISTINCT day FROM d)
            SELECT day, event_type, n, sum_q, min_q, max_q, sum_sq,
                   round(CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)
                         + 1e-9, 6) AS mean_q
            FROM g JOIN days USING (day)
        """,
    }


def _round4s_oracle_sql() -> dict[str, str]:
    """DuckDB replay of the graph/CDC trio: ordered-triple triangle
    enumeration, latest-wins changelog compaction, keyed snapshot diff.
    All integer/string/pass-through-double columns — no float
    arithmetic, so bit-exact across engines by construction."""
    cdc = """
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn
            FROM events {where}
        ) WHERE rn = 1 AND event_type <> 'error'
    """
    return {
        "triangles": """
            WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
            e AS (
                SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            ),
            tri AS (
                SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
                FROM e e1
                JOIN e e2 ON e1.pb = e2.pa
                JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
            ),
            corners AS (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            )
            SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
            FROM corners GROUP BY node
        """,
        "cdc_state": cdc.format(where=""),
        "table_diff": f"""
            WITH old_c AS ({cdc.format(
                where="WHERE epoch_us(ts) < 1705363200000000")}),
            new_c AS ({cdc.format(where="")})
            SELECT COALESCE(o.user_id, n.user_id) AS user_id,
                   CASE WHEN o.user_id IS NULL THEN 'added'
                        WHEN n.user_id IS NULL THEN 'removed'
                        WHEN o.event_type IS NOT DISTINCT FROM n.event_type
                             AND o.value IS NOT DISTINCT FROM n.value
                        THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   o.event_type AS old_event_type,
                   n.event_type AS new_event_type,
                   o.value AS old_value,
                   n.value AS new_value
            FROM old_c o FULL OUTER JOIN new_c n ON o.user_id = n.user_id
        """,
    }


def _round4t_oracle_sql() -> dict[str, str]:
    """DuckDB replay of the eval-metric / data-quality batch. Every
    metric is an integer rational until one closing division; the shared
    +1e-9 nudged rounding guards the only float columns."""
    profile_cols = [
        "event_id", "user_id", "event_type", "props", "ts_us", "value_q"
    ]
    profile_blocks = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_s,
               CAST(max({c}) AS VARCHAR) AS max_s
        FROM p"""
        for c in profile_cols
    )
    return {
        "roc_auc": """
            WITH d AS (
                SELECT CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5)
                            AS BIGINT) AS sq,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS y
                FROM events
            ),
            per AS (
                SELECT sq, CAST(sum(y) AS BIGINT) AS n_pos,
                       CAST(count(*) - sum(y) AS BIGINT) AS n_neg
                FROM d GROUP BY sq
            ),
            cum AS (
                SELECT n_pos, n_neg,
                       CAST(coalesce(sum(n_neg) OVER (
                           ORDER BY sq
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS neg_below
                FROM per
            )
            SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
                   CAST(sum(n_neg) AS BIGINT) AS n_neg,
                   CAST(sum(n_pos * (2 * neg_below + n_neg)) AS BIGINT)
                       AS auc_num2,
                   round(CAST(sum(n_pos * (2 * neg_below + n_neg)) AS DOUBLE)
                         / (2.0 * CAST(sum(n_pos) AS DOUBLE)
                            * CAST(sum(n_neg) AS DOUBLE)) + 1e-9, 6) AS auc
            FROM cum
        """,
        "calibration": """
            WITH d AS (
                SELECT CAST(floor(CAST(value AS DOUBLE) * 1000.0 + 0.5)
                            AS BIGINT) AS sq,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS y
                FROM events
            ),
            binned AS (
                SELECT least(
                           least(greatest(sq, 0), 100000) * 10 // 100000,
                           9) AS bin,
                       sq, y
                FROM d
            )
            SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(sq) AS BIGINT) AS sum_score_q,
                   round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                         + 1e-9, 6) AS pos_rate
            FROM binned GROUP BY bin
        """,
        "ab_test": """
            WITH u AS (
                SELECT user_id,
                       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                           END) AS converted
                FROM events GROUP BY user_id
            ),
            v AS (
                SELECT CASE WHEN ('0x' || substr(md5(
                                CAST(user_id AS VARCHAR) || ':7'), 1, 15)
                            )::BIGINT % 2 = 0
                            THEN 'A' ELSE 'B' END AS variant,
                       converted
                FROM u
            ),
            g AS (
                SELECT
                    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                    CAST(sum(CASE WHEN variant = 'A' AND converted = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
                    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b,
                    CAST(sum(CASE WHEN variant = 'B' AND converted = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
                FROM v
            )
            SELECT n_a, conv_a, n_b, conv_b,
                   CAST((n_a + n_b)
                        * (conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b)
                        * (conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b)
                        AS BIGINT) AS chi2_num,
                   CAST(n_a * n_b * (conv_a + conv_b)
                        * ((n_a - conv_a) + (n_b - conv_b)) AS BIGINT)
                       AS chi2_den,
                   CASE WHEN n_a * n_b * (conv_a + conv_b)
                             * ((n_a - conv_a) + (n_b - conv_b)) <> 0
                        THEN round(
                            CAST((n_a + n_b)
                                 * (conv_a * (n_b - conv_b)
                                    - (n_a - conv_a) * conv_b)
                                 * (conv_a * (n_b - conv_b)
                                    - (n_a - conv_a) * conv_b) AS DOUBLE)
                            / CAST(n_a * n_b * (conv_a + conv_b)
                                   * ((n_a - conv_a) + (n_b - conv_b))
                                   AS DOUBLE) + 1e-9, 6)
                   END AS chi2
            FROM g
        """,
        "scd2_lookup": """
            WITH s AS (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CASE WHEN value < 33 THEN 'bronze'
                            WHEN value < 66 THEN 'silver'
                            ELSE 'gold' END AS tier
                FROM events WHERE event_type = 'signup'
            ),
            dim AS (
                SELECT user_id, tier AS state,
                       us AS valid_from_us,
                       lead(us) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS valid_to_us,
                       CAST(row_number() OVER (PARTITION BY user_id
                                               ORDER BY us, event_id)
                            AS BIGINT) AS version
                FROM s
            ),
            p AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us
                FROM events WHERE event_type = 'purchase'
            )
            SELECT p.user_id, p.event_id, p.ts_us,
                   d.state AS dim_state,
                   d.version AS dim_version,
                   d.valid_from_us AS dim_valid_from_us
            FROM p LEFT JOIN dim d
              ON p.user_id = d.user_id
             AND d.valid_from_us <= p.ts_us
             AND (d.valid_to_us IS NULL OR p.ts_us < d.valid_to_us)
        """,
        "profile": f"""
            WITH p AS (
                SELECT event_id, user_id, event_type, props,
                       epoch_us(ts) AS ts_us,
                       CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5)
                            AS BIGINT) AS value_q
                FROM events
            )
            {profile_blocks}
        """,
        "expectations": """
            WITH g AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0
                                END) AS BIGINT) AS comp_user,
                       CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0
                                END) AS BIGINT) AS comp_value,
                       CAST(sum(CASE WHEN props IS NOT NULL THEN 1 ELSE 0
                                END) AS BIGINT) AS comp_props,
                       CAST(count(DISTINCT event_id) AS BIGINT) AS uni_eid,
                       CAST(sum(CASE WHEN event_type IN
                                ('click','view','purchase','signup','error')
                                THEN 1 ELSE 0 END) AS BIGINT) AS set_type,
                       CAST(sum(CASE WHEN value >= 0.0 AND value <= 100.0
                                THEN 1 ELSE 0 END) AS BIGINT) AS rng_value
                FROM events
            )
            SELECT rule, metric_num, metric_den,
                   CASE WHEN rule = 'min_rows'
                        THEN CAST(metric_num >= metric_den AS BIGINT)
                        ELSE CAST(metric_num = metric_den AS BIGINT)
                   END AS passed
            FROM (
                SELECT 'complete(user_id)' AS rule, comp_user AS metric_num,
                       n AS metric_den FROM g
                UNION ALL SELECT 'complete(value)', comp_value, n FROM g
                UNION ALL SELECT 'complete(props)', comp_props, n FROM g
                UNION ALL SELECT 'unique(event_id)', uni_eid, n FROM g
                UNION ALL SELECT 'in_set(event_type)', set_type, n FROM g
                UNION ALL SELECT 'in_range(value)', rng_value, n FROM g
                UNION ALL SELECT 'min_rows', n, CAST(1000 AS BIGINT) FROM g
            )
        """,
    }


def _round4u_oracle_sql() -> dict[str, str]:
    """DuckDB replay of the positional phrase chain (1-based array index
    shifted to Spark's 0-based posexplode)."""
    w0, w1, w2 = PHRASE_TOKENS
    return {
        "phrase_match": f"""
            WITH t AS (
                SELECT doc_id,
                       regexp_extract_all(lower(text), {_TOKENS_RE}) AS w
                FROM documents
            ),
            p AS (
                SELECT doc_id, g.i - 1 AS pos, w[g.i] AS term
                FROM t, LATERAL (
                    SELECT unnest(generate_series(1, len(w))) AS i
                ) g
                WHERE w[g.i] IN ('{w0}', '{w1}', '{w2}')
            ),
            c0 AS (SELECT doc_id, pos AS p0 FROM p WHERE term = '{w0}'),
            c1 AS (SELECT doc_id, pos - 1 AS p0 FROM p WHERE term = '{w1}'),
            c2 AS (SELECT doc_id, pos - 2 AS p0 FROM p WHERE term = '{w2}')
            SELECT c0.doc_id,
                   CAST(count(*) AS BIGINT) AS n_matches,
                   CAST(min(c0.p0) AS BIGINT) AS first_pos
            FROM c0
            JOIN c1 ON c0.doc_id = c1.doc_id AND c0.p0 = c1.p0
            JOIN c2 ON c0.doc_id = c2.doc_id AND c0.p0 = c2.p0
            GROUP BY c0.doc_id
        """,
        "clustering": """
            WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
            e AS (
                SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            ),
            deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS degree
                FROM (
                    SELECT pa AS node FROM e
                    UNION ALL SELECT pb FROM e
                ) GROUP BY node
            ),
            tri AS (
                SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
                FROM e e1
                JOIN e e2 ON e1.pb = e2.pa
                JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
            ),
            tc AS (
                SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                FROM (
                    SELECT a AS node FROM tri
                    UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri
                ) GROUP BY node
            )
            SELECT d.node, d.degree,
                   CAST(coalesce(t.n_triangles, 0) AS BIGINT)
                       AS n_triangles,
                   CASE WHEN d.degree > 1
                        THEN round(
                            CAST(2 * coalesce(t.n_triangles, 0) AS DOUBLE)
                            / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                            + 1e-9, 6)
                        ELSE 0.0 END AS clustering_coeff
            FROM deg d LEFT JOIN tc t USING (node)
        """,
        "pit_read": """
            WITH clicks AS (
                SELECT user_id, ts, max_by(value, event_id) AS v
                FROM events WHERE event_type = 'click'
                GROUP BY user_id, ts
            ),
            views AS (
                SELECT user_id, ts, max_by(value, event_id) AS v
                FROM events WHERE event_type = 'view'
                GROUP BY user_id, ts
            ),
            s AS (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CASE WHEN value < 33 THEN 'bronze'
                            WHEN value < 66 THEN 'silver'
                            ELSE 'gold' END AS tier
                FROM events WHERE event_type = 'signup'
            ),
            dim AS (
                SELECT user_id, tier AS state,
                       us AS valid_from_us,
                       lead(us) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS valid_to_us,
                       CAST(row_number() OVER (PARTITION BY user_id
                                               ORDER BY us, event_id)
                            AS BIGINT) AS version
                FROM s
            ),
            p AS (
                SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us
                FROM events WHERE event_type = 'purchase'
            )
            SELECT p.user_id, p.event_id, p.ts_us,
                   round(c.v, 4) AS click_value,
                   round(w.v, 4) AS view_value,
                   d.state AS tier,
                   d.version AS tier_version
            FROM p
            ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND c.ts <= p.ts
            ASOF LEFT JOIN views w
              ON p.user_id = w.user_id AND w.ts <= p.ts
            LEFT JOIN dim d
              ON p.user_id = d.user_id
             AND d.valid_from_us <= p.ts_us
             AND (d.valid_to_us IS NULL OR p.ts_us < d.valid_to_us)
        """,
    }


def _round4v_oracle_sql() -> dict[str, str]:
    """DuckDB replay of the resample/eval/fingerprint batch: window
    row_numbers pin OHLC open/close, the sliced AUC is the group-keyed
    cumsum, gains ranks 0-based like with_global_rank, the fingerprint
    folds md5-60 row hashes mod 2^61-1 (HUGEINT sum is exact)."""
    return {
        "resample": """
            WITH b AS (
                SELECT user_id,
                       epoch_us(ts) // 21600000000 AS bucket,
                       epoch_us(ts) AS us, event_id,
                       CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5)
                            AS BIGINT) AS vq
                FROM events
            ),
            m AS (
                SELECT *,
                       row_number() OVER (PARTITION BY user_id, bucket
                                          ORDER BY us, event_id) AS ra,
                       row_number() OVER (PARTITION BY user_id, bucket
                                          ORDER BY us DESC, event_id DESC)
                           AS rd
                FROM b
            )
            SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n,
                   CAST(max(CASE WHEN ra = 1 THEN vq END) AS BIGINT)
                       AS open_q,
                   CAST(max(vq) AS BIGINT) AS high_q,
                   CAST(min(vq) AS BIGINT) AS low_q,
                   CAST(max(CASE WHEN rd = 1 THEN vq END) AS BIGINT)
                       AS close_q,
                   CAST(sum(vq) AS BIGINT) AS sum_q
            FROM m GROUP BY user_id, bucket
        """,
        "auc_slices": """
            WITH d AS (
                SELECT source, CAST(n_chars AS BIGINT) AS sq,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                FROM documents
            ),
            per AS (
                SELECT source, sq, CAST(sum(y) AS BIGINT) AS n_pos,
                       CAST(count(*) - sum(y) AS BIGINT) AS n_neg
                FROM d GROUP BY source, sq
            ),
            cum AS (
                SELECT source, n_pos, n_neg,
                       CAST(coalesce(sum(n_neg) OVER (
                           PARTITION BY source ORDER BY sq
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS neg_below
                FROM per
            )
            SELECT source,
                   CAST(sum(n_pos) AS BIGINT) AS n_pos,
                   CAST(sum(n_neg) AS BIGINT) AS n_neg,
                   CAST(sum(n_pos * (2 * neg_below + n_neg)) AS BIGINT)
                       AS auc_num2,
                   CASE WHEN sum(n_pos) > 0 AND sum(n_neg) > 0
                        THEN round(
                            CAST(sum(n_pos * (2 * neg_below + n_neg))
                                 AS DOUBLE)
                            / (2.0 * CAST(sum(n_pos) AS DOUBLE)
                               * CAST(sum(n_neg) AS DOUBLE)) + 1e-9, 6)
                   END AS auc
            FROM cum GROUP BY source
        """,
        "gains": """
            WITH d AS (
                SELECT CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5)
                            AS BIGINT) AS sq,
                       event_id,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS y
                FROM events
            ),
            t AS (
                SELECT CAST(count(*) AS BIGINT) AS tn,
                       CAST(sum(y) AS BIGINT) AS tpos
                FROM d
            ),
            r AS (
                SELECT y,
                       row_number() OVER (ORDER BY sq DESC, event_id DESC)
                           - 1 AS rk
                FROM d
            ),
            per AS (
                SELECT (rk * 10) // (SELECT tn FROM t) AS bucket,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(y) AS BIGINT) AS n_pos
                FROM r GROUP BY 1
            ),
            cum AS (
                SELECT bucket, n, n_pos,
                       CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT)
                           AS cum_n,
                       CAST(sum(n_pos) OVER (ORDER BY bucket) AS BIGINT)
                           AS cum_pos
                FROM per
            )
            SELECT bucket, n, n_pos, cum_n, cum_pos,
                   CAST(cum_pos * (SELECT tn FROM t) AS BIGINT) AS lift_num,
                   CAST(cum_n * (SELECT tpos FROM t) AS BIGINT) AS lift_den,
                   CASE WHEN cum_n * (SELECT tpos FROM t) <> 0
                        THEN round(
                            CAST(cum_pos * (SELECT tn FROM t) AS DOUBLE)
                            / CAST(cum_n * (SELECT tpos FROM t) AS DOUBLE)
                            + 1e-9, 6)
                   END AS lift
            FROM cum
        """,
        "fingerprint": """
            WITH p AS (
                SELECT coalesce(CAST(event_id AS VARCHAR), '␀') || '|'
                       || coalesce(CAST(user_id AS VARCHAR), '␀') || '|'
                       || coalesce(event_type, '␀') || '|'
                       || coalesce(CAST(epoch_us(ts) AS VARCHAR), '␀')
                       || '|'
                       || coalesce(CAST(CAST(floor(
                              CAST(value AS DOUBLE) * 10000.0 + 0.5)
                              AS BIGINT) AS VARCHAR), '␀') AS canon
                FROM events
            ),
            h AS (
                SELECT ('0x' || substr(md5(canon), 1, 15))::BIGINT AS hv
                FROM p
            )
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(hv) % 2305843009213693951 AS BIGINT)
                       AS fingerprint
            FROM h
        """,
        "ooo_profile": """
            WITH d AS (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       epoch_us(ts)
                       + (('0x' || substr(md5(
                              CAST(event_id AS VARCHAR) || ':9'), 1, 15)
                          )::BIGINT % 120000000) AS arrival_us
                FROM events
            ),
            x AS (
                SELECT us,
                       max(us) OVER (PARTITION BY user_id
                           ORDER BY arrival_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS pm
                FROM d
            ),
            l AS (
                SELECT CASE WHEN pm > us THEN pm - us ELSE 0 END AS late
                FROM x
            )
            SELECT CASE WHEN late > 0
                        THEN CAST(length(bin(late)) AS BIGINT)
                        ELSE 0 END AS bucket,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(max(late) AS BIGINT) AS max_late_us
            FROM l GROUP BY 1
        """,
        # the FROM-SCRATCH aggregate: the Spark side merges two partial
        # sets, so a green hash here IS the algebraic-merge proof
        "incremental": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vq) AS BIGINT) AS sum_q,
                   CAST(min(vq) AS BIGINT) AS min_q,
                   CAST(max(vq) AS BIGINT) AS max_q,
                   CAST(sum(vq * vq) AS BIGINT) AS sum_sq
            FROM (
                SELECT event_type,
                       CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq
                FROM events
            ) GROUP BY event_type
        """,
        "assoc_rules": """
            WITH b AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
            ),
            t AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM b),
            items AS (
                SELECT it, CAST(count(*) AS BIGINT) AS item_n
                FROM b GROUP BY it
            ),
            pairs AS (
                SELECT l.it AS ante, r.it AS cons,
                       CAST(count(*) AS BIGINT) AS pair_n
                FROM b l JOIN b r ON l.bk = r.bk AND l.it <> r.it
                GROUP BY l.it, r.it
                HAVING count(*) >= 3
            )
            SELECT p.ante, p.cons, p.pair_n,
                   a.item_n AS ante_n, c.item_n AS cons_n,
                   (SELECT nb FROM t) AS n_baskets,
                   round(CAST(p.pair_n AS DOUBLE)
                         / CAST(a.item_n AS DOUBLE) + 1e-9, 6)
                       AS confidence,
                   round(CAST(p.pair_n * (SELECT nb FROM t) AS DOUBLE)
                         / CAST(a.item_n * c.item_n AS DOUBLE) + 1e-9, 6)
                       AS lift
            FROM pairs p
            JOIN items a ON a.it = p.ante
            JOIN items c ON c.it = p.cons
        """,
        "threads": """
            WITH o AS (
                SELECT event_id,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) - 1 AS depth,
                       first_value(event_id) OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS root_id
                FROM events
            )
            SELECT event_id AS id, root_id, CAST(depth AS BIGINT) AS depth
            FROM o
        """,
    }


def _round4w_oracle_sql() -> dict[str, str]:
    """Oracles for the retrieval-quality and labeler-agreement reads."""
    dim_vals = ",\n                ".join(
        f"('{w}', '{lang}')"
        for lang, ws in sorted(STOPWORDS.items())
        for w in ws
    )
    return {
        "ranking_eval": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                       label AS qlab
                FROM embeddings WHERE vec_id < 10
            ),
            c AS (
                SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
                       label AS clab
                FROM embeddings
            ),
            scored AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))), 6)
                           AS cosine
                FROM q, c WHERE query_id <> neighbor_id
            ),
            run AS (
                SELECT query_id, neighbor_id, rank FROM (
                    SELECT query_id, neighbor_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cosine DESC,
                                                       neighbor_id) AS rank
                    FROM scored
                ) WHERE rank <= 10
            ),
            qrels AS (
                SELECT q.query_id, c.neighbor_id AS rel_id
                FROM q JOIN c ON q.qlab = c.clab
                WHERE c.neighbor_id <> q.query_id
            ),
            nrel AS (
                SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
                FROM qrels GROUP BY 1
            ),
            j AS (
                SELECT r.query_id, r.rank,
                       CASE WHEN qr.rel_id IS NOT NULL THEN 1 ELSE 0 END
                           AS rel
                FROM run r LEFT JOIN qrels qr
                  ON r.query_id = qr.query_id AND r.neighbor_id = qr.rel_id
            ),
            perq AS (
                SELECT query_id,
                       CAST(sum(rel) AS BIGINT) AS hits,
                       CAST(min(CASE WHEN rel = 1 THEN rank END) AS BIGINT)
                           AS first_rel_rank,
                       CAST(sum(CASE WHEN rel = 1 THEN 2520 // rank
                                     ELSE 0 END) AS BIGINT)
                           AS dcg_lin_x2520
                FROM j GROUP BY 1
            )
            SELECT p.query_id,
                   CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
                   p.hits, p.first_rel_rank,
                   CAST(coalesce(2520 // p.first_rel_rank, 0) AS BIGINT)
                       AS rr_x2520,
                   p.dcg_lin_x2520,
                   round(CAST(p.hits AS DOUBLE) / 10.0 + 1e-9, 6)
                       AS precision_at_10,
                   CASE WHEN coalesce(n.n_rel, 0) > 0
                        THEN round(CAST(p.hits AS DOUBLE)
                                   / CAST(n.n_rel AS DOUBLE) + 1e-9, 6)
                        ELSE CAST(0.0 AS DOUBLE)
                   END AS recall_at_10
            FROM perq p LEFT JOIN nrel n USING (query_id)
        """,
        "kappa": f"""
            WITH dim(word, cand_lang) AS (VALUES
                {dim_vals}
            ),
            toks AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text), {_TOKENS_RE}))
                           AS word
                FROM documents
            ),
            hits AS (
                SELECT doc_id, cand_lang, count(*) AS hits
                FROM toks JOIN dim USING (word) GROUP BY 1, 2
            ),
            best AS (
                SELECT doc_id, cand_lang AS lang_pred
                FROM (SELECT doc_id, cand_lang,
                             row_number() OVER (PARTITION BY doc_id
                                                ORDER BY hits DESC,
                                                         cand_lang) AS rn
                      FROM hits)
                WHERE rn = 1
            ),
            lab AS (
                SELECT d.lang AS a, coalesce(b.lang_pred, 'unknown') AS b
                FROM documents d LEFT JOIN best b USING (doc_id)
            ),
            tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END)
                            AS BIGINT) AS agree
                FROM lab
            ),
            ra AS (SELECT a, CAST(count(*) AS BIGINT) AS r FROM lab
                   GROUP BY 1),
            cb AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM lab
                   GROUP BY 1),
            rc AS (
                SELECT CAST(coalesce(sum(r * c), 0) AS BIGINT) AS rc_sum
                FROM ra JOIN cb ON ra.a = cb.b
            )
            SELECT n, agree, rc_sum,
                   CAST(n * agree - rc_sum AS BIGINT) AS kappa_num,
                   CAST(n * n - rc_sum AS BIGINT) AS kappa_den,
                   CASE WHEN n * n <> rc_sum
                        THEN round(CAST(n * agree - rc_sum AS DOUBLE)
                                   / CAST(n * n - rc_sum AS DOUBLE)
                                   + 1e-9, 6)
                   END AS kappa
            FROM tot, rc
        """,
    }


def _round4x_oracle_sql() -> dict[str, str]:
    """Oracles for the autocorrelation / skyline / Benford reads."""
    from featureextraction_spark.operators.profiling import BENFORD_PPM

    ppm_vals = ", ".join(f"({d}, {p})" for d, p in sorted(BENFORD_PPM.items()))
    lead_win = "PARTITION BY user_id ORDER BY us, event_id"
    return {
        "acf": f"""
            WITH d AS (
                SELECT user_id, epoch_us(ts) AS us, event_id,
                       CAST(floor(CAST(value AS DOUBLE) * 1000.0 + 0.5)
                            AS BIGINT) AS q
                FROM events
            ),
            w AS (
                SELECT user_id, q,
                       CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                           AS n,
                       CAST(sum(q) OVER (PARTITION BY user_id) AS BIGINT)
                           AS s,
                       lead(q, 1) OVER ({lead_win}) AS q1,
                       lead(q, 2) OVER ({lead_win}) AS q2,
                       lead(q, 3) OVER ({lead_win}) AS q3
                FROM d
            ),
            g AS (
                SELECT user_id, CAST(max(n) AS BIGINT) AS n,
                       CAST(sum((n*q - s) * (n*q - s)) AS BIGINT) AS acf_den,
                       CAST(sum(CASE WHEN q1 IS NOT NULL
                                     THEN (n*q - s) * (n*q1 - s)
                                     ELSE 0 END) AS BIGINT) AS num1,
                       CAST(sum(CASE WHEN q2 IS NOT NULL
                                     THEN (n*q - s) * (n*q2 - s)
                                     ELSE 0 END) AS BIGINT) AS num2,
                       CAST(sum(CASE WHEN q3 IS NOT NULL
                                     THEN (n*q - s) * (n*q3 - s)
                                     ELSE 0 END) AS BIGINT) AS num3
                FROM w GROUP BY user_id
            ),
            u AS (
                SELECT user_id, 1 AS lag, n, num1 AS acf_num, acf_den FROM g
                UNION ALL
                SELECT user_id, 2, n, num2, acf_den FROM g
                UNION ALL
                SELECT user_id, 3, n, num3, acf_den FROM g
            )
            SELECT user_id, CAST(lag AS BIGINT) AS lag, n, acf_num, acf_den,
                   CASE WHEN acf_den > 0
                        THEN round(CAST(acf_num AS DOUBLE)
                                   / CAST(acf_den AS DOUBLE) + 1e-9, 6)
                   END AS acf
            FROM u
        """,
        "skyline": """
            WITH d AS (
                SELECT o_orderkey,
                       CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                            AS BIGINT) AS price_q,
                       CAST(date_diff('day', DATE '1970-01-01',
                                      CAST(o_orderdate AS DATE)) AS BIGINT)
                           AS day_q
                FROM orders
            ),
            w AS (
                SELECT *,
                       max(day_q) OVER (
                           ORDER BY price_q DESC
                           RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS m1,
                       max(day_q) OVER (PARTITION BY price_q) AS m2
                FROM d
            )
            SELECT o_orderkey, price_q, day_q FROM w
            WHERE (m1 IS NULL OR m1 < day_q) AND m2 = day_q
        """,
        "benford": f"""
            WITH d AS (
                SELECT event_type AS grp,
                       CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                            AS BIGINT) AS q
                FROM events
            ),
            pos AS (SELECT grp, q FROM d WHERE q > 0),
            counts AS (
                SELECT grp,
                       CAST(substr(CAST(q AS VARCHAR), 1, 1) AS BIGINT)
                           AS digit,
                       CAST(count(*) AS BIGINT) AS n_d
                FROM pos GROUP BY 1, 2
            ),
            ppm(digit, ppm) AS (VALUES {ppm_vals}),
            grid AS (
                SELECT g.grp, CAST(p.digit AS BIGINT) AS digit,
                       CAST(p.ppm AS BIGINT) AS ppm
                FROM (SELECT DISTINCT grp FROM counts) g, ppm p
            ),
            filled AS (
                SELECT grid.grp, grid.digit, grid.ppm,
                       CAST(coalesce(c.n_d, 0) AS BIGINT) AS n_d
                FROM grid LEFT JOIN counts c
                  ON grid.grp = c.grp AND grid.digit = c.digit
            ),
            t AS (
                SELECT *,
                       CAST(sum(n_d) OVER (PARTITION BY grp) AS BIGINT) AS n
                FROM filled
            )
            SELECT grp, digit, n_d, n, ppm,
                   CAST(abs(n_d * 1000000 - n * ppm) AS BIGINT) AS dev_ppm_n,
                   round(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 6)
                       AS ratio
            FROM t
        """,
    }


def _round4y_oracle_sql() -> dict[str, str]:
    """Oracles for the contingency association read."""
    return {
        "contingency": """
            WITH per AS (
                SELECT user_id, event_type, count(*) AS cnt
                FROM events GROUP BY 1, 2
            ),
            modal AS (
                SELECT user_id, event_type AS cat_a FROM (
                    SELECT user_id, event_type,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY cnt DESC,
                                                       event_type) AS rn
                    FROM per
                ) WHERE rn = 1
            ),
            fst AS (
                SELECT user_id, event_type AS cat_b FROM (
                    SELECT user_id, event_type,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY epoch_us(ts),
                                                       event_id) AS rn
                    FROM events
                ) WHERE rn = 1
            ),
            base AS (
                SELECT m.cat_a, a.cat_b
                FROM modal m JOIN fst a USING (user_id)
            ),
            cells AS (
                SELECT cat_a, cat_b, CAST(count(*) AS BIGINT) AS o
                FROM base GROUP BY 1, 2
            ),
            ra AS (SELECT cat_a, CAST(count(*) AS BIGINT) AS r FROM base
                   GROUP BY 1),
            cb AS (SELECT cat_b, CAST(count(*) AS BIGINT) AS c FROM base
                   GROUP BY 1),
            t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
            grid AS (
                SELECT ra.cat_a, cb.cat_b,
                       CAST(coalesce(cells.o, 0) AS BIGINT) AS o,
                       ra.r, cb.c, t.n
                FROM ra CROSS JOIN cb CROSS JOIN t
                LEFT JOIN cells
                  ON cells.cat_a = ra.cat_a AND cells.cat_b = cb.cat_b
            )
            SELECT cat_a, cat_b, o, r, c, n,
                   CAST((n*o - r*c) * (n*o - r*c) AS BIGINT) AS dev_num,
                   CAST(n * r * c AS BIGINT) AS dev_den,
                   CASE WHEN n * r * c > 0
                        THEN round(CAST((n*o - r*c) * (n*o - r*c) AS DOUBLE)
                                   / CAST(n * r * c AS DOUBLE) + 1e-9, 6)
                   END AS chi2_cell
            FROM grid
        """,
    }


def _round4z_oracle_sql() -> dict[str, str]:
    """Oracles for sorted-neighborhood blocking and the k-anonymity
    audit."""
    return {
        "sorted_blocking": """
            WITH r AS (
                SELECT doc_id, lower(substr(text, 1, 12)) AS k,
                       CAST(row_number() OVER (
                           ORDER BY lower(substr(text, 1, 12)), doc_id) - 1
                           AS BIGINT) AS rnk
                FROM documents
            )
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   a.rnk AS rank_a, b.rnk AS rank_b,
                   a.k AS key_a, b.k AS key_b
            FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 3
        """,
        "kanon": """
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS grp_n,
                   CAST(count(DISTINCT n_chars // 100) AS BIGINT)
                       AS n_sensitive,
                   CAST(CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END
                        AS BIGINT) AS k_ok,
                   CAST(CASE WHEN count(DISTINCT n_chars // 100) >= 2
                             THEN 1 ELSE 0 END AS BIGINT) AS l_ok
            FROM documents GROUP BY 1, 2
        """,
    }


def _round4aa_oracle_sql() -> dict[str, str]:
    """Oracles for BFS hop distance and reciprocal-rank fusion."""
    import math

    L = math.lcm(*range(61, 71))
    return {
        "bfs": """
            WITH RECURSIVE e0 AS (
                SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                WHERE a.l_partkey < b.l_partkey
            ),
            e AS (
                SELECT src, dst FROM e0
                UNION
                SELECT dst, src FROM e0
            ),
            seeds AS (
                SELECT DISTINCT l_partkey AS node FROM lineitem
                WHERE l_partkey % 97 = 0
            ),
            walk(node, hop) AS (
                SELECT node, 0 FROM seeds
                UNION
                SELECT e.dst, w.hop + 1
                FROM walk w JOIN e ON e.src = w.node
                WHERE w.hop < 4
            )
            SELECT node, CAST(min(hop) AS BIGINT) AS hop
            FROM walk GROUP BY node
        """,
        "rrf": f"""
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 10
            ),
            c AS (
                SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
                FROM embeddings
            ),
            s AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))), 6)
                           AS cosine,
                       round(list_dot_product(qv, cv), 6) AS dot
                FROM q, c WHERE query_id <> neighbor_id
            ),
            ra AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC,
                                                   neighbor_id) AS r
                FROM s
            ),
            rb AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dot DESC,
                                                   neighbor_id) AS r
                FROM s
            ),
            u AS (
                SELECT query_id, neighbor_id, r FROM ra WHERE r <= 10
                UNION ALL
                SELECT query_id, neighbor_id, r FROM rb WHERE r <= 10
            ),
            g AS (
                SELECT query_id, neighbor_id,
                       CAST(count(*) AS BIGINT) AS n_runs,
                       CAST(sum({L} // (60 + r)) AS BIGINT) AS rrf_num
                FROM u GROUP BY 1, 2
            ),
            f AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY rrf_num DESC,
                                                      neighbor_id)
                              AS fused_rank
                FROM g
            )
            SELECT query_id, neighbor_id, n_runs, rrf_num,
                   CAST(fused_rank AS BIGINT) AS fused_rank
            FROM f WHERE fused_rank <= 10
        """,
    }


def _round4ab_oracle_sql() -> dict[str, str]:
    """Oracles for the KS drift read."""
    return {
        "ks": """
            WITH base AS (
                SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                            AS BIGINT) AS vq,
                       event_type AS g
                FROM events
                WHERE event_type IN ('purchase', 'view')
            ),
            per AS (
                SELECT vq,
                       CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)
                            AS BIGINT) AS cnt_a,
                       CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END)
                            AS BIGINT) AS cnt_b
                FROM base GROUP BY vq
            ),
            t AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
                         CAST(sum(cnt_b) AS BIGINT) AS n_b
                  FROM per),
            c AS (
                SELECT vq,
                       CAST(sum(cnt_a) OVER (ORDER BY vq) AS BIGINT) AS ca,
                       CAST(sum(cnt_b) OVER (ORDER BY vq) AS BIGINT) AS cb
                FROM per
            ),
            dev AS (
                SELECT vq,
                       abs(ca * (SELECT n_b FROM t)
                           - cb * (SELECT n_a FROM t)) AS d
                FROM c
            ),
            m AS (SELECT CAST(max(d) AS BIGINT) AS d_num FROM dev)
            SELECT (SELECT n_a FROM t) AS n_a,
                   (SELECT n_b FROM t) AS n_b,
                   (SELECT CAST(min(vq) AS BIGINT) FROM dev, m
                    WHERE dev.d = m.d_num) AS at_vq,
                   m.d_num,
                   CAST((SELECT n_a * n_b FROM t) AS BIGINT) AS d_den,
                   CASE WHEN (SELECT n_a * n_b FROM t) > 0
                        THEN round(CAST(m.d_num AS DOUBLE)
                                   / CAST((SELECT n_a * n_b FROM t)
                                          AS DOUBLE) + 1e-9, 6)
                   END AS d
            FROM m
        """,
    }


def _round4ac_oracle_sql() -> dict[str, str]:
    """Oracles for neighbor aggregation and dispersion."""
    return {
        "neighbor_agg": """
            WITH e0 AS (
                SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                WHERE a.l_partkey < b.l_partkey
            ),
            e AS (
                SELECT src AS s, dst AS d FROM e0
                UNION
                SELECT dst, src FROM e0
            ),
            f AS (
                SELECT p_partkey AS node,
                       CAST(floor(CAST(p_retailprice AS DOUBLE) * 100.0
                                  + 0.5) AS BIGINT) AS q
                FROM part
            ),
            m AS (
                SELECT e.d AS node, CAST(count(*) AS BIGINT) AS degree,
                       CAST(sum(f.q) AS BIGINT) AS nbr_sum_q
                FROM e JOIN f ON f.node = e.s GROUP BY e.d
            )
            SELECT f.node, f.q AS self_q,
                   CAST(coalesce(m.degree, 0) AS BIGINT) AS degree,
                   CAST(coalesce(m.nbr_sum_q, 0) AS BIGINT) AS nbr_sum_q,
                   CASE WHEN coalesce(m.degree, 0) > 0
                        THEN round(CAST(m.nbr_sum_q AS DOUBLE)
                                   / CAST(m.degree AS DOUBLE) + 1e-9, 6)
                   END AS nbr_mean
            FROM f LEFT JOIN m USING (node)
        """,
        "dispersion": """
            WITH q AS (
                SELECT event_type,
                       CAST(floor(CAST(value AS DOUBLE) * 10.0 + 0.5)
                            AS BIGINT) AS q
                FROM events
            ),
            g AS (
                SELECT event_type AS grp,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(q) AS BIGINT) AS sum_q,
                       CAST(sum(q * q) AS BIGINT) AS sum_q2
                FROM q GROUP BY event_type
            )
            SELECT grp, n, sum_q, sum_q2,
                   CAST(n * sum_q2 - sum_q * sum_q AS BIGINT) AS disp_num,
                   CAST(n * sum_q AS BIGINT) AS disp_den,
                   CASE WHEN n * sum_q <> 0
                        THEN round(CAST(n * sum_q2 - sum_q * sum_q
                                        AS DOUBLE)
                                   / (CAST(n * sum_q AS DOUBLE)
                                      * CAST('10' AS DOUBLE)) + 1e-9, 6)
                   END AS dispersion
            FROM g
        """,
    }


_GINI_SCAN_SQL = """
    WITH v AS (
        SELECT source AS grp,
               CAST(floor(CAST(n_chars AS DOUBLE) * 1.0 + 0.5)
                    AS BIGINT) AS threshold,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos
        FROM documents GROUP BY 1, 2
    ),
    s AS (
        SELECT grp, threshold,
               CAST(sum(cnt) OVER w AS BIGINT) AS n_l,
               CAST(sum(pos) OVER w AS BIGINT) AS pos_l,
               CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n,
               CAST(sum(pos) OVER (PARTITION BY grp) AS BIGINT) AS p
        FROM v
        WINDOW w AS (PARTITION BY grp ORDER BY threshold
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scan AS (
        SELECT grp, threshold, n_l, pos_l,
               CAST(n_l - pos_l AS BIGINT) AS neg_l,
               CAST(n - n_l AS BIGINT) AS n_r,
               CAST(p - pos_l AS BIGINT) AS pos_r,
               CAST((n - n_l) - (p - pos_l) AS BIGINT) AS neg_r,
               CAST(pos_l * (n_l - pos_l) * (n - n_l)
                    + (p - pos_l) * ((n - n_l) - (p - pos_l)) * n_l
                    AS BIGINT) AS cost_num,
               CAST(n_l * (n - n_l) AS BIGINT) AS cost_den,
               CAST(pos_l * (n_l - pos_l) * (n - n_l)
                    + (p - pos_l) * ((n - n_l) - (p - pos_l)) * n_l
                    AS DOUBLE)
                   / CAST(n_l * (n - n_l) AS DOUBLE) AS cost_raw
        FROM s WHERE n > n_l
    )
"""


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled fixed-round peeling — the same `rounds` synchronous
    sweeps the Spark loop runs, one (degree, removal, edge-filter) CTE
    triple per sweep; an already-converged sweep is a no-op on both
    engines, so the unroll depth only has to be >= the Spark budget."""
    parts = [
        """e1 AS MATERIALIZED (
            SELECT s, d FROM w UNION SELECT d, s FROM w
        )""",
        """a1 AS MATERIALIZED (
            SELECT DISTINCT s AS node FROM e1
        )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
                SELECT s AS node, CAST(count(*) AS BIGINT) AS deg
                FROM e{r} GROUP BY s
            )"""
        )
        # doomed = ALIVE nodes with alive-degree < k (zero-degree
        # stragglers included — they vanish from d{r} but stay in a{r})
        parts.append(
            f"""r{r} AS MATERIALIZED (
                SELECT a{r}.node,
                       CAST(coalesce(d{r}.deg, 0) AS BIGINT) AS deg
                FROM a{r} LEFT JOIN d{r} ON d{r}.node = a{r}.node
                WHERE coalesce(d{r}.deg, 0) < {k}
            )"""
        )
        parts.append(
            f"""a{r + 1} AS MATERIALIZED (
                SELECT node FROM a{r}
                WHERE node NOT IN (SELECT node FROM r{r})
            )"""
        )
        parts.append(
            f"""e{r + 1} AS MATERIALIZED (
                SELECT s, d FROM e{r}
                WHERE s NOT IN (SELECT node FROM r{r})
                  AND d NOT IN (SELECT node FROM r{r})
            )"""
        )
    removed = "\nUNION ALL ".join(
        f"SELECT node, CAST({r} AS BIGINT) AS removed_round, deg FROM r{r}"
        for r in range(1, rounds + 1)
    )
    return f"""
        WITH w AS MATERIALIZED (
            SELECT a.l_partkey AS s, b.l_partkey AS d
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(DISTINCT a.l_orderkey) >= 2
        ),
        {", ".join(parts)},
        dfin AS (
            SELECT s AS node, CAST(count(*) AS BIGINT) AS deg
            FROM e{rounds + 1} GROUP BY s
        ),
        removed AS ({removed})
        SELECT a{rounds + 1}.node, CAST(0 AS BIGINT) AS removed_round,
               CAST(coalesce(dfin.deg, 0) AS BIGINT) AS deg
        FROM a{rounds + 1} LEFT JOIN dfin ON dfin.node = a{rounds + 1}.node
        UNION ALL
        SELECT node, removed_round, deg FROM removed
    """


def _round4ad_oracle_sql() -> dict[str, str]:
    """Oracles for the Gini stump scan, k-core peeling and RI audit."""

    def _ri_one(name: str, child: str, ckey: str, parent: str, pkey: str) -> str:
        return f"""
            SELECT '{name}' AS relation,
                   (SELECT CAST(count(*) AS BIGINT) FROM {child})
                       AS child_rows,
                   (SELECT CAST(count(*) AS BIGINT) FROM {child}
                    WHERE {ckey} IS NULL) AS null_key_rows,
                   (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM (
                        SELECT {ckey} AS k, count(*) AS c FROM {child}
                        WHERE {ckey} IS NOT NULL GROUP BY 1
                    ) kk WHERE kk.k NOT IN (
                        SELECT {pkey} FROM {parent} WHERE {pkey} IS NOT NULL
                    )) AS orphan_rows,
                   (SELECT CAST(count(*) AS BIGINT) FROM (
                        SELECT DISTINCT {ckey} AS k FROM {child}
                        WHERE {ckey} IS NOT NULL
                    ) kk WHERE kk.k NOT IN (
                        SELECT {pkey} FROM {parent} WHERE {pkey} IS NOT NULL
                    )) AS orphan_keys
        """

    return {
        "gini_split": _GINI_SCAN_SQL
        + """
            SELECT grp, threshold, n_l, pos_l, neg_l, n_r, pos_r, neg_r,
                   cost_num, cost_den,
                   round(cost_raw + 1e-9, 6) AS cost
            FROM scan
        """,
        "gini_best": _GINI_SCAN_SQL
        + """
            , ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY grp ORDER BY cost_raw, threshold) AS rn
                FROM scan
            )
            SELECT grp, threshold, n_l, pos_l, neg_l, n_r, pos_r, neg_r,
                   cost_num, cost_den,
                   round(cost_raw + 1e-9, 6) AS cost
            FROM ranked WHERE rn = 1
        """,
        "kcore": _kcore_oracle_sql(KCORE_K, KCORE_ROUNDS),
        "ri_audit": "\nUNION ALL\n".join(
            [
                _ri_one("orders->customer", "orders", "o_custkey",
                        "customer", "c_custkey"),
                _ri_one("lineitem->orders", "lineitem", "l_orderkey",
                        "orders", "o_orderkey"),
                _ri_one("lineitem->part", "lineitem", "l_partkey",
                        "part", "p_partkey"),
                _ri_one("events->customer", "events", "user_id",
                        "customer", "c_custkey"),
            ]
        ),
    }


def _round4ae_oracle_sql() -> dict[str, str]:
    """Oracles for Welch t² and the correlation matrix —
    the double expressions mirror the Spark trees operation for
    operation (casts of exact int64 then correctly-rounded IEEE ops)."""

    def _corr_pair(a: str, b: str) -> str:
        return f"""
            SELECT '{a}' AS col_x, '{b}' AS col_y, n,
                   s_{a} AS sum_x, s_{b} AS sum_y, sp_{a}_{b} AS sum_xy,
                   CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS BIGINT) AS cov_num,
                   CAST(n * ss_{a} - s_{a} * s_{a} AS BIGINT) AS varx_num,
                   CAST(n * ss_{b} - s_{b} * s_{b} AS BIGINT) AS vary_num,
                   CAST(sign(CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE))
                        AS BIGINT) AS r_sign,
                   CASE WHEN n * ss_{a} - s_{a} * s_{a} > 0
                             AND n * ss_{b} - s_{b} * s_{b} > 0
                        THEN round(
                            CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE)
                            * CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE)
                            / (CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE)
                               * CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE))
                            + 1e-9, 6)
                   END AS r2
            FROM g
        """

    c = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    corr_sums = []
    for name, quant in [
        ("l_quantity", "1.0"),
        ("l_extendedprice", "0.01"),
        ("l_discount", "100.0"),
        ("l_tax", "100.0"),
    ]:
        corr_sums.append(
            f"CAST(sum(q_{name}) AS BIGINT) AS s_{name}, "
            f"CAST(sum(q_{name} * q_{name}) AS BIGINT) AS ss_{name}"
        )
    corr_pairs_sums = ", ".join(
        f"CAST(sum(q_{a} * q_{b}) AS BIGINT) AS sp_{a}_{b}"
        for i, a in enumerate(c)
        for b in c[i + 1 :]
    )
    corr_union = "\nUNION ALL\n".join(
        _corr_pair(a, b) for i, a in enumerate(c) for b in c[i + 1 :]
    )
    return {
        "welch": """
            WITH u AS (
                SELECT event_type AS grp,
                       CASE WHEN ('0x' || substr(md5(
                                CAST(user_id AS VARCHAR) || ':7'), 1, 15)
                            )::BIGINT % 2 = 0
                            THEN 'A' ELSE 'B' END AS variant,
                       CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                            AS BIGINT) AS q
                FROM events
            ),
            g AS (
                SELECT grp,
                       CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_a,
                       CAST(sum(CASE WHEN variant = 'A' THEN q ELSE 0 END)
                            AS BIGINT) AS s_a,
                       CAST(sum(CASE WHEN variant = 'A' THEN q * q ELSE 0 END)
                            AS BIGINT) AS q2_a,
                       CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_b,
                       CAST(sum(CASE WHEN variant = 'B' THEN q ELSE 0 END)
                            AS BIGINT) AS s_b,
                       CAST(sum(CASE WHEN variant = 'B' THEN q * q ELSE 0 END)
                            AS BIGINT) AS q2_b
                FROM u GROUP BY grp
            ),
            v AS (
                SELECT grp, n_a, s_a, q2_a, n_b, s_b, q2_b,
                       CAST(n_a * q2_a - s_a * s_a AS BIGINT) AS var_num_a,
                       CAST(n_b * q2_b - s_b * s_b AS BIGINT) AS var_num_b
                FROM g
            ),
            w AS (
                SELECT *,
                       CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                           - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS d,
                       CAST(var_num_a AS DOUBLE)
                           / CAST(n_a * (n_a - 1) AS DOUBLE)
                           / CAST(n_a AS DOUBLE) AS u_a,
                       CAST(var_num_b AS DOUBLE)
                           / CAST(n_b * (n_b - 1) AS DOUBLE)
                           / CAST(n_b AS DOUBLE) AS u_b
                FROM v
            )
            SELECT grp, n_a, s_a, q2_a, n_b, s_b, q2_b,
                   var_num_a, var_num_b,
                   CASE WHEN n_a > 1 AND n_b > 1 AND u_a + u_b > 0
                        THEN round(d * d / (u_a + u_b) + 1e-9, 6)
                   END AS t2,
                   CASE WHEN n_a > 1 AND n_b > 1 AND u_a + u_b > 0
                        THEN round((u_a + u_b) * (u_a + u_b)
                                   / (u_a * u_a / CAST(n_a - 1 AS DOUBLE)
                                      + u_b * u_b / CAST(n_b - 1 AS DOUBLE))
                                   + 1e-9, 6)
                   END AS df_w
            FROM w
        """,
        "corr_matrix": f"""
            WITH q AS (
                SELECT
                    CAST(floor(CAST(l_quantity AS DOUBLE) * 1.0 + 0.5)
                         AS BIGINT) AS q_l_quantity,
                    CAST(floor(CAST(l_extendedprice AS DOUBLE) * 0.01 + 0.5)
                         AS BIGINT) AS q_l_extendedprice,
                    CAST(floor(CAST(l_discount AS DOUBLE) * 100.0 + 0.5)
                         AS BIGINT) AS q_l_discount,
                    CAST(floor(CAST(l_tax AS DOUBLE) * 100.0 + 0.5)
                         AS BIGINT) AS q_l_tax
                FROM lineitem
            ),
            g AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       {", ".join(corr_sums)},
                       {corr_pairs_sums}
                FROM q
            )
            {corr_union}
        """,
    }


def _pagerank_oracle_sql(rounds: int) -> str:
    """Unrolled fixed-round integer PageRank — one (contribution,
    rank-update) CTE pair per synchronous step, the exact `div`/`//`
    arithmetic of ``graph.pagerank_fixed``; base_q = 150000 =
    ((20-17)*1e6) div 20."""
    parts = [
        """e AS MATERIALIZED (
            SELECT s, d FROM w UNION SELECT d, s FROM w
        )""",
        """od AS MATERIALIZED (
            SELECT s AS node, CAST(count(*) AS BIGINT) AS outdeg
            FROM e GROUP BY s
        )""",
        """r0 AS MATERIALIZED (
            SELECT node, CAST(1000000 AS BIGINT) AS rank_q FROM od
        )""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""c{i} AS MATERIALIZED (
                SELECT e.d AS node,
                       CAST(sum(r{i - 1}.rank_q // od.outdeg) AS BIGINT)
                           AS in_q
                FROM e
                JOIN r{i - 1} ON r{i - 1}.node = e.s
                JOIN od ON od.node = e.s
                GROUP BY e.d
            )"""
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
                SELECT od.node,
                       CAST(150000 + (17 * coalesce(c{i}.in_q,
                                CAST(0 AS BIGINT))) // 20 AS BIGINT)
                           AS rank_q
                FROM od LEFT JOIN c{i} ON c{i}.node = od.node
            )"""
        )
    return f"""
        WITH w AS MATERIALIZED (
            SELECT a.l_partkey AS s, b.l_partkey AS d
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(DISTINCT a.l_orderkey) >= 2
        ),
        {", ".join(parts)}
        SELECT od.node, od.outdeg, r{rounds}.rank_q,
               round(CAST(r{rounds}.rank_q AS DOUBLE)
                     / CAST(1000000 AS DOUBLE) + 1e-9, 6) AS pr
        FROM r{rounds} JOIN od ON od.node = r{rounds}.node
    """


def _round4af_oracle_sql() -> dict[str, str]:
    """Oracles for fixed-round PageRank, the concurrency sweep-line and
    the readability scores."""
    return {
        "pagerank": _pagerank_oracle_sql(PAGERANK_ROUNDS),
        "concurrency": """
            WITH iv AS (
                SELECT event_type,
                       user_id,
                       CAST(min(epoch_us(ts)) AS BIGINT) AS s_us,
                       CAST(max(epoch_us(ts)) AS BIGINT) AS e_us
                FROM events GROUP BY 1, 2
            ),
            d AS (
                SELECT event_type, s_us AS t, 1 AS delta, 0 AS tie, user_id
                FROM iv
                UNION ALL
                SELECT event_type, e_us, -1, 1, user_id FROM iv
            ),
            r AS (
                SELECT event_type, t,
                       CAST(sum(delta) OVER (
                            PARTITION BY event_type
                            ORDER BY t, tie, user_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS run
                FROM d
            ),
            m AS (
                SELECT event_type, max(run) AS mx FROM r GROUP BY event_type
            ),
            p AS (
                SELECT r.event_type,
                       CAST(min(r.t) AS BIGINT) AS peak_us,
                       CAST(min(m.mx) AS BIGINT) AS max_concurrent
                FROM r JOIN m ON m.event_type = r.event_type
                            AND r.run = m.mx
                GROUP BY r.event_type
            ),
            n AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals
                FROM iv GROUP BY event_type
            )
            SELECT n.event_type, n.n_intervals, p.max_concurrent, p.peak_us
            FROM n JOIN p ON p.event_type = n.event_type
        """,
        "readability": f"""
            WITH base AS (
                SELECT doc_id,
                       greatest(CAST(len(regexp_extract_all(
                            coalesce(text, ''), '[.!?]+')) AS BIGINT),
                            1) AS sentences,
                       regexp_extract_all(lower(coalesce(text, '')),
                            {_TOKENS_RE}) AS ts
                FROM documents
            ),
            tok AS (
                SELECT doc_id, unnest(ts) AS w FROM base
            ),
            syl AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS words,
                       CAST(sum(greatest(len(regexp_extract_all(
                            w, '[aeiouy]+')), 1)) AS BIGINT) AS syllables
                FROM tok GROUP BY doc_id
            ),
            agg AS (
                SELECT b.doc_id, b.sentences,
                       CAST(coalesce(s.words, 0) AS BIGINT) AS words,
                       CAST(coalesce(s.syllables, 0) AS BIGINT) AS syllables
                FROM base b LEFT JOIN syl s ON s.doc_id = b.doc_id
            )
            SELECT doc_id, words, sentences, syllables,
                   CASE WHEN words > 0 THEN CAST(
                        206835 * sentences * words - 1015 * words * words
                        - 84600 * syllables * sentences AS BIGINT)
                   END AS flesch_num,
                   CASE WHEN words > 0 THEN CAST(
                        390 * words * words + 11800 * syllables * sentences
                        - 15590 * sentences * words AS BIGINT)
                   END AS fk_num,
                   CASE WHEN words > 0
                        THEN CAST(1000 * sentences * words AS BIGINT)
                   END AS rd_den,
                   CASE WHEN words > 0 THEN round(
                        CAST(206835 * sentences * words
                             - 1015 * words * words
                             - 84600 * syllables * sentences AS DOUBLE)
                        / CAST(1000 * sentences * words AS DOUBLE)
                        + 1e-9, 6)
                   END AS flesch,
                   CASE WHEN words > 0 THEN round(
                        CAST(390 * words * words
                             + 11800 * syllables * sentences
                             - 15590 * sentences * words AS DOUBLE)
                        / CAST(1000 * sentences * words AS DOUBLE)
                        + 1e-9, 6)
                   END AS fk_grade
            FROM agg
        """,
    }
