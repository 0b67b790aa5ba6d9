"""Embedding-evaluation dataflow: all-pairs similarity → thresholded
confusion counts → derived metrics.

Re-expresses the reference's evaluation pipeline
(``src/training/statistics.py``) relationally:

* all-pairs generation ``(i, j) for j > i`` (``statistics.py:17-25``) →
  a theta self-join with an ordering predicate (SURVEY.md J4);
* per-pair manhattan / euclidean distance (``statistics.py:9-14``) →
  JVM-side ``zip_with``/``aggregate`` fold, no Python;
* thresholded tp/tn/fp/fn (``statistics.py:28-51``: a SAME-label pair is
  a true positive iff ``distance <= threshold``, a DIFFERENT-label pair a
  true negative iff ``distance > threshold``) → explode the threshold list
  against the pair table and aggregate conditional counts (A16);
* recall / precision / accuracy / balanced accuracy / F1 with the
  reference's zero-guards (``statistics.py:102-132``) → post-aggregation
  column arithmetic (A17).

The reference fans pairs out to a process pool in 1000-pair batches and
sums partial confusion counts (``statistics.py:71-90``) — that partial →
final combine is exactly Spark's partial aggregation (A18), free in
``groupBy().agg()``.

Scale notes: all-pairs is O(n²) by definition — callers bound n (the
reference evaluates one embedded test split at a time). The pair join
broadcasts the right side when small; the threshold explode multiplies
rows BEFORE the aggregate but AFTER the distance is computed once per
pair, so each distance is evaluated once, not once per threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _manhattan(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _euclid(a: Column, b: Column) -> Column:
    d = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.sqrt(
        F.aggregate(F.transform(d, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


_METRICS = {"manhattan": _manhattan, "euclidean": _euclid}


def all_pairs_distances(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    metric: str = "manhattan",
    broadcast_right: bool = True,
) -> DataFrame:
    """J4: ordered all-pairs ``(a_id < b_id)`` with per-pair distance.

    Returns ``(a_id, b_id, distance, same_label)``. ``same_label`` is the
    reference's ``y_pair[0] == y_pair[1]`` (``statistics.py:35``).
    """
    dist_fn = _METRICS[metric]
    a = df.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("__va"),
        F.col(label_col).alias("__la"),
    )
    b = df.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("__vb"),
        F.col(label_col).alias("__lb"),
    )
    if broadcast_right:
        b = F.broadcast(b)
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            dist_fn(F.col("__va"), F.col("__vb")).alias("distance"),
            (F.col("__la") == F.col("__lb")).alias("same_label"),
        )
    )


def confusion_at_thresholds(
    pairs: DataFrame,
    thresholds: list[float],
    distance_col: str = "distance",
    same_col: str = "same_label",
) -> DataFrame:
    """A16: per-threshold tp/tn/fp/fn over the pair table.

    Predicate matches ``statistics.py:38-49``: predicted-similar iff
    ``distance <= threshold``. One row per threshold.
    """
    sim = F.col(distance_col) <= F.col("threshold")
    same = F.col(same_col)

    def cnt(pred: Column) -> Column:
        return F.sum(F.when(pred, 1).otherwise(0)).cast("long")

    return (
        pairs.select(
            distance_col,
            same_col,
            F.explode(F.array(*[F.lit(float(t)) for t in thresholds])).alias("threshold"),
        )
        .groupBy("threshold")
        .agg(
            cnt(same & sim).alias("tp"),
            cnt(~same & ~sim).alias("tn"),
            cnt(~same & sim).alias("fp"),
            cnt(same & ~sim).alias("fn"),
        )
    )


def derived_metrics(conf: DataFrame, ndigits: int = 6) -> DataFrame:
    """A17: recall/precision/accuracy/balanced-accuracy/F1 per threshold.

    Zero-guards mirror ``statistics.py:102-132``: recall and precision are
    0 when tp and the paired error count are both 0; F1 is 0 when both
    precision and recall are 0; balanced accuracy is null when ``tn+fp=0``
    (the reference would raise ZeroDivisionError there — we surface null
    instead of crashing; documented divergence).
    """
    tp, tn, fp, fn = (F.col(c).cast("double") for c in ("tp", "tn", "fp", "fn"))
    recall = F.when((tp == 0) & (fn == 0), F.lit(0.0)).otherwise(tp / (tp + fn))
    precision = F.when((tp == 0) & (fp == 0), F.lit(0.0)).otherwise(tp / (tp + fp))
    tnr = F.when(tn + fp != 0, tn / (tn + fp))
    f1 = F.when(
        (precision == 0) & (recall == 0), F.lit(0.0)
    ).otherwise(2 * precision * recall / (precision + recall))
    return conf.select(
        "threshold",
        "tp",
        "tn",
        "fp",
        "fn",
        F.round(recall, ndigits).alias("recall"),
        F.round(precision, ndigits).alias("precision"),
        F.round((tp + tn) / (tp + tn + fp + fn), ndigits).alias("accuracy"),
        F.round((recall + tnr) / 2, ndigits).alias("balanced_accuracy"),
        F.round(f1, ndigits).alias("f1_score"),
    )


def evaluate_embeddings(
    df: DataFrame,
    thresholds: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    metric: str = "manhattan",
    ndigits: int = 6,
) -> DataFrame:
    """EP3's evaluation dataflow end-to-end (J4 → A16 → A17)."""
    pairs = all_pairs_distances(df, id_col, vec_col, label_col, metric)
    return derived_metrics(confusion_at_thresholds(pairs, thresholds), ndigits)


def roc_auc(
    df: DataFrame,
    score: str = "score",
    label: str = "label",
    quant: int = 10_000,
) -> DataFrame:
    """Exact ROC-AUC as the tie-aware Mann-Whitney statistic, computed
    without a global rank window.

    AUC = Σ_s n_pos(s)·(neg_below(s) + n_neg(s)/2) / (n_pos·n_neg) over
    DISTINCT scores s — the probability a random positive outscores a
    random negative, ties counting half. Doubling the numerator keeps
    everything integer: ``auc_num2 = Σ n_pos·(2·neg_below + n_neg)`` is
    the exact rational numerator (the hash-safe vehicle), ``auc`` the
    closing division.

    Scale shape: scores quantize to integers (``quant`` units), one
    groupBy collapses the corpus to its distinct-score table, the
    exclusive below-cumsum rides :func:`..packing.with_global_cumsum`'s
    two-phase range-partitioned pass (no single-partition window), and
    the final fold is a one-row aggregate. Nothing touches the full
    table twice.
    """
    from .packing import with_global_cumsum

    sq = F.floor(
        F.col(score).cast("double") * F.lit(float(quant)) + F.lit(0.5)
    ).cast("long")
    per = (
        df.select(sq.alias("sq"), F.col(label).cast("long").alias("__y"))
        .groupBy("sq")
        .agg(
            F.sum("__y").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("__y")).cast("long").alias("n_neg"),
        )
    )
    cum = with_global_cumsum(per, ["sq"], "n_neg", out_col="neg_below")
    return cum.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum(
            F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))
        ).cast("long").alias("auc_num2"),
    ).select(
        "n_pos",
        "n_neg",
        "auc_num2",
        (
            F.col("auc_num2").cast("double")
            / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
        ).alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    score: str = "score",
    label: str = "label",
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
    quant: int = 1_000,
) -> DataFrame:
    """Reliability-diagram counts: equal-width score bins vs observed
    positive rate. Pure integer binning (quantized score, integer div —
    no float boundary can flip an assignment), one map-side-combinable
    aggregate; per-bin sums stay exact integers, the rate is the only
    closing division.
    """
    q = F.floor(
        F.col(score).cast("double") * F.lit(float(quant)) + F.lit(0.5)
    ).cast("long")
    lo_q, hi_q = int(round(lo * quant)), int(round(hi * quant))
    # clamp into [lo_q, hi_q] FIRST so the division is over non-negative
    # integers (floor == truncate on every engine); (x - x % d) is a
    # multiple of d, so the double divide is exact for |x| < 2^53
    qc = F.least(F.greatest(q, F.lit(lo_q)), F.lit(hi_q))
    num = (qc - F.lit(lo_q)) * F.lit(n_bins)
    d = F.lit(hi_q - lo_q)
    b = F.least(
        ((num - F.pmod(num, d)) / d).cast("long"), F.lit(n_bins - 1)
    )
    per = (
        df.select(
            b.alias("bin"),
            q.alias("__sq"),
            F.col(label).cast("long").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__y").cast("long").alias("n_pos"),
            F.sum("__sq").cast("long").alias("sum_score_q"),
        )
    )
    return per.select(
        "bin", "n", "n_pos", "sum_score_q",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "pos_rate"
        ),
    )


def ab_chi2(
    df: DataFrame,
    variant: str = "variant",
    converted: str = "converted",
) -> DataFrame:
    """2×2 A/B readout: per-variant trial/conversion counts plus the
    chi-squared statistic in exact rational form. ``df`` is already one
    row per unit (user) with a binary ``converted``; the whole readout
    is one map-side-combinable aggregate → a driver-sized 1-row fold.
    chi² = N·(ad-bc)² / ((a+b)(c+d)(a+c)(b+d)) — integers until the one
    closing division. Counts are the hash-safe vehicle; at ≳10⁹ units
    move the num/den product to double (documented overflow bound).
    """
    g = (
        df.groupBy()
        .agg(
            F.sum(F.when(F.col(variant) == "A", 1).otherwise(0))
            .cast("long").alias("n_a"),
            F.sum(
                F.when(
                    (F.col(variant) == "A") & (F.col(converted) == 1), 1
                ).otherwise(0)
            ).cast("long").alias("conv_a"),
            F.sum(F.when(F.col(variant) == "B", 1).otherwise(0))
            .cast("long").alias("n_b"),
            F.sum(
                F.when(
                    (F.col(variant) == "B") & (F.col(converted) == 1), 1
                ).otherwise(0)
            ).cast("long").alias("conv_b"),
        )
    )
    a, c = F.col("conv_a"), F.col("conv_b")
    b, d = F.col("n_a") - a, F.col("n_b") - c
    n = F.col("n_a") + F.col("n_b")
    det = a * d - b * c
    den = (a + b) * (c + d) * (a + c) * (b + d)
    return g.select(
        "n_a", "conv_a", "n_b", "conv_b",
        (n * det * det).cast("long").alias("chi2_num"),
        den.cast("long").alias("chi2_den"),
        F.when(
            den != 0,
            (n * det * det).cast("double") / den.cast("double"),
        ).alias("chi2"),
    )


def roc_auc_by(
    df: DataFrame,
    group: str,
    score: str = "score",
    label: str = "label",
    quant: int = 10_000,
) -> DataFrame:
    """Per-slice exact ROC-AUC — :func:`roc_auc` partitioned by a group
    column (the sliced model-evaluation read: per source, per cohort,
    per segment). The below-cumsum here is a GROUP-KEYED window over the
    per-group distinct-score table — partitioned, so no single task ever
    sees more than one group's score range; everything else matches the
    global operator (integer auc_num2 vehicle, one closing division).
    Degenerate slices (no positives or no negatives) report NULL auc.
    """
    sq = F.floor(
        F.col(score).cast("double") * F.lit(float(quant)) + F.lit(0.5)
    ).cast("long")
    per = (
        df.select(
            F.col(group).alias("grp"),
            sq.alias("sq"),
            F.col(label).cast("long").alias("__y"),
        )
        .groupBy("grp", "sq")
        .agg(
            F.sum("__y").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("__y")).cast("long").alias("n_neg"),
        )
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("sq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per.withColumn(
        "neg_below", F.coalesce(F.sum("n_neg").over(w), F.lit(0)).cast("long")
    )
    agg = cum.groupBy("grp").agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum(
            F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))
        ).cast("long").alias("auc_num2"),
    )
    return agg.select(
        "grp",
        "n_pos",
        "n_neg",
        "auc_num2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("auc_num2").cast("double")
            / (2.0 * F.col("n_pos").cast("double")
               * F.col("n_neg").cast("double")),
        ).alias("auc"),
    )


def gains_table(
    df: DataFrame,
    score: str = "score",
    label: str = "label",
    tie: str = "event_id",
    n_buckets: int = 10,
    quant: int = 10_000,
) -> DataFrame:
    """Lift/gains deciles: rank the population by score DESCENDING,
    split into ``n_buckets`` equal-count buckets, report per-bucket and
    cumulative conversions plus the lift of the cumulative targeting cut
    over the base rate — the campaign-targeting readout.

    The full-population rank is the two-phase range-partitioned
    :func:`..blockpair.with_global_rank` (no single-partition window);
    bucket and cumulative sums then live on the ``n_buckets``-row table.
    Counts stay integers (lift_num/lift_den the rational vehicle); lift
    is the one closing division.
    """
    from .blockpair import with_global_rank

    sq = F.floor(
        F.col(score).cast("double") * F.lit(float(quant)) + F.lit(0.5)
    ).cast("long")
    base = df.select(
        sq.alias("__sq"),
        F.col(tie).alias("__tie"),
        F.col(label).cast("long").alias("__y"),
    ).select(
        # rank DESC by score with a unique tie-break: negate the pair
        F.struct(
            (-F.col("__sq")).alias("a"), (-F.col("__tie")).alias("b")
        ).alias("__ord"),
        "__y",
    )
    ranked = with_global_rank(base, "__ord", out_col="__rk")
    total = ranked.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__npos"),
    )
    b = ranked.join(F.broadcast(total)).select(
        ((F.col("__rk") * F.lit(n_buckets)
          - F.pmod(F.col("__rk") * F.lit(n_buckets), F.col("__n")))
         / F.col("__n")).cast("long").alias("bucket"),
        "__y",
        "__n",
        "__npos",
    )
    per = b.groupBy("bucket", "__n", "__npos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
    )
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "bucket", "n", "n_pos",
        F.sum("n").over(wc).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
        "__n", "__npos",
    )
    return cum.select(
        "bucket", "n", "n_pos", "cum_n", "cum_pos",
        (F.col("cum_pos") * F.col("__n")).cast("long").alias("lift_num"),
        (F.col("cum_n") * F.col("__npos")).cast("long").alias("lift_den"),
        F.when(
            F.col("cum_n") * F.col("__npos") != 0,
            (F.col("cum_pos") * F.col("__n")).cast("double")
            / (F.col("cum_n") * F.col("__npos")).cast("double"),
        ).alias("lift"),
    )


def ranking_metrics(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    rel_doc_col: str = "rel_id",
) -> DataFrame:
    """Per-query retrieval-quality metrics for a ranked run against a
    relevance table: hits@k, MRR, precision@k, recall@k and a
    linear-gain DCG (gain 1/rank instead of 1/log2(rank+1), keeping the
    whole vehicle rational — every rank 1..k divides 2520, so
    ``Σ 2520/rank`` is an exact BIGINT on any engine; the classic
    log-DCG needs libm and is deliberately avoided at the hash gate).

    Inputs: ``run`` is (query, doc, rank) with rank 1..k per query —
    e.g. the output of :func:`..similarity.cosine_topk`; ``qrels`` is
    the set of (query, relevant-doc) pairs.

    Reference analog: the confusion-matrix evaluation over embedded
    pairs (``src/training/statistics.py:28-51``) judges *threshold*
    retrieval; this judges *rank-k* retrieval — the IR view of the same
    question, standard for ANN/index quality (recall@k is THE metric PQ
    / IVF papers report).

    Scale: one (query, doc) equi-join of the run (Q·k rows) against
    qrels, then two map-side-combinable per-query aggregates. Nothing
    touches the corpus; qrels joins sharded on the same key as the run.
    k ≤ 10 keeps the 2520 trick exact (lcm(1..10) = 2520).
    """
    if k > 10:
        raise ValueError("ranking_metrics keeps integer DCG only for k <= 10")
    r = run.select(
        F.col(query_col).alias("query_id"),
        F.col(doc_col).alias("__doc"),
        F.col(rank_col).cast("long").alias("__rank"),
    ).filter(F.col("__rank") <= k)
    rel = qrels.select(
        F.col(query_col).alias("query_id"),
        F.col(rel_doc_col).alias("__doc"),
        F.lit(1).alias("__rel"),
    )
    n_rel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    joined = r.join(rel, ["query_id", "__doc"], "left")
    per_q = joined.groupBy("query_id").agg(
        F.sum(F.when(F.col("__rel").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("hits"),
        F.min(F.when(F.col("__rel").isNotNull(), F.col("__rank"))).alias(
            "first_rel_rank"
        ),
        F.sum(
            F.when(
                F.col("__rel").isNotNull(),
                F.expr("2520 div __rank"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg_lin_x2520"),
    )
    out = per_q.join(n_rel, "query_id", "left").na.fill({"n_rel": 0})
    return out.select(
        "query_id",
        "n_rel",
        "hits",
        "first_rel_rank",
        F.coalesce(
            F.expr("2520 div first_rel_rank").cast("long"), F.lit(0)
        ).alias("rr_x2520"),
        "dcg_lin_x2520",
        (F.col("hits").cast("double") / F.lit(float(k))).alias(
            f"precision_at_{k}"
        ),
        F.when(
            F.col("n_rel") > 0,
            F.col("hits").cast("double") / F.col("n_rel").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias(f"recall_at_{k}"),
    )


def cohens_kappa(df: DataFrame, a: str, b: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement between two categorical
    label columns, as one row of exact integer vehicles plus the single
    closing division:

        kappa = (n·Σagree − Σ r_i·c_i) / (n² − Σ r_i·c_i)

    where r_i / c_i are the marginal counts of category i under each
    annotator — the standard chance-corrected form with p_o = agree/n
    and p_e = Σ r_i·c_i / n², cleared of denominators so ``kappa_num``
    and ``kappa_den`` are BIGINT-exact on any engine.

    The label-audit primitive for LLM data pipelines: scoring how much
    a cheap heuristic labeler agrees with a trusted one beyond chance
    before trusting it to filter at scale.

    Scale: one global count/agree aggregate plus two category-sized
    marginal aggregates joined on category (both map-side combinable);
    the final arithmetic runs on rows the size of the label alphabet.
    """
    base = df.select(
        F.col(a).cast("string").alias("__a"), F.col(b).cast("string").alias("__b")
    )
    totals = base.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    ra = base.groupBy("__a").agg(F.count(F.lit(1)).cast("long").alias("__r"))
    cb = base.groupBy("__b").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    rc = (
        ra.join(cb, ra["__a"] == cb["__b"], "inner")
        .groupBy()
        .agg(
            F.coalesce(F.sum(F.col("__r") * F.col("__c")), F.lit(0))
            .cast("long")
            .alias("rc_sum")
        )
    )
    out = totals.join(F.broadcast(rc))
    return out.select(
        "n",
        "agree",
        "rc_sum",
        (F.col("n") * F.col("agree") - F.col("rc_sum"))
        .cast("long")
        .alias("kappa_num"),
        (F.col("n") * F.col("n") - F.col("rc_sum"))
        .cast("long")
        .alias("kappa_den"),
        F.when(
            F.col("n") * F.col("n") != F.col("rc_sum"),
            (F.col("n") * F.col("agree") - F.col("rc_sum")).cast("double")
            / (F.col("n") * F.col("n") - F.col("rc_sum")).cast("double"),
        ).alias("kappa"),
    )


def contingency_table(df: DataFrame, a: str, b: str) -> DataFrame:
    """Full r×c contingency grid between two categorical columns with
    per-cell exact chi-squared vehicles — the feature-association audit
    that generalizes :func:`ab_chi2` beyond 2×2.

    With ``o`` the observed cell count, ``r``/``c`` the marginals and
    ``n`` the total, the cell's chi-squared contribution
    ``(o − rc/n)² / (rc/n)`` is emitted denominator-cleared:

        dev_num = (n·o − r·c)²      dev_den = n·r·c

    so every hash-gated column is BIGINT-exact; ``chi2_cell`` is the
    single closing division. The grid is complete (zero cells included
    — they still contribute ``rc/n``), so ``Σ chi2_cell`` over the
    result IS the test statistic. Callers should pre-collapse to the
    experimental unit (one row per user) so ``n`` stays within the
    int64 headroom of the squared vehicle: |n·o − r·c| ≤ n² worst
    case (a strongly-associated table can realize it), so ``dev_num``
    can reach ~n⁴/16 and n ≤ ~1e5 units is always safe; balanced,
    weakly-associated tables tolerate far more, and ANSI mode raises
    ARITHMETIC_OVERFLOW rather than corrupting if a bigger n crosses
    the line — then quantize or shard the test.

    Scale: two alphabet-sized marginal aggregates + one cell count, all
    map-side combinable; the grid cross-join and the 1-row total are
    broadcast. Work after the first aggregate is alphabet², not data.
    """
    base = df.select(
        F.col(a).cast("string").alias("cat_a"),
        F.col(b).cast("string").alias("cat_b"),
    )
    cells = base.groupBy("cat_a", "cat_b").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    ra = base.groupBy("cat_a").agg(F.count(F.lit(1)).cast("long").alias("r"))
    cb = base.groupBy("cat_b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = base.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = (
        ra.crossJoin(F.broadcast(cb))
        .join(cells, ["cat_a", "cat_b"], "left")
        .na.fill({"o": 0})
        .crossJoin(F.broadcast(n))
    )
    dev = grid.select(
        "cat_a",
        "cat_b",
        "o",
        "r",
        "c",
        "n",
        ((F.col("n") * F.col("o") - F.col("r") * F.col("c"))
         * (F.col("n") * F.col("o") - F.col("r") * F.col("c")))
        .cast("long")
        .alias("dev_num"),
        (F.col("n") * F.col("r") * F.col("c")).cast("long").alias("dev_den"),
    )
    return dev.select(
        "*",
        F.when(
            F.col("dev_den") > 0,
            F.col("dev_num").cast("double") / F.col("dev_den").cast("double"),
        ).alias("chi2_cell"),
    )


def welch_t2(
    df: DataFrame,
    q: str = "q",
    by: str = "grp",
    variant: str = "variant",
) -> DataFrame:
    """Welch's unequal-variance two-sample test in squared form (t²) —
    the continuous-metric sibling of :func:`ab_chi2`: does the mean of
    a quantized metric differ between variants A and B, per group,
    without assuming equal variances (Welch, Biometrika 1947).

    ``df`` carries one row per unit with an integer metric ``q`` (the
    caller quantizes), a group column and a variant column ('A'/'B').
    One map-side-combinable aggregate per group produces the six exact
    BIGINT hash vehicles (n, Σq, Σq² per side) plus the n-cleared
    sample-variance numerators var_num = n·Σq² − (Σq)². The float
    t2/df_w close over those exact integers in a FIXED expression tree
    (casts of int64 < 2^53 are exact; each IEEE op is correctly
    rounded) — bit-identical on any engine, no accumulation order.
    int64 budget: n·Σq² needs n·q²·n ≤ 9.2e18 per cell — e.g. 1e6 rows
    of |q| ≤ 3e6, coarser ``q`` grids beyond.

    Degenerate cells (n ≤ 1 on either side, or zero pooled standard
    error) yield NULL t2/df_w; the integer vehicles still gate them.
    """
    is_a = F.col(variant) == "A"
    g = df.groupBy(F.col(by).alias("grp")).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(is_a, F.col(q)).otherwise(0)).cast("long").alias("s_a"),
        F.sum(F.when(is_a, F.col(q) * F.col(q)).otherwise(0))
        .cast("long")
        .alias("q2_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~is_a, F.col(q)).otherwise(0)).cast("long").alias("s_b"),
        F.sum(F.when(~is_a, F.col(q) * F.col(q)).otherwise(0))
        .cast("long")
        .alias("q2_b"),
    )
    n_a, s_a, q2_a = F.col("n_a"), F.col("s_a"), F.col("q2_a")
    n_b, s_b, q2_b = F.col("n_b"), F.col("s_b"), F.col("q2_b")
    vn_a = (n_a * q2_a - s_a * s_a).cast("long")
    vn_b = (n_b * q2_b - s_b * s_b).cast("long")
    g = g.select(
        "grp", "n_a", "s_a", "q2_a", "n_b", "s_b", "q2_b",
        vn_a.alias("var_num_a"), vn_b.alias("var_num_b"),
    )
    d = s_a.cast("double") / n_a.cast("double") - s_b.cast("double") / n_b.cast(
        "double"
    )
    u_a = (
        F.col("var_num_a").cast("double")
        / (n_a * (n_a - 1)).cast("double")
        / n_a.cast("double")
    )
    u_b = (
        F.col("var_num_b").cast("double")
        / (n_b * (n_b - 1)).cast("double")
        / n_b.cast("double")
    )
    se2 = u_a + u_b
    ok = (n_a > 1) & (n_b > 1)
    return g.select(
        "grp", "n_a", "s_a", "q2_a", "n_b", "s_b", "q2_b",
        "var_num_a", "var_num_b",
        F.when(ok & (se2 > 0), d * d / se2).alias("t2"),
        F.when(
            ok & (se2 > 0),
            se2 * se2
            / (
                u_a * u_a / (n_a - 1).cast("double")
                + u_b * u_b / (n_b - 1).cast("double")
            ),
        ).alias("df_w"),
    )


def adjusted_rand_index(df: DataFrame, a: str, b: str) -> DataFrame:
    """Adjusted Rand Index between two partitions of the same rows —
    the label-permutation-INVARIANT agreement audit (Hubert & Arabie
    1985). Cohen's kappa (:func:`cohens_kappa`) needs the two labelings
    to share a vocabulary; ARI compares them as PARTITIONS, counting
    co-clustered pairs, so it also scores clusterings whose label ids
    mean nothing (near-dup clusters vs exact-dup groups, fold
    assignments, hash splits).

    Pair counts stay integer by clearing the C(·,2) halves: with
    contingency cells n_ij, row sums a_i, column sums b_j and
    S = Σ n_ij(n_ij−1), A = Σ a_i(a_i−1), B = Σ b_j(b_j−1),
    T = n(n−1),

        ARI = 2·(T·S − A·B) / (T·(A + B) − 2·A·B)

    (the classic form with every C(x,2) doubled; the ½ factors cancel).
    n, S, A, B are exact BIGINT hash vehicles; the closing ratio is a
    FIXED double expression tree over them — T·S and A·B can exceed
    int64 on billion-row inputs, and identical IEEE multiply/subtract
    trees reproduce bit-for-bit on both engines, which int64 overflow
    would not. NULL when the denominator is 0 (both partitions trivial:
    all-singletons or one block).

    Scale: one groupBy(a,b) over the rows plus two marginal aggregates
    of the CELL table (|cells| rows, not |rows|), all
    map-side-combinable; the four scalars meet in a 1-row broadcast
    join. Nothing quadratic anywhere — the pair counting is implicit in
    the n(n−1) algebra.
    """
    cells = df.groupBy(
        F.col(a).alias("__a"), F.col(b).alias("__b")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    s = cells.agg(
        F.sum(F.col("__c") * (F.col("__c") - 1)).cast("long").alias("sij"),
        F.sum("__c").cast("long").alias("n"),
    )
    ra = (
        cells.groupBy("__a")
        .agg(F.sum("__c").cast("long").alias("__r"))
        .agg(F.sum(F.col("__r") * (F.col("__r") - 1)).cast("long").alias("sa"))
    )
    cb = (
        cells.groupBy("__b")
        .agg(F.sum("__c").cast("long").alias("__col"))
        .agg(
            F.sum(F.col("__col") * (F.col("__col") - 1))
            .cast("long")
            .alias("sb")
        )
    )
    g = s.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(cb))
    td = F.col("n").cast("double") * (F.col("n") - 1).cast("double")
    ab = F.col("sa").cast("double") * F.col("sb").cast("double")
    num = F.lit(2.0) * (td * F.col("sij").cast("double") - ab)
    den = td * (F.col("sa") + F.col("sb")).cast("double") - F.lit(2.0) * ab
    return g.select(
        "n", "sij", "sa", "sb",
        F.when(den != 0.0, num / den).alias("ari"),
    )


def parity_audit(
    df: DataFrame,
    slice_col: str,
    value: str,
    tol_pct: int = 10,
) -> DataFrame:
    """Slice-parity (fairness) audit of a numeric signal: per slice, its
    mean vs the global mean, flagged when it deviates more than
    ``tol_pct`` percent — the per-language/per-source disparity check a
    corpus release runs over any quality/score column before training
    (a slice whose quality signal sits far from the corpus mean gets
    systematically over/under-filtered downstream).

    The flag never touches a float: with slice sums (n_s, S_s) and
    global (N, S),

        |mean_s/mean_g − 1| > tol/100
        ⇔ |S_s·N·100 − S·n_s·100| > tol·S·n_s

    — all BIGINT (needs S_s·N·100 < 2^63: ~10^8 rows of 10^6-scale
    values; pre-scale ``value`` above). mean_s and the gap in percent
    are closing divisions for the human column.

    Scale: one map-combinable groupBy onto |slices| rows + a 1-row
    broadcast of the global sums.
    """
    v = F.col(value).cast("long")
    s = df.groupBy(F.col(slice_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum(v).cast("long").alias("sum_s"),
    )
    g = s.agg(
        F.sum("n_s").cast("long").alias("n_g"),
        F.sum("sum_s").cast("long").alias("sum_g"),
    )
    j = s.crossJoin(F.broadcast(g))
    lhs = F.abs(
        F.col("sum_s") * F.col("n_g") * F.lit(100)
        - F.col("sum_g") * F.col("n_s") * F.lit(100)
    )
    rhs = F.lit(tol_pct) * F.col("sum_g") * F.col("n_s")
    return j.select(
        slice_col,
        "n_s",
        "sum_s",
        (lhs > rhs).cast("long").alias("breaches_parity"),
        (F.col("sum_s").cast("double") / F.col("n_s").cast("double")).alias(
            "mean_slice"
        ),
        (
            F.lit(100.0)
            * (
                F.col("sum_s").cast("double") * F.col("n_g").cast("double")
                - F.col("sum_g").cast("double") * F.col("n_s").cast("double")
            )
            / (F.col("sum_g").cast("double") * F.col("n_s").cast("double"))
        ).alias("gap_pct"),
    )


# Poisson(1) CDF, exact binary64 literals: P(X <= i) for i = 0..7.
# Weights are capped at 8 (P(X > 8) ~ 1e-6; the cap is part of the
# deterministic contract, documented — not hidden).
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
)


def poisson_bootstrap_mean(
    df: DataFrame,
    id_col: str,
    value: str,
    replicates: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Deterministic Poisson bootstrap for the mean of an integer metric
    — the one-pass uncertainty estimate for massive data (Chamandy et
    al. 2012, "Estimating uncertainty for massive data streams"; public
    Google report — the standard replacement for classic bootstrap when
    rows can't be resampled globally).

    Each row gets, per replicate b, an i.i.d.-like Poisson(1) weight via
    inverse CDF on u = hash60(id:b:seed) / 2^60 against literal
    binary64 thresholds (weight = #{i : u >= CDF[i]}, capped at 8) — a
    pure function of (id, b), so every engine draws the SAME bootstrap.
    Per replicate: n_eff = Σw, sum_wx = Σ w·x (exact BIGINTs), and the
    replicate mean as one division. The spread of the ``replicates``
    means IS the sampling distribution of the corpus mean.

    Scale: one map-only explode of ``replicates`` ids per row feeding a
    partially-aggregated ``replicates``-row groupBy — the multiply
    happens map-side against the combiner, nothing data-sized shuffles.
    """
    b = F.explode(F.sequence(F.lit(0), F.lit(int(replicates) - 1))).alias("replicate")
    rows = df.select(F.col(id_col).cast("string").alias("__id"), F.col(value), b)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("__id"),
                    F.col("replicate").cast("string"),
                    F.lit(str(seed)),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = h.cast("double") / F.lit(float(1 << 60))
    w = sum(
        (u >= F.lit(c)).cast("int") for c in POISSON1_CDF
    )
    wx = rows.select(
        "replicate",
        w.cast("long").alias("__w"),
        (w.cast("long") * F.col(value).cast("long")).alias("__wx"),
    )
    agg = wx.groupBy("replicate").agg(
        F.sum("__w").cast("long").alias("n_eff"),
        F.sum("__wx").cast("long").alias("sum_wx"),
    )
    return agg.select(
        F.col("replicate").cast("long").alias("replicate"),
        "n_eff",
        "sum_wx",
        F.when(F.col("n_eff") == 0, F.lit(0.0))
        .otherwise(F.col("sum_wx").cast("double") / F.col("n_eff").cast("double"))
        .alias("boot_mean"),
    )


def mutual_information(df: DataFrame, a: str, b: str) -> DataFrame:
    """Mutual information between two categorical columns, plus the
    marginal entropies and normalized MI (Cover & Thomas ch. 2) — the
    feature-selection screen that catches NON-LINEAR association where
    :func:`contingency_table`'s chi-square only scores deviation and
    ``pmi_pairs`` only ranks individual cells.

    One row out: exact BIGINT ``n`` / ``n_cells`` vehicles and doubles
    ``mi``, ``h_a``, ``h_b``, ``nmi = mi / sqrt(h_a·h_b)`` (natural
    log; raw — caller nudge-rounds). Each cell/marginal term closes
    over exact integer counts in a fixed expression tree; the only
    cross-engine freedom is the ADDITION ORDER of the ≤|A|·|B| cell
    terms, ~1 ulp on a bounded table, absorbed by the shared nudge.

    Scale: ONE map-side-combinable groupBy(a, b) over the data; the
    marginal and total frames are aggregates OF the bounded cell table,
    joined back via broadcast — no partitionless window, no second
    input scan. Degenerate inputs (single category on either side)
    yield h = 0 and a NULL nmi.
    """
    cells = df.groupBy(F.col(a).alias("__a"), F.col(b).alias("__b")).agg(
        F.count(F.lit(1)).cast("long").alias("__nab")
    )
    ma = cells.groupBy("__a").agg(F.sum("__nab").cast("long").alias("__na"))
    mb = cells.groupBy("__b").agg(F.sum("__nab").cast("long").alias("__nb"))
    tot = cells.agg(
        F.sum("__nab").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    nab, na, nb, n = (
        F.col("__nab").cast("double"),
        F.col("__na").cast("double"),
        F.col("__nb").cast("double"),
        F.col("n").cast("double"),
    )
    mi = (
        cells.join(F.broadcast(ma), "__a")
        .join(F.broadcast(mb), "__b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("n_cells").cast("long").alias("n_cells"),
            F.sum((nab / n) * F.log(n * nab / (na * nb))).alias("mi"),
        )
    )
    h_a = ma.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.negate((na / n) * F.log(na / n))).alias("h_a")
    )
    h_b = mb.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.negate((nb / n) * F.log(nb / n))).alias("h_b")
    )
    out = mi.crossJoin(F.broadcast(h_a)).crossJoin(F.broadcast(h_b))
    return out.select(
        "n",
        "n_cells",
        "mi",
        "h_a",
        "h_b",
        F.when(
            (F.col("h_a") > 0) & (F.col("h_b") > 0),
            F.col("mi") / F.sqrt(F.col("h_a") * F.col("h_b")),
        ).alias("nmi"),
    )


def mann_whitney_u(df: DataFrame, value: str, is_a: Column) -> DataFrame:
    """Mann–Whitney U rank-sum test (Mann & Whitney 1947) between the
    ``is_a`` and ``~is_a`` halves of ``value`` — the NONPARAMETRIC
    location test next to :func:`welch_t2` (no normality assumption)
    and :func:`..drift.ks_test` (which scores max CDF gap, not
    stochastic dominance).

    Doubled-rank integer vehicles keep the statistic exact: with
    per-distinct-value counts c_a, c_b and the EXCLUSIVE cumulative
    total cum(v), the (1-based) midrank of value v is
    cum + (c+1)/2, so

        two_r1 = Σ_v c_a(v) · (2·cum(v) + c(v) + 1)      (BIGINT)
        two_u1 = 2·n1·n2 + n1·(n1+1) − two_r1            (BIGINT)
        tie_sum = Σ_v (c³ − c)                           (BIGINT)

    are all exact; ``u1`` and the tie-corrected normal ``z`` (no
    continuity correction) close over them in a fixed float tree.
    int64 budget: two_r1 ≤ 2n² + … needs n ≤ ~2·10⁹ rows; tie_sum
    needs the largest tie group ≤ ~2·10⁶ distinct-value collisions —
    quantize coarser beyond.

    Scale: the log collapses to its distinct-value table first (ONE
    map-side-combinable groupBy); the exclusive cumsum rides
    :func:`..packing.with_global_cumsum`'s two-phase range-partitioned
    pass (no single-partition window — cache lifecycle is the caller's,
    release after the consuming action); the closing moments are 1-row
    aggregates. Distinct values are unique keys by construction, so
    the cumsum's boundary-tie caveat is vacuous.
    """
    from .packing import with_global_cumsum

    per = df.select(F.col(value).alias("__v"), is_a.alias("__ia")).groupBy(
        "__v"
    ).agg(
        F.sum(F.when(F.col("__ia"), 1).otherwise(0)).cast("long").alias("c_a"),
        F.sum(F.when(F.col("__ia"), 0).otherwise(1)).cast("long").alias("c_b"),
    )
    per = per.withColumn("c", (F.col("c_a") + F.col("c_b")).cast("long"))
    cum = with_global_cumsum(per, ["__v"], "c", out_col="__cum")
    agg = cum.agg(
        F.sum("c_a").cast("long").alias("n1"),
        F.sum("c_b").cast("long").alias("n2"),
        F.sum(F.col("c_a") * (2 * F.col("__cum") + F.col("c") + 1))
        .cast("long")
        .alias("two_r1"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_sum"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    two_u1 = (2 * n1 * n2 + n1 * (n1 + 1) - F.col("two_r1")).cast("long")
    agg = agg.select("n1", "n2", "two_r1", "tie_sum", two_u1.alias("two_u1"))
    n = (n1 + n2).cast("double")
    d1, d2 = n1.cast("double"), n2.cast("double")
    # var(U) with tie correction: n1·n2/12 · ((n+1) − tie_sum/(n·(n−1)))
    var_u = (d1 * d2 / F.lit(12.0)) * (
        (n + F.lit(1.0)) - F.col("tie_sum").cast("double") / (n * (n - F.lit(1.0)))
    )
    mean_u = d1 * d2 / F.lit(2.0)
    u1 = F.col("two_u1").cast("double") / F.lit(2.0)
    return agg.select(
        "n1",
        "n2",
        "two_r1",
        "two_u1",
        "tie_sum",
        u1.alias("u1"),
        F.when((n1 > 0) & (n2 > 0) & (var_u > 0), (u1 - mean_u) / F.sqrt(var_u))
        .alias("z"),
    )


def ips_evaluate(
    df: DataFrame,
    logged_action: Column,
    target_action: Column,
    reward: Column,
) -> DataFrame:
    """Off-policy evaluation of a deterministic target policy from
    logged bandit feedback by inverse propensity scoring (Horvitz &
    Thompson 1952; Dudík et al. ICML'11) — "what reward WOULD the new
    routing rule have earned on yesterday's traffic?" without serving
    it. Propensities are the EMPIRICAL logged-action frequencies
    p(a) = cnt_a / n (the logger is treated as a stationary stochastic
    policy), so every weight is a ratio of exact counts.

    Returns the bounded per-action table — ``action``, BIGINT vehicles
    ``cnt`` (logged pulls), ``matched`` (pulls where the target policy
    agrees), ``matched_r`` (integer reward on agreeing pulls) — plus an
    ``action = '__total'`` row. ``ips_term = matched_r/cnt`` sums to
    the IPS estimate ((1/n)·Σ match·r/p collapses per action to
    matched_r_a/cnt_a); the total row also carries
    ``snips = Σ matched_r_a/cnt_a / Σ matched_a/cnt_a`` (self-
    normalized IPS — Swaminathan & Joachims NeurIPS'15). ``reward``
    must be integer-valued; all floats close over exact integers, the
    only addition-order freedom is the ≤|actions| term sum.

    Scale: ONE map-side-combinable groupBy(action) over the log;
    everything downstream runs on the bounded action table.
    """
    per = df.select(
        logged_action.alias("action"),
        (target_action == logged_action).alias("__m"),
        reward.cast("long").alias("__r"),
    ).groupBy("action").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("__m"), 1).otherwise(0)).cast("long").alias("matched"),
        F.sum(F.when(F.col("__m"), F.col("__r")).otherwise(0))
        .cast("long")
        .alias("matched_r"),
    )
    term = F.col("matched_r").cast("double") / F.col("cnt").cast("double")
    wsum = F.col("matched").cast("double") / F.col("cnt").cast("double")
    pa = per.select(
        "action",
        "cnt",
        "matched",
        "matched_r",
        term.alias("ips_term"),
        F.lit(None).cast("double").alias("snips"),
    )
    tot = per.agg(
        F.sum("cnt").cast("long").alias("cnt"),
        F.sum("matched").cast("long").alias("matched"),
        F.sum("matched_r").cast("long").alias("matched_r"),
        F.sum(term).alias("ips_term"),
        F.when(F.sum(wsum) > 0, F.sum(term) / F.sum(wsum)).alias("snips"),
    ).select(F.lit("__total").alias("action"), "cnt", "matched", "matched_r",
             "ips_term", "snips")
    return pa.unionByName(tot)


def krippendorff_alpha(df: DataFrame, unit: str, cat: str) -> DataFrame:
    """Krippendorff's alpha for NOMINAL data (Krippendorff 2004,
    coincidence-matrix form) — the inter-rater agreement coefficient
    that, unlike :func:`cohens_kappa`'s two-rater grid, handles ANY
    number of raters per unit and unequal unit sizes: each row is one
    rating (label assignment) of ``unit`` with category ``cat``.

        alpha = 1 − (n−1) · Σ_u (n_u² − Σ_c o_uc²)/(n_u − 1)
                          / (n² − Σ_c n_c²)

    over units with n_u ≥ 2 pairable ratings (singleton units carry no
    agreement evidence and are excluded, per the definition). The
    denominator ``de_num = n² − Σ n_c²`` and all counts are exact
    BIGINTs; ``do_sum`` is a per-unit-rational float sum (each term a
    single division of BIGINTs) whose ≤|units|-term addition order
    rides the shared nudge — for unbounded unit counts ship the
    per-unit table instead.

    Output: ONE row — ``n`` (pairable ratings), ``n_units``,
    ``n_cats``, ``de_num`` (BIGINT), raw doubles ``do_sum`` and
    ``alpha`` (caller nudge-rounds). Degenerate cases: a single
    category everywhere gives de_num = 0 → alpha NULL (no variance to
    agree about); no multi-rating units give n = 0 → alpha NULL.

    Scale: ONE map-side-combinable groupBy(unit, cat) over the ratings;
    unit sums, category sums and the closing moments are aggregates OF
    the bounded cell table (broadcast 1-row joins only).
    """
    cells = df.groupBy(
        F.col(unit).alias("__u"), F.col(cat).alias("__c")
    ).agg(F.count(F.lit(1)).cast("long").alias("__ouc"))
    per_u = cells.groupBy("__u").agg(
        F.sum("__ouc").cast("long").alias("__nu"),
        F.sum(F.col("__ouc") * F.col("__ouc")).cast("long").alias("__ssq"),
    ).where(F.col("__nu") >= 2)
    # category margins over PAIRABLE units only (the standard estimator)
    pc = cells.join(per_u.select("__u"), "__u").groupBy("__c").agg(
        F.sum("__ouc").cast("long").alias("__nc")
    )
    do = per_u.agg(
        F.sum("__nu").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum(
            (F.col("__nu") * F.col("__nu") - F.col("__ssq")).cast("double")
            / (F.col("__nu") - 1).cast("double")
        ).alias("do_sum"),
    )
    de = pc.agg(
        F.count(F.lit(1)).cast("long").alias("n_cats"),
        F.sum(F.col("__nc") * F.col("__nc")).cast("long").alias("__snc2"),
    )
    out = do.crossJoin(F.broadcast(de))
    de_num = (F.col("n") * F.col("n") - F.col("__snc2")).cast("long")
    return out.select(
        "n",
        "n_units",
        "n_cats",
        de_num.alias("de_num"),
        "do_sum",
        F.when(
            (F.col("n") > 1) & (de_num > 0),
            F.lit(1.0)
            - (F.col("n") - 1).cast("double")
            * F.col("do_sum")
            / de_num.cast("double"),
        ).alias("alpha"),
    )


def mcnemar_test(
    df: DataFrame,
    correct_a: Column,
    correct_b: Column,
) -> DataFrame:
    """McNemar's paired-classifier test (McNemar 1947; Dietterich 1998's
    recommended test for comparing two classifiers on ONE test set):
    given per-row correctness indicators for classifiers A and B, only
    the DISCORDANT counts carry evidence —

        b = #(A right, B wrong),  c = #(A wrong, B right)
        chi2 = (|b − c| − 1)² / (b + c)    (continuity-corrected)

    A paired test: shared-example noise cancels, so it detects real
    accuracy gaps far smaller than two independent confusion matrices
    would. NULL chi2 when b + c = 0 (identical behavior — nothing to
    test).

    ALL-INTEGER: the four contingency cells and the numerator
    (|b−c|−1)² are exact BIGINTs; chi2 is a single division of BIGINTs
    — bit-exact cross-engine, no nudge needed. Headroom: numerator
    ≤ n², safe to n ≈ 3·10⁹ rows.

    Scale: ONE map-side-combinable aggregate over the rows (four
    conditional counts). Output: ONE row — ``n``, ``n00``, ``n01``,
    ``n10``, ``n11``, ``chi2_num`` (BIGINTs), ``chi2`` (double).
    """
    a = correct_a.cast("boolean")
    b = correct_b.cast("boolean")
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((~a & ~b).cast("long")).cast("long").alias("n00"),
        F.sum((~a & b).cast("long")).cast("long").alias("n01"),
        F.sum((a & ~b).cast("long")).cast("long").alias("n10"),
        F.sum((a & b).cast("long")).cast("long").alias("n11"),
    )
    d = F.abs(F.col("n10") - F.col("n01"))
    num = (
        F.when(d > 0, (d - 1) * (d - 1)).otherwise(F.lit(0)).cast("long")
    )
    den = F.col("n10") + F.col("n01")
    return agg.select(
        "n",
        "n00",
        "n01",
        "n10",
        "n11",
        num.alias("chi2_num"),
        F.when(den > 0, num.cast("double") / den.cast("double")).alias(
            "chi2"
        ),
    )


def anova_f(df: DataFrame, group: str, value: str) -> DataFrame:
    """One-way ANOVA F statistic — does the integer feature's mean
    differ across k groups? The classical feature-screening companion
    of :func:`welch_t2` (k groups, pooled variance) and
    :func:`mutual_information` (linear rather than general
    association):

        SSB = Σ_g S_g²/n_g − S²/N      SSW = Σ_g (Q_g − S_g²/n_g)
        F   = (SSB/(k−1)) / (SSW/(N−k))

    from per-group exact BIGINT moments n_g, S_g = Σx, Q_g = Σx² (one
    map-side-combinable groupBy). Each SSB/SSW term is a single
    division of BIGINTs; the ≤k-term sums ride the shared nudge. int64
    headroom: S_g² < 2^63 needs n_g·x̄ < 3·10⁹ — past that, cast S_g
    to double before squaring (off the hash path), as
    adjusted_rand_index does.

    Output: ONE row — ``n``, ``k`` (BIGINTs), raw doubles ``ssb``,
    ``ssw``, ``f`` (NULL when k < 2 or SSW = 0; caller nudge-rounds).
    """
    x = F.col(value).cast("long")
    per = df.groupBy(F.col(group).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(x).cast("long").alias("sg"),
        F.sum(x * x).cast("long").alias("qg"),
    )
    agg = per.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            (F.col("sg") * F.col("sg")).cast("double")
            / F.col("ng").cast("double")
        ).alias("__sb"),
        F.sum(
            F.col("qg").cast("double")
            - (F.col("sg") * F.col("sg")).cast("double")
            / F.col("ng").cast("double")
        ).alias("ssw"),
        F.sum("sg").cast("long").alias("__s"),
    )
    ssb = F.col("__sb") - (F.col("__s") * F.col("__s")).cast("double") / F.col(
        "n"
    ).cast("double")
    return agg.select(
        "n",
        "k",
        ssb.alias("ssb"),
        "ssw",
        F.when(
            (F.col("k") > 1) & (F.col("n") > F.col("k")) & (F.col("ssw") > 0),
            (ssb / (F.col("k") - 1).cast("double"))
            / (F.col("ssw") / (F.col("n") - F.col("k")).cast("double")),
        ).alias("f"),
    )


def kendall_tau_b(df: DataFrame, a: str, b: str) -> DataFrame:
    """Kendall's tau-b rank correlation between two DISCRETE integer
    columns — the tie-corrected concordance coefficient: computed
    entirely from the bounded (a, b) contingency cell table, never from
    row pairs.

        C, D = Σ over cell pairs (strictly ordered both ways / opposite)
        n1 = Σ_a t_a(t_a−1)/2,  n2 = Σ_b t_b(t_b−1)/2,  n0 = n(n−1)/2
        tau_b = (C − D) / sqrt((n0 − n1)·(n0 − n2))

    C/D/n0/n1/n2 are EXACT BIGINTs (C from a |cells|²/2 self-join of
    the cell table — bounded by the discrete alphabets, not the data);
    the lone float op is the closing sqrt (one libm call, deterministic
    both engines). int64 headroom: n0 ~ n²/2 → exact to n ≈ 4·10⁹;
    the (n0−n1)(n0−n2) product is computed in double (its sqrt is
    float anyway).

    Scale: ONE map-side-combinable groupBy(a, b); the concordance join
    and margin sums run over the bounded cell table only.
    """
    cells = df.groupBy(
        F.col(a).cast("long").alias("__a"), F.col(b).cast("long").alias("__b")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    c1 = cells.select(
        F.col("__a").alias("a1"), F.col("__b").alias("b1"),
        F.col("__c").alias("c1"),
    )
    c2 = cells.select(
        F.col("__a").alias("a2"), F.col("__b").alias("b2"),
        F.col("__c").alias("c2"),
    )
    pairs = c1.join(c2, F.col("a2") > F.col("a1"))
    cd = pairs.agg(
        F.sum(
            F.when(F.col("b2") > F.col("b1"), F.col("c1") * F.col("c2"))
            .otherwise(F.lit(0))
        ).cast("long").alias("conc"),
        F.sum(
            F.when(F.col("b2") < F.col("b1"), F.col("c1") * F.col("c2"))
            .otherwise(F.lit(0))
        ).cast("long").alias("disc"),
    )
    ta = cells.groupBy("__a").agg(F.sum("__c").cast("long").alias("__t")).agg(
        F.sum("__t").cast("long").alias("__n"),
        F.sum(F.col("__t") * (F.col("__t") - 1)).cast("long").alias("__2n1"),
    )
    tb = cells.groupBy("__b").agg(F.sum("__c").cast("long").alias("__t")).agg(
        F.sum(F.col("__t") * (F.col("__t") - 1)).cast("long").alias("__2n2"),
    )
    out = cd.crossJoin(F.broadcast(ta)).crossJoin(F.broadcast(tb))
    n = F.col("__n")
    two_n0 = n * (n - 1)
    den = (
        (two_n0 - F.col("__2n1")).cast("double")
        * (two_n0 - F.col("__2n2")).cast("double")
    )
    return out.select(
        n.alias("n"),
        "conc",
        "disc",
        # shiftright, not `/2`: long `/` widens to double (exact only to
        # 2^53); t(t−1) products are always even so the halving is exact
        F.shiftright(two_n0, 1).cast("long").alias("n0"),
        F.shiftright(F.col("__2n1"), 1).cast("long").alias("n1"),
        F.shiftright(F.col("__2n2"), 1).cast("long").alias("n2"),
        F.when(
            den > 0,
            # num/den both carry the doubling, so the /2s cancel:
            # tau = 2(C−D)/sqrt((2n0−2n1)(2n0−2n2))
            F.lit(2.0)
            * (F.col("conc") - F.col("disc")).cast("double")
            / F.sqrt(den),
        ).alias("tau_b"),
    )


def cochran_q(df: DataFrame, flags: list) -> DataFrame:
    """Cochran's Q test — the k-classifier generalization of
    :func:`mcnemar_test` (Cochran 1950): do k paired binary outcomes
    (k classifiers judged right/wrong on the SAME rows) have equal
    marginal success rates?

        Q = (k−1)·(k·ΣC_j² − N²) / (k·ΣR_i − ΣR_i²)

    with C_j the per-classifier success totals, R_i the per-row success
    counts and N = ΣC_j = ΣR_i. EVERY term is an exact BIGINT — Q is a
    single division of BIGINTs, bit-exact cross-engine with no nudge.
    NULL when the denominator is 0 (all rows unanimous — no
    within-row variation to test). Headroom: k·ΣC² ≤ k³n², safe to
    n ≈ 5·10⁸ rows at k = 3.

    ``flags`` is a list of boolean Columns (one per classifier).
    Scale: ONE map-side-combinable aggregate — per-row R_i is a plain
    projection, no join, no window.
    """
    k = len(flags)
    if k < 2:
        raise ValueError("cochran_q needs at least 2 paired flag columns")
    cs = [f.cast("boolean").cast("long") for f in flags]
    r = cs[0]
    for c in cs[1:]:
        r = r + c
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum(r).cast("long").alias("n_succ"),
        F.sum(r * r).cast("long").alias("sum_ri2"),
        *[
            F.sum(c).cast("long").alias(f"__c{j}")
            for j, c in enumerate(cs)
        ],
    )
    sum_cj2 = None
    for j in range(k):
        t = F.col(f"__c{j}") * F.col(f"__c{j}")
        sum_cj2 = t if sum_cj2 is None else sum_cj2 + t
    num = (k - 1) * (k * sum_cj2 - F.col("n_succ") * F.col("n_succ"))
    den = k * F.col("n_succ") - F.col("sum_ri2")
    return agg.select(
        "n_units",
        F.lit(k).cast("long").alias("k"),
        "n_succ",
        sum_cj2.cast("long").alias("sum_cj2"),
        "sum_ri2",
        num.cast("long").alias("q_num"),
        den.cast("long").alias("q_den"),
        F.when(den > 0, num.cast("double") / den.cast("double")).alias("q"),
    )


def cohens_d(df: DataFrame, group: str, value: str) -> DataFrame:
    """Cohen's d and Hedges' g effect sizes for every group pair — the
    magnitude readout :func:`welch_t2` and :func:`anova_f` deliberately
    omit (significance says a gap EXISTS; d says whether anyone should
    care):

        d = (m_a − m_b) / s_pooled
        s_pooled² = ((n_a−1)s_a² + (n_b−1)s_b²) / (n_a + n_b − 2)
        g = d · (1 − 3/(4·(n_a+n_b) − 9))     (Hedges small-sample bias)

    From exact per-group BIGINT moments (n, S = Σx, Q = Σx²) in ONE
    map-side-combinable groupBy; pairs come from the bounded
    group-table self-join (|groups|²/2 rows), so no data-sized joins.
    Means/variances are per-group rationals of BIGINTs; the closing
    sqrt is the one libm call (deterministic both engines; outputs
    nudge-rounded by the caller). int64 headroom: Q < 2^63 needs
    n·x² < 9·10¹⁸ — at larger mass compute Q in double off the hash
    path.

    Output: one row per (group_a < group_b) pair — BIGINT ``n_a``,
    ``n_b``, ``s_a``, ``s_b``, raw doubles ``mean_a``, ``mean_b``,
    ``d``, ``g`` (NULL when pooled variance is 0 or n_a + n_b < 3).
    """
    x = F.col(value).cast("long")
    per = df.groupBy(F.col(group).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("s"),
        F.sum(x * x).cast("long").alias("q"),
    )
    a = per.select(
        F.col("g").alias("group_a"), F.col("n").alias("n_a"),
        F.col("s").alias("s_a"), F.col("q").alias("q_a"),
    )
    b = per.select(
        F.col("g").alias("group_b"), F.col("n").alias("n_b"),
        F.col("s").alias("s_b"), F.col("q").alias("q_b"),
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("s_a").cast("double") / na
    mb = F.col("s_b").cast("double") / nb
    # (n−1)·s² = Q − S²/n, kept as per-group rationals of BIGINTs
    ssa = F.col("q_a").cast("double") - (
        F.col("s_a") * F.col("s_a")
    ).cast("double") / na
    ssb = F.col("q_b").cast("double") - (
        F.col("s_b") * F.col("s_b")
    ).cast("double") / nb
    dof = F.col("n_a") + F.col("n_b") - 2
    sp2 = (ssa + ssb) / dof.cast("double")
    d = F.when(
        (dof > 0) & (sp2 > 0), (ma - mb) / F.sqrt(sp2)
    )
    j = F.lit(1.0) - F.lit(3.0) / (
        4 * (F.col("n_a") + F.col("n_b")) - 9
    ).cast("double")
    return pairs.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "s_a",
        "s_b",
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        d.alias("d"),
        (d * j).alias("g"),
    )
