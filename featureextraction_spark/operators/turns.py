"""Per-conversation turn-taking / agent-loop features.

The transcript payload's native conversation-dynamics summary: role
alternation, longest same-role run, tool-call density, longest
consecutive tool chain (the "agent loop" signature) and mean inter-turn
latency — one row per conversation.

Single-pass plan: lag flags and cumulative-sum island ids (the same
island trick as ``runlength.run_length_encode`` / ``sessionize``) under
ONE (key, order) window, then run/chain lengths as window COUNTS over
the island ids — ``HashPartitioning(key)`` satisfies the
``(key, island)`` clustering, so these add sorts but NO exchange — and
ONE final key aggregation that also reuses the partitioning. Net: one
exchange over the transcript, one subtree (no re-computation of the
window chain), map-side-combinable final agg. Mega-conversation skew
degrades only the window sort; the salted variants of the sibling
operators show the escape hatch.

Float outputs (rates, mean latency) are computed from EXACT integer
sums with one final division, so both engines divide the same two
integers — the cross-engine hash vehicle needs only the shared nudged
rounding on the result.

No reference counterpart (the reference has no conversation corpus);
these are the standard transcript-analytics features a training-data
pipeline derives per dialogue (turn balance, tool-use rate, loop
detection) before filtering/mixing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.time import epoch_us


def turn_taking_features(
    df: DataFrame,
    key: str = "conv_id",
    order: str = "turn_idx",
    role: str = "role",
    tool: str = "tool",
    ts: str = "ts",
) -> DataFrame:
    """One row per conversation:

    - ``n_turns`` / ``n_roles`` — size and distinct-role cardinality;
    - ``alternations`` — count of consecutive turn pairs whose role
      changed; ``alternation_rate`` = alternations / (n_turns − 1)
      (0.0 for single-turn conversations);
    - ``max_role_run`` — longest consecutive same-role run;
    - ``tool_turns`` / ``tool_fraction`` — turns with a non-null tool;
    - ``max_tool_chain`` — longest consecutive run of tool-bearing
      turns (0 when the conversation never calls a tool);
    - ``gap_sum_us`` / ``mean_gap_sec`` — exact integer sum of
      inter-turn timestamp deltas (µs) and its mean in seconds
      (single integer÷integer division; null for single-turn convs).
    """
    w = Window.partitionBy(key).orderBy(order)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)

    prev_role = F.lag(role).over(w)
    role_chg = F.when(
        prev_role.isNotNull() & (F.col(role) != prev_role), F.lit(1)
    ).otherwise(F.lit(0))
    tool_flag = F.col(tool).isNotNull()
    chain_start = (
        tool_flag & ~F.coalesce(F.lag(tool_flag).over(w), F.lit(False))
    ).cast("int")
    ts_us = epoch_us(df, ts)
    gap_us = ts_us - F.lag(ts_us).over(w)

    t = (
        df.select(key, order, role, tool, ts)
        .withColumn("__role_chg", role_chg)
        .withColumn("__tool_flag", tool_flag)
        .withColumn("__chain_start", chain_start)
        .withColumn("__gap_us", gap_us)
        .withColumn("__role_grp", F.sum("__role_chg").over(wcum))
        .withColumn("__chain_grp", F.sum("__chain_start").over(wcum))
    )
    # island lengths as window counts — same key-partitioning, no shuffle:
    # a chain group spans from a tool run's first turn until the next
    # chain start, so counting only the tool-bearing rows inside it
    # yields exactly the consecutive tool-run length
    t = t.withColumn(
        "__run_len", F.count(F.lit(1)).over(Window.partitionBy(key, "__role_grp"))
    ).withColumn(
        "__chain_len",
        F.sum(F.col("__tool_flag").cast("int")).over(
            Window.partitionBy(key, "__chain_grp")
        ),
    )

    out = t.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.countDistinct(role).cast("long").alias("n_roles"),
        F.sum("__role_chg").cast("long").alias("alternations"),
        F.sum(F.col("__tool_flag").cast("long")).cast("long").alias("tool_turns"),
        F.sum("__gap_us").cast("long").alias("gap_sum_us"),
        F.count("__gap_us").cast("long").alias("__n_gaps"),
        F.max("__run_len").cast("long").alias("max_role_run"),
        F.coalesce(F.max("__chain_len"), F.lit(0)).cast("long").alias(
            "max_tool_chain"
        ),
    )
    return out.select(
        key,
        "n_turns",
        "n_roles",
        "alternations",
        F.when(
            F.col("n_turns") > 1,
            F.col("alternations").cast("double") / (F.col("n_turns") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("alternation_rate"),
        "max_role_run",
        "tool_turns",
        (F.col("tool_turns").cast("double") / F.col("n_turns")).alias(
            "tool_fraction"
        ),
        "max_tool_chain",
        "gap_sum_us",
        F.when(
            F.col("__n_gaps") > 0,
            F.col("gap_sum_us").cast("double")
            / F.col("__n_gaps")
            / F.lit(1000000.0),
        ).alias("mean_gap_sec"),
    )


def role_transition_latency(
    df: DataFrame,
    key: str = "conv_id",
    order: str = "turn_idx",
    role: str = "role",
    ts: str = "ts",
) -> DataFrame:
    """Corpus-level (prev_role -> role) transition/latency matrix: for
    every ordered pair of consecutive turns within a conversation, how
    often each role handed off to each other role and how long the
    hand-off took — the timing side of the consecutive-role pairs whose
    changes ``transitions.running_transitions`` counts.

    One row per (prev_role, role) pair:

    - ``n`` — transition count;
    - ``gap_sum_us`` / ``gap_min_us`` / ``gap_max_us`` — exact integer
      inter-turn latency aggregates (µs);
    - ``mean_gap_sec`` — one integer/integer division (portable hash
      vehicle after the caller's nudged rounding).

    Plan: the lag runs under the same ``(key, order)`` window as every
    sibling operator (ONE conversation exchange); the final groupBy is
    map-side-combinable onto a |roles|² result — a shuffle of partial
    rows only, never of turns. First turns (no predecessor) are
    excluded, matching the pair semantics.
    """
    w = Window.partitionBy(key).orderBy(order)
    ts_us = epoch_us(df, ts)
    t = (
        df.select(key, order, role, ts)
        .withColumn("__prev_role", F.lag(role).over(w))
        .withColumn("__gap_us", ts_us - F.lag(ts_us).over(w))
        .filter(F.col("__prev_role").isNotNull())
    )
    return (
        t.groupBy(F.col("__prev_role").alias("prev_role"), F.col(role))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__gap_us").cast("long").alias("gap_sum_us"),
            F.min("__gap_us").cast("long").alias("gap_min_us"),
            F.max("__gap_us").cast("long").alias("gap_max_us"),
        )
        .withColumn(
            "mean_gap_sec",
            F.col("gap_sum_us").cast("double") / F.col("n") / F.lit(1000000.0),
        )
    )


def conversation_summary(df: DataFrame) -> DataFrame:
    """Per-conversation summary features — the entity-level row a
    training pipeline joins next to every turn-level vector: size,
    tempo, role mix, tool usage.

    One conv_id exchange serves everything: the lag window (inter-turn
    gaps) and the groupBy reuse the same HashPartitioning(conv_id), so
    the plan is sort + window + partial/final agg with no second
    shuffle (plan-audited).

    Engine-portable columns: every aggregate is an exact integer (counts,
    epoch-µs durations, summed text bytes); the two floats are single
    divisions of those integers, nudge-rounded by the caller —

    - ``mean_turn_chars`` = text_chars / n_turns;
    - ``role_gini``       = (n² − Σ c_r²) / n², the Gini impurity of the
      role distribution.  Chosen over Shannon entropy deliberately: it is
      a RATIONAL function of integer counts (one subtraction + one
      division), whereas entropy's ``ln`` is libm-dependent across
      engines and would flake the hash gate.

    No reference counterpart at the entity level (the reference only
    aggregates per image); north-rule transcript analog of its per-image
    feature families.
    """
    from ..functions.time import epoch_us

    us = epoch_us(df, "ts")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        df.withColumn("__us", us)
        .withColumn("__gap", F.col("__us") - F.lag("__us").over(w))
        .withColumn("__chars", F.length(F.coalesce(F.col("text"), F.lit(""))))
    )
    agg = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        (F.max("__us") - F.min("__us")).alias("duration_us"),
        F.size(F.array_distinct(F.collect_list("role"))).cast("long").alias("n_roles"),
        F.count("tool").alias("tool_turns"),
        F.sum("__chars").alias("text_chars"),
        F.max("__gap").alias("max_gap_us"),
        F.map_from_entries(
            F.array_sort(
                F.map_entries(
                    F.aggregate(
                        F.collect_list("role"),
                        F.create_map().cast("map<string,long>"),
                        lambda m, r: F.map_zip_with(
                            m,
                            F.create_map(r, F.lit(1).cast("long")),
                            lambda _, a, b: F.coalesce(a, F.lit(0))
                            + F.coalesce(b, F.lit(0)),
                        ),
                    )
                )
            )
        ).alias("__role_counts"),
    )
    n = F.col("n_turns")
    sum_sq = F.aggregate(
        F.map_values("__role_counts"), F.lit(0).cast("long"), lambda a, c: a + c * c
    )
    return agg.select(
        "conv_id",
        "n_turns",
        "duration_us",
        "n_roles",
        "tool_turns",
        "text_chars",
        "max_gap_us",
        (F.col("text_chars") / n.cast("double")).alias("mean_turn_chars"),
        ((n * n - sum_sq).cast("double") / (n * n).cast("double")).alias("role_gini"),
    )
