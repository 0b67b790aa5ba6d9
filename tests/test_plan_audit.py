"""Physical-plan audits — the 100-TB design assertions (SURVEY.md §4).

Correctness tests prove WHAT the operators compute; these prove the plans
are the ones you'd want on a 1000-executor cluster:

- the whole per-conversation window chain costs ONE exchange + one sort;
- column pruning reaches the scan (`text` never deserialized when unused);
- filters are pushed into the parquet scan;
- dimension joins broadcast (no shuffle of the fact side);
- the as-of join introduces no per-row Python (no BatchEvalPython);
- each salted skew operator joins back ONE tiny cross-bucket carry table;
- the feature UDF reads one shuffle of the derived bucket count, which AQE
  does not coalesce.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from featureextraction_spark.operators.asof import asof_join, asof_join_salted
from featureextraction_spark.operators.backfill import forward_fill
from featureextraction_spark.operators.joins import membership_join
from featureextraction_spark.operators.ordering import with_lag_lead
from featureextraction_spark.operators.sessionize import sessionize, sessionize_salted


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(plan: str) -> int:
    # AQE wraps exchanges; count distinct shuffle origins, not reuses
    return len(re.findall(r"Exchange hashpartitioning|Exchange rangepartitioning", plan))


@pytest.fixture(scope="module")
def tr_parquet(spark, transcripts, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan_audit") / "tr.parquet")
    transcripts.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_window_chain_single_exchange_single_sort(tr_parquet):
    df = sessionize(tr_parquet, key="conv_id", ts="ts", tie="turn_idx")
    df = forward_fill(df, ["tool"], key="conv_id", order=("ts", "turn_idx"))
    df = with_lag_lead(df, ["role"], by="conv_id", order=("ts", "turn_idx"))
    plan = plan_of(df)
    assert count_exchanges(plan) == 1, plan
    assert plan.count("Sort [") == 1, plan


def test_pruning_reaches_scan_when_text_unused(tr_parquet):
    df = sessionize(tr_parquet, key="conv_id", ts="ts", tie="turn_idx").select(
        "conv_id", "turn_idx", "session_id"
    )
    read_schemas = [ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln]
    assert read_schemas and all("text" not in ln for ln in read_schemas)


def test_filter_pushed_to_parquet_scan(tr_parquet):
    df = tr_parquet.filter(F.col("role") == "user").select("conv_id", "ts")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in plan, plan


def test_membership_join_broadcasts_dimension(spark, tr_parquet):
    dim = spark.createDataFrame(
        [("conv_00001", "train")], ["conv_id", "type"]
    )
    plan = plan_of(membership_join(tr_parquet, dim))
    assert "BroadcastHashJoin" in plan
    # the fact side must NOT be shuffled for the join
    assert count_exchanges(plan) == 0, plan


def test_asof_join_no_python_and_two_exchanges(spark, tr_parquet):
    probes = tr_parquet.select("conv_id", "ts").limit(100)
    out = asof_join(
        probes,
        tr_parquet.select("conv_id", "turn_idx", "ts", "role"),
        on="ts",
        by="conv_id",
        tie="turn_idx",
        value_cols=["role"],
    )
    plan = plan_of(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # union of two sides → one shuffle for the window partitioning (plus
    # whatever the probe limit needs); the window itself sorts once
    assert plan.count("Window") == 1, plan


def test_salted_operators_one_carry_broadcast(spark, tr_parquet):
    """The salted path pays the (key, bucket) shuffle, the carry table's own
    small ones and ONE broadcast join of that table — no second carry table
    or boundary join."""
    probes = tr_parquet.filter(F.col("role") == "user").select("conv_id", "ts")
    for df in (
        sessionize_salted(tr_parquet),
        asof_join_salted(probes, tr_parquet, value_cols=["role"]),
    ):
        plan = plan_of(df)
        assert count_exchanges(plan) <= 4, plan
        assert plan.count("BroadcastHashJoin") == 1, plan


def test_whole_stage_codegen_covers_window_arithmetic(spark, tr_parquet):
    # AQE defers codegen wrapping until execution; pin it off to inspect
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = sessionize(tr_parquet, key="conv_id", ts="ts", tie="turn_idx")
        plan = plan_of(df)
        # codegen stages print as "*(n)" prefixes in the physical plan
        assert re.search(r"\*\(\d+\) (Project|Sort|ColumnarToRow)", plan), plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_blockpair_plans_have_no_single_partition_exchange(spark):
    """Block/vocab/position assignment must never funnel the table through
    one task: no `Exchange SinglePartition` (the physical footprint of a
    partitionless Window) anywhere in the blocked-pair / bitset plans."""
    from featureextraction_spark.operators.blockpair import (
        blocked_cosine_pairs,
        pack_bitsets,
    )
    from featureextraction_spark.operators.dedup import char_shingles

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        F.col("vec_id") < 100
    )
    plan = plan_of(blocked_cosine_pairs(emb, threshold=0.3, block_size=32))
    assert "Exchange SinglePartition" not in plan, plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 80
    )
    sh = char_shingles(docs, "doc_id", "text", 5)
    plan = plan_of(pack_bitsets(sh, "doc_id"))
    assert "Exchange SinglePartition" not in plan, plan


def test_ivf_candidate_join_is_equi_join(spark):
    """IVF probing must join queries to corpus lists on list_id — a hash
    equi-join, never a cartesian/nested-loop over the corpus."""
    from featureextraction_spark.operators.similarity import ivf_fit, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids, assigned = ivf_fit(emb, n_lists=4)
    plan = plan_of(
        ivf_topk(
            emb.filter(F.col("vec_id") < 5),
            emb,
            k=3,
            n_probe=2,
            assigned=assigned,
            centroids=centroids,
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_packing_cumsum_no_single_partition_exchange(spark):
    """The packing global cumsum must be the range-partition +
    broadcast-offset formulation — never `Exchange SinglePartition` (the
    footprint of sum() OVER (ORDER BY ...) with no PARTITION BY)."""
    from featureextraction_spark.operators.packing import (
        pack_segments,
        pack_sequences,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(pack_sequences(docs, 128))
    assert "Exchange SinglePartition" not in plan, plan
    plan = plan_of(pack_segments(docs, 128))
    assert "Exchange SinglePartition" not in plan, plan


def test_span_and_line_ops_no_global_state(spark):
    """The substring-span / line-dedup family is doc-keyed end to end:
    no single-partition exchange, no cartesian, no Python eval."""
    from featureextraction_spark.functions.textstats import line_dedup_features
    from featureextraction_spark.operators.dedup import (
        cut_duplicated_spans,
        duplicated_spans,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} alpha beta tok{i % 3} gamma delta") for i in range(40)],
        "doc_id long, text string",
    )
    for op in (
        lambda d: duplicated_spans(d, n=3),
        lambda d: cut_duplicated_spans(d, n=3),
        line_dedup_features,
    ):
        plan = plan_of(op(docs))
        assert "Exchange SinglePartition" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_and_dsir_bounded_global_aggregates_only(spark):
    """unigram_lm/dsir may reduce their vocabulary/bucket tables to one
    totals row (bounded by vocab/bucket count, not corpus size) — exactly
    ONE single-partition exchange and one 1-row broadcast cross join; no
    cartesian against corpus-sized data, no Python."""
    from featureextraction_spark.functions.textstats import unigram_lm_score
    from featureextraction_spark.operators.curation import dsir_weights

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} alpha beta tok{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    for op in (
        lambda d: unigram_lm_score(d, ref=F.col("doc_id") % 2 == 0),
        lambda d: dsir_weights(d, target=F.col("doc_id") % 2 == 0, buckets=64),
    ):
        plan = plan_of(op(docs))
        assert plan.count("Exchange SinglePartition") == 1, plan
        assert "CartesianProduct" not in plan, plan
        assert plan.count("BroadcastNestedLoopJoin") == 1, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfpq_candidate_join_is_equi_join(spark):
    """The IVF-PQ candidate join runs on list_id as a hash/sort-merge
    equi-join — no nested-loop scan of the code table."""
    import numpy as np

    from featureextraction_spark.operators.similarity import (
        ivfpq_topk,
        pq_sample_codebooks,
    )

    rng = np.random.default_rng(2)
    X = rng.standard_normal((50, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") < 4)
    cbs = pq_sample_codebooks(df, m=4, ks=8)
    plan = plan_of(
        ivfpq_topk(q, df, codebooks=cbs, n_lists=4, n_probe=2, init_mode="random")
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_chunking_is_map_only(spark):
    from featureextraction_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(chunk_documents(docs, window=16, stride=12))
    assert count_exchanges(plan) == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quota_sample_one_exchange_no_python(spark):
    from featureextraction_spark.operators.curation import quota_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(quota_sample(docs, budget_tokens=120, group="source"))
    assert count_exchanges(plan) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_render_conversations_bounded_exchanges(spark, tr_parquet):
    from featureextraction_spark.operators.render import render_conversations

    # full render: one conv-keyed aggregate (partial+final hash agg pair
    # around a single exchange)
    plan = plan_of(render_conversations(tr_parquet))
    assert count_exchanges(plan) == 1, plan
    # last_k truncation adds only the max-turn window on the SAME key —
    # AQE may or may not reuse the exchange, so allow ≤ 2, never more
    plan_k = plan_of(render_conversations(tr_parquet, last_k=4))
    assert count_exchanges(plan_k) <= 2, plan_k
    assert "BatchEvalPython" not in plan_k


def test_quality_classifier_map_only_codegen(spark):
    from featureextraction_spark.functions.textstats import quality_classifier

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(quality_classifier(docs))
    assert count_exchanges(plan) == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # codegen'd operators print as "*(n) Op" in the compact plan string
    assert "WholeStageCodegen" in plan or "*(1)" in plan, plan


def test_turn_taking_single_subtree_two_sort_phases(spark, tr_parquet):
    from featureextraction_spark.operators.turns import turn_taking_features

    # one exchange over the transcript: the island-length window counts
    # run on (key, island-id), which HashPartitioning(key) satisfies, and
    # the final key aggregation reuses it too — the whole operator is ONE
    # window subtree, never re-computed per aggregate branch
    plan = plan_of(
        turn_taking_features(tr_parquet, key="conv_id", order="turn_idx")
    )
    assert count_exchanges(plan) == 1, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_truncate_context_one_exchange_map_filter(spark, tr_parquet):
    from featureextraction_spark.operators.chunking import truncate_context

    plan = plan_of(truncate_context(tr_parquet, budget_tokens=64))
    assert count_exchanges(plan) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_topk_takeordered_and_broadcasts(spark):
    from featureextraction_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(bm25_topk(docs, ("join", "hash", "scan"), k=15))
    # global top-k must be per-partition heaps + driver merge of k rows,
    # NOT a single-partition global sort
    assert "TakeOrderedAndProject" in plan, plan
    # df / corpus-stats sides broadcast — the corpus-sized side is never
    # reshuffled after the tf aggregation
    assert plan.count("BroadcastExchange") >= 2, plan
    # the only SinglePartition exchange allowed is the bounded 1-row
    # corpus-stats aggregate
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_pair_counts_vocab_bounded_shuffles(spark):
    from featureextraction_spark.functions.textstats import bpe_pair_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(bpe_pair_counts(docs, top=30))
    # two vocabulary-sized shuffles (distinct words, then pairs) and a
    # TakeOrdered top-k — corpus-sized data is only ever map-side
    assert count_exchanges(plan) == 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_window_single_exchange_no_python(spark, tr_parquet):
    from featureextraction_spark.operators.rolling import rolling_time_features

    df = tr_parquet.withColumn("value", F.col("turn_idx") * 1.5)
    plan = plan_of(rolling_time_features(df, key="conv_id", window_sec=300))
    # every trailing-window feature rides ONE HashPartitioning(key)
    # exchange; the collect_list stays JVM-side
    assert count_exchanges(plan) == 1, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_target_encode_facts_shuffled_once_offsets_broadcast(spark, tr_parquet):
    from featureextraction_spark.operators.encoding import cumulative_target_encode

    df = tr_parquet.withColumn("value", F.col("turn_idx") * 1.5)
    plan = plan_of(
        cumulative_target_encode(
            df, category="role", ts="ts", tie=("turn_idx",), value="value"
        )
    )
    # exchanges: facts once on (category, bucket) for the in-bucket
    # window, plus the two BOUNDED partial-table moves (partial agg +
    # its prefix window) — never a per-category global window over facts
    assert count_exchanges(plan) <= 3, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_transition_latency_window_plus_bounded_agg(spark, tr_parquet):
    from featureextraction_spark.operators.turns import role_transition_latency

    plan = plan_of(
        role_transition_latency(tr_parquet, key="conv_id", order="turn_idx")
    )
    # one conversation exchange for the lag window, one exchange of
    # |roles|^2-bounded aggregation partials
    assert count_exchanges(plan) == 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_length_histogram_partials_only(spark):
    from featureextraction_spark.operators.profiling import length_histogram

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(length_histogram(docs))
    # map-side-combinable groupBy onto (group, bin) partials, then the
    # group-total window over that bounded result only
    assert count_exchanges(plan) == 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # pruning: the text column never reaches the scan
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schemas and all("text" not in l for l in schemas), plan


def test_recency_family_single_exchange_single_sort(tr_parquet):
    """All four recency windows + both expanding frames share ONE key
    exchange and one sort — the north-rule shape for per-conversation
    state."""
    from featureextraction_spark.operators.recency import recency_features

    out = recency_features(tr_parquet)
    plan = plan_of(out)
    assert count_exchanges(plan) == 1, plan
    assert plan.count("Sort ") <= 1 or plan.count("[Sort") <= 1, plan


def test_range_join_is_equi_join(spark):
    """The bucketized rewrite must plan as a hash equi-join — never
    BroadcastNestedLoop/cartesian (what a raw BETWEEN theta join does)."""
    from pyspark.sql import Row

    from featureextraction_spark.operators.intervals import bucketed_range_join

    iv = spark.createDataFrame(
        [Row(k="a", start_us=0, end_us=10_000_000)] * 3
    )
    pr = spark.createDataFrame([Row(k="a", us=5_000_000)] * 5)
    out = bucketed_range_join(pr, iv, by="k", bucket_us=1_000_000)
    plan = plan_of(out)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_sketches_no_unbounded_single_partition(spark):
    """CMS has NO single-partition exchange at all (pure map-combinable
    groupBy); HLL's estimate is allowed exactly the one bounded 256-row
    final aggregate."""
    from pyspark.sql import Row

    from featureextraction_spark.operators.sketches import (
        count_min_sketch,
        hll_estimate,
        hll_registers,
    )

    words = spark.createDataFrame([Row(term=f"w{i}") for i in range(100)])
    cms_plan = plan_of(count_min_sketch(words, "term"))
    assert "Exchange SinglePartition" not in cms_plan, cms_plan
    est_plan = plan_of(hll_estimate(hll_registers(words, "term")))
    assert est_plan.count("Exchange SinglePartition") <= 1, est_plan


def test_rolling_active_no_log_self_join(spark):
    """The trailing-window distinct-actives plan explodes the DISTINCT
    (user, day) table, never the raw log: exactly one Generate
    (sequence-explode) sits ABOVE an aggregate, and there is no
    theta-join (the naive day-range self-join shape)."""
    import datetime as dt

    from featureextraction_spark.operators.activity import rolling_active

    df = spark.createDataFrame(
        [(1, "e1", "click", dt.datetime(2024, 1, 1), 1.0)],
        "user_id long, event_id string, event_type string, "
        "ts timestamp, value double",
    )
    plan = plan_of(rolling_active(df, window_days=7))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Generate explode") == 1, plan


def test_rolling_active_hll_state_is_register_table(spark):
    """The HLL variant's explode fans out the per-day REGISTER table
    (≤256 rows/day), and every aggregate is partial→final (map-side
    combinable) — no theta join, no per-row Python."""
    import datetime as dt

    from featureextraction_spark.operators.activity import rolling_active_hll

    df = spark.createDataFrame(
        [(1, "e1", "click", dt.datetime(2024, 1, 1), 1.0)],
        "user_id long, event_id string, event_type string, "
        "ts timestamp, value double",
    )
    plan = plan_of(rolling_active_hll(df, window_days=7))
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final pairs


def test_attribution_single_exchange_before_report(spark, tr_parquet):
    """Carry-forward window + channel groupBy: one user-keyed exchange
    for the window; the report agg re-shuffles only the tiny channel
    vocabulary."""
    import datetime as dt

    from featureextraction_spark.operators.activity import (
        attribution_report,
        last_touch_attribution,
    )

    df = spark.createDataFrame(
        [(1, "e1", "purchase", dt.datetime(2024, 1, 1), 1.0)],
        "user_id long, event_id string, event_type string, "
        "ts timestamp, value double",
    )
    plan = plan_of(attribution_report(last_touch_attribution(df)))
    assert count_exchanges(plan) == 2, plan  # window key + channel agg
    assert "BatchEvalPython" not in plan


def test_json_profile_rides_the_scan(spark):
    """Schema-on-read extraction is map-side expressions + one
    partial→final groupBy — no shuffle beyond the group agg, no Python."""
    from featureextraction_spark.operators.semistructured import (
        json_field_profile,
    )

    df = spark.createDataFrame(
        [(1, "a", '{"k": 3}')], "id long, event_type string, props string"
    )
    plan = plan_of(json_field_profile(df))
    assert count_exchanges(plan) == 1, plan
    assert "BatchEvalPython" not in plan
    assert "get_json_object" in plan or "GetJsonObject" in plan, plan


def test_top_per_group_two_phase_no_global_window(spark):
    """The salted top-k's windows partition on (group, salt) then
    (group) — never an empty partition spec (a single-task sort)."""
    from featureextraction_spark.operators.ranking import top_per_group

    df = spark.createDataFrame(
        [(1, "g", 5)], "id long, grp string, score long"
    )
    out = top_per_group(
        df, by=("grp",), value="score", tie="id", k=3, strategy="two_phase"
    )
    plan = plan_of(out)
    assert "windowspecdefinition()" not in plan.lower()
    # two row_number windows, each keyed
    assert plan.count("RunningWindowFunction") + plan.count("Window ") >= 1


def test_negative_sample_is_bucket_equi_join(spark):
    """The probe is a hash EQUI-join on the bucket id — the plan must
    not degenerate to BroadcastNestedLoop/cartesian (what a naive
    per-query uniform sample over the corpus would be)."""
    from featureextraction_spark.operators.sampling import negative_sample

    qs = spark.range(10).withColumnRenamed("id", "qid")
    docs = spark.range(100).withColumnRenamed("id", "did")
    plan = plan_of(
        negative_sample(qs, docs, query_id="qid", doc_id="did", k=2)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Join" in plan, plan


def test_rfm_ranks_users_table_not_log(spark):
    """RFM's three rank passes run over the user-collapsed table: no
    single-partition window (every windowspecdefinition has keys), no
    Python, no nested-loop join."""
    import datetime as dt

    from featureextraction_spark.operators.activity import rfm_segments

    df = spark.createDataFrame(
        [(1, "e1", "click", dt.datetime(2024, 1, 1), 1.0)],
        "user_id long, event_id string, event_type string, "
        "ts timestamp, value double",
    )
    plan = plan_of(rfm_segments(df))
    assert "windowspecdefinition()" not in plan.lower().replace(" ", "")
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoop" not in plan or "BuildRight" in plan


def test_zorder_key_is_codegen_expressions(spark):
    """The Morton key is pure whole-stage-codegen integer arithmetic —
    map-only plan: zero exchanges, zero Python."""
    from pyspark.sql import functions as F

    from featureextraction_spark.operators.layout import zorder_keys

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    plan = plan_of(zorder_keys(df, "a", "b"))
    assert count_exchanges(plan) == 0, plan
    assert "BatchEvalPython" not in plan


def test_systematic_sample_no_global_window(spark):
    """The every-k filter rides the two-phase global rank — range
    exchange + keyed window, never an empty-spec (single-task) window."""
    from featureextraction_spark.operators.sampling import systematic_sample

    df = spark.range(100).withColumnRenamed("id", "eid")
    plan = plan_of(systematic_sample(df, "eid", every_k=7))
    assert "windowspecdefinition()" not in plan.lower().replace(" ", "")
    assert "Exchange rangepartitioning" in plan, plan


def test_triangle_counts_all_hash_equi_joins(spark):
    from featureextraction_spark.operators.graph import triangle_counts

    edges = spark.range(2000).selectExpr(
        "id % 97 AS src", "(id * 31) % 97 AS dst"
    )
    plan = plan_of(triangle_counts(edges))
    # the two triangle joins + corner agg must be hash equi-joins — a
    # nested-loop/cartesian here would be corpus² at scale
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_cdc_apply_single_key_exchange(spark, tr_parquet):
    from featureextraction_spark.operators.scd import cdc_apply

    log = tr_parquet.selectExpr(
        "conv_id AS user_id", "CAST(turn_idx AS STRING) AS event_id",
        "ts", "role AS event_type", "CAST(turn_idx AS DOUBLE) AS value"
    )
    out = cdc_apply(
        log, key="user_id", seq=("ts", "event_id"),
        op="event_type", delete_op="assistant",
    )
    plan = plan_of(out)
    assert count_exchanges(plan) == 1, plan
    # Spark inserts a map-side WindowGroupLimit (partial per-key top-1)
    # with its own local sort BEFORE the exchange — the shuffle carries
    # at most one row per (key, input partition), not the whole log
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert plan.count("Sort [") <= 2, plan


def test_scd2_lookup_is_key_equi_join_with_residual(spark, tr_parquet):
    from featureextraction_spark.operators.scd import scd2_intervals, scd2_lookup

    dim = scd2_intervals(
        tr_parquet.selectExpr(
            "conv_id AS user_id", "CAST(turn_idx AS STRING) AS event_id",
            "ts", "role AS event_type"
        )
    )
    probes = tr_parquet.selectExpr(
        "conv_id AS user_id", "CAST(turn_idx AS STRING) AS event_id",
        "unix_micros(CAST(ts AS timestamp)) AS ts_us"
    )
    plan = plan_of(scd2_lookup(probes, dim))
    # containment must ride the key join as a residual, not explode
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_roc_auc_no_single_partition_window(spark):
    from featureextraction_spark.operators.evaluation import roc_auc
    from featureextraction_spark.operators.cache import (
        release_persisted_intermediates,
    )

    df = spark.range(20000).selectExpr(
        "CAST(id % 997 AS DOUBLE) / 997 AS score", "CAST(id % 3 = 0 AS LONG) AS label"
    )
    plan = plan_of(roc_auc(df))
    # the cumsum must be partitioned by the range-partition id — a global
    # ORDER BY window (partitionless) would serialize the distinct-score
    # table through one task
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "__pid" in ln, ln
    release_persisted_intermediates()


def test_profile_and_expectations_single_scan(spark, tr_parquet):
    from featureextraction_spark.operators.profiling import (
        expectation_checks,
        profile_columns,
    )

    p = profile_columns(tr_parquet, ["conv_id", "turn_idx", "role"])
    # one scan + Expand for the multi-distinct; no join, no re-scan
    plan = plan_of(p)
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" in plan, plan
    e = expectation_checks(
        tr_parquet, completeness=["role"], unique=["conv_id"],
        member_of={"role": ["user", "assistant"]}, min_rows=1,
    )
    eplan = plan_of(e)
    assert eplan.count("FileScan parquet") == 1, eplan


def test_phrase_match_filters_before_join_no_nested_loop(spark):
    from featureextraction_spark.operators.retrieval import phrase_match

    df = spark.createDataFrame(
        [(i, "alpha beta gamma alpha beta") for i in range(200)],
        "doc_id long, text string",
    )
    plan = plan_of(phrase_match(df, ("alpha", "beta")))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_pit_read_one_exchange_per_source_no_python(spark, tr_parquet):
    from featureextraction_spark.operators.scd import scd2_intervals
    from featureextraction_spark.plans.pit_read import point_in_time_read

    log = tr_parquet.selectExpr(
        "conv_id AS user_id", "CAST(turn_idx AS STRING) AS event_id",
        "ts", "CAST(turn_idx AS DOUBLE) AS value"
    )
    dim = scd2_intervals(
        tr_parquet.selectExpr(
            "conv_id AS user_id", "CAST(turn_idx AS STRING) AS event_id",
            "ts", "role AS event_type"
        )
    )
    probes = tr_parquet.selectExpr(
        "conv_id AS user_id", "CAST(turn_idx AS STRING) AS event_id", "ts",
        "unix_micros(CAST(ts AS timestamp)) AS ts_us"
    )
    out = point_in_time_read(
        probes,
        asof_sources=[("a_", log, ["value"])],
        dim_sources=[("d_", dim)],
    )
    plan = plan_of(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # as-of union window + scd2 window + dim-probe join: a handful of
    # entity-keyed exchanges, bounded and key-aligned — never data²
    assert count_exchanges(plan) <= 5, plan


def test_autocorrelation_single_key_exchange(spark):
    from featureextraction_spark.operators.rolling import autocorrelation

    df = spark.createDataFrame(
        [(i % 7, i, float(i % 13)) for i in range(300)],
        "user_id long, ord long, value double",
    )
    out = autocorrelation(df, value="value", by="user_id", order=["ord"])
    plan = plan_of(out)
    # windows, leads and the final agg all ride ONE user_id hash exchange
    assert count_exchanges(plan) == 1, plan
    assert "BatchEvalPython" not in plan


def test_skyline_no_unpartitioned_window_over_data(spark):
    from featureextraction_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(
        [(i, i % 97, (i * 7) % 89) for i in range(500)],
        "id long, x long, y long",
    )
    plan = plan_of(skyline_2d(df, "x", "y", keep=["id"]))
    # every window over the data table is __b-partitioned; the lone
    # unpartitioned window runs over the <= n_buckets bucket aggregate
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln and "__b" not in ln:
            assert "__by" in ln or "__sufy" in ln, ln
    assert "CartesianProduct" not in plan


def test_sorted_blocking_equi_join_no_nested_loop(spark):
    from featureextraction_spark.operators.cache import (
        release_persisted_intermediates,
    )
    from featureextraction_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [(i, "k%03d" % (i % 50)) for i in range(300)], "id long, k string"
    )
    plan = plan_of(sorted_neighborhood_pairs(df, F.col("k"), "id", window=3))
    # the neighborhood join is a hash equi-join on the rank bucket
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    release_persisted_intermediates()


def test_rrf_fusion_one_agg_one_topn_window(spark):
    from featureextraction_spark.operators.retrieval import rrf_fusion

    runs = [
        spark.createDataFrame(
            [(q, (q * 13 + r * j) % 40, r) for q in range(4)
             for r in range(1, 11)],
            "query_id long, neighbor_id long, rank long",
        )
        for j in (1, 3)
    ]
    plan = plan_of(rrf_fusion(runs, k=60, topn=10, rank_cap=10))
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "query_id" in ln, ln
    assert "BatchEvalPython" not in plan


def test_neighbor_agg_hash_joins_and_partial_agg(spark):
    from featureextraction_spark.operators.graph import neighbor_agg

    edf = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(200) if i != (i * 7 + 1) % 50],
        "src long, dst long",
    )
    fdf = spark.createDataFrame(
        [(i, i * 3) for i in range(50)], "node long, q long"
    )
    plan = plan_of(neighbor_agg(edf, fdf))
    # message join + self join are hash equi-joins, never nested loops
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the destination groupBy combines map-side before the exchange
    assert "partial_" in plan, plan
    assert "BatchEvalPython" not in plan


def test_dispersion_index_single_exchange_partial_agg(spark):
    from featureextraction_spark.operators.profiling import dispersion_index

    df = spark.createDataFrame(
        [("g%d" % (i % 5), float(i % 97)) for i in range(500)],
        "grp string, value double",
    )
    plan = plan_of(dispersion_index(df, value="value", by="grp"))
    assert count_exchanges(plan) == 1, plan
    assert "partial_" in plan, plan
    assert "BatchEvalPython" not in plan


def test_gini_split_scan_bounded_exchanges_no_python(spark):
    from featureextraction_spark.operators.splits import (
        best_gini_split,
        gini_split_scan,
    )

    df = spark.createDataFrame(
        [("g%d" % (i % 4), i % 50, i % 3 == 0) for i in range(400)],
        "grp string, x long, y boolean",
    )
    scan = gini_split_scan(df, feature="x", label=F.col("y"), by="grp")
    plan = plan_of(scan)
    # per-value collapse (grp, threshold) + window repartition (grp): two
    # exchanges total, the scan table never exceeds |distinct values|
    assert count_exchanges(plan) <= 2, plan
    assert "partial_" in plan, plan
    assert "BatchEvalPython" not in plan
    best_plan = plan_of(best_gini_split(scan))
    # rank-1 goes through the map-side group limit, <=1 row per partition
    assert "WindowGroupLimit" in best_plan, best_plan


def test_kcore_peel_hash_joins_only(spark):
    from featureextraction_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src long, dst long"
    )
    plan = plan_of(kcore_peel(edges, k=2, rounds=2))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_referential_audit_collapses_keys_before_anti_join(spark):
    from featureextraction_spark.operators.profiling import referential_audit

    child = spark.createDataFrame(
        [(i, i % 20) for i in range(200)], "id long, fk long"
    )
    parent = spark.createDataFrame([(i,) for i in range(15)], "pk long")
    plan = plan_of(referential_audit([("c->p", child, "fk", parent, "pk")]))
    # the anti join consumes the keyed aggregate, not raw child rows
    assert "LeftAnti" in plan, plan
    assert "partial_count" in plan or "partial_" in plan, plan
    assert "BatchEvalPython" not in plan


def test_welch_t2_single_exchange_partial_agg(spark):
    from featureextraction_spark.operators.evaluation import welch_t2

    df = spark.createDataFrame(
        [("g%d" % (i % 3), "A" if i % 2 else "B", i % 40) for i in range(300)],
        "grp string, variant string, q long",
    )
    plan = plan_of(welch_t2(df))
    assert count_exchanges(plan) == 1, plan
    assert "partial_" in plan, plan
    assert "BatchEvalPython" not in plan


def test_corr_matrix_is_one_scan_one_fold(spark):
    from featureextraction_spark.operators.profiling import corr_matrix

    df = spark.createDataFrame(
        [(float(i), float(i * 2), float(i % 7)) for i in range(200)],
        "a double, b double, c double",
    )
    plan = plan_of(corr_matrix(df, [("a", 1.0), ("b", 1.0), ("c", 1.0)]))
    # all K(K-1)/2 pair sums ride ONE aggregate over ONE scan
    assert plan.count("Scan ") <= 1, plan
    assert "partial_" in plan, plan
    assert "BatchEvalPython" not in plan


def test_canonical_pick_rank1_via_group_limit(spark):
    from featureextraction_spark.operators.dedup import canonical_pick

    docs = spark.createDataFrame(
        [(i, i % 97) for i in range(300)], "doc_id long, n_chars long"
    )
    clusters = spark.createDataFrame(
        [(i, i % 40, 2) for i in range(80)],
        "doc_id long, cluster_id long, cluster_size long",
    )
    plan = plan_of(canonical_pick(docs, clusters))
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan


def test_feature_stage_one_uncoalesced_exchange(spark, tr_parquet):
    """The feature UDF reads ONE shuffle, hash-partitioned on conv_id to the
    derived bucket count; AQE has not coalesced it (no AQEShuffleRead)."""
    from featureextraction_spark.plans.feature_pipeline import (
        STATE_COLS,
        bucket_count,
        point_in_time_features,
        turn_state,
    )

    n = bucket_count(turn_state(tr_parquet).select(*STATE_COLS))
    out = point_in_time_features(tr_parquet, tr_parquet.select("conv_id", "ts"))
    out.collect()  # executes this DataFrame's own plan to its final form
    final = plan_of(out).split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    udf_input = final[final.index("MapInPandas"):]
    udf_input = udf_input[: udf_input.index("Exchange ") + 200]
    assert "AQEShuffleRead" not in udf_input, final
    assert re.search(
        rf"Exchange hashpartitioning\(conv_id#\d+, {n}\), REPARTITION_BY_NUM", udf_input
    ), final
    assert final.count("REPARTITION_BY_NUM") == 1, final
