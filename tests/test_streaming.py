"""Structured Streaming operators vs their batch twins.

The stream is a time-ordered file source (3 parquet chunks) replayed with
``availableNow`` + ``maxFilesPerTrigger=1`` — multiple real micro-batches,
state carried across them, event-time timeouts fired by the advancing
watermark.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from featureextraction_spark.datagen import make_transcripts
from featureextraction_spark.operators.sessionize import sessionize

GAP = 600


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    pdf = make_transcripts(n_conversations=30, mean_turns=15, seed=11)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf = pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    third = len(pdf) // 3
    for i, chunk in enumerate(
        [pdf.iloc[:third], pdf.iloc[third : 2 * third], pdf.iloc[2 * third :]]
    ):
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(str(base), f"chunk_{i}.parquet"),
        )
    return str(base)


@pytest.fixture(scope="module")
def batch_df(spark, stream_dir):
    df = spark.read.parquet(stream_dir)
    df.persist().count()
    return df


def _run_stream(spark, stream_dir, batch_df, transform, out_mode, name):
    schema = batch_df.schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        transform(src)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(out_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).toPandas()


def test_streaming_sessionize_matches_batch(spark, stream_dir, batch_df):
    from featureextraction_spark.streaming.sessions import streaming_sessionize

    got = _run_stream(
        spark,
        stream_dir,
        batch_df,
        lambda s: streaming_sessionize(s, gap_seconds=GAP),
        "append",
        "sess_out",
    )

    # batch twin: sessionize + per-session aggregate (parquet ts is NTZ;
    # unix_micros below wants the instant type — identity under UTC)
    bdf = batch_df.withColumn("ts", F.col("ts").cast("timestamp"))
    b = sessionize(bdf, key="conv_id", ts="ts", tie="turn_idx", gap_seconds=GAP)
    exp = (
        b.groupBy("conv_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
        .toPandas()
    )
    max_ts_us = int(
        bdf.agg(F.unix_micros(F.max("ts"))).collect()[0][0]
    )
    # sessions still OPEN at end-of-stream (end + gap beyond the final
    # watermark) are legitimately unemitted; everything else must match
    last = exp.sort_values("session_id").groupby("conv_id").tail(1)
    open_keys = {
        (r.conv_id, r.session_id)
        for r in last.itertuples(index=False)
        if r.end_us + GAP * 1_000_000 >= max_ts_us
    }
    exp_closed = exp[
        ~exp.apply(lambda r: (r["conv_id"], r["session_id"]) in open_keys, axis=1)
    ]
    key = ["conv_id", "session_id"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp_closed.sort_values(key).reset_index(drop=True)
    assert len(g) == len(e), (len(g), len(e))
    for c in ["conv_id", "session_id", "n_turns", "start_us", "end_us"]:
        assert list(g[c]) == list(e[c]), c
    assert len(g) > 0  # the stream actually closed sessions


def test_streaming_turn_stats_matches_batch(spark, stream_dir, batch_df):
    from featureextraction_spark.streaming.sessions import streaming_turn_stats

    got = _run_stream(
        spark,
        stream_dir,
        batch_df,
        lambda s: streaming_turn_stats(s, window="15 minutes", watermark="1 minute"),
        "complete",
        "stats_out",
    )
    exp = (
        batch_df.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "15 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
            F.sum(F.regexp_count(F.col("text"), F.lit(r"[^ \t\n\r\f]+")))
            .cast("long")
            .alias("n_tokens"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("win_start_us"),
            F.unix_micros(F.col("win.end")).alias("win_end_us"),
            "n_turns",
            "approx_convs",
            "n_tokens",
        )
        .toPandas()
    )
    g = got.sort_values("win_start_us").reset_index(drop=True)
    e = exp.sort_values("win_start_us").reset_index(drop=True)
    assert len(g) == len(e) and len(g) > 0
    for c in g.columns:
        assert list(g[c]) == list(e[c]), c


def test_streaming_turn_state_matches_batch(spark, stream_dir, batch_df):
    """Every emitted turn's enrichment must equal the batch turn_state
    row at the same (conv_id, turn_idx) — same sessions, same running
    counts, zero leakage (streaming state can only fold the past)."""
    from featureextraction_spark.plans.feature_pipeline import turn_state
    from featureextraction_spark.streaming.sessions import streaming_turn_state

    got = _run_stream(
        spark,
        stream_dir,
        batch_df,
        lambda s: streaming_turn_state(s, gap_seconds=GAP),
        "append",
        "tstate_out",
    )
    assert len(got) == batch_df.count()

    bdf = batch_df.withColumn("ts", F.col("ts").cast("timestamp"))
    exp = turn_state(bdf, gap_seconds=GAP).select(
        "conv_id",
        "turn_idx",
        F.unix_micros("ts").alias("ts_us"),
        "session_id",
        "turn_count",
        "prev_role",
        "last_tool",
        F.col("role_transitions").cast("long").alias("role_transitions"),
    ).toPandas()
    key = ["conv_id", "turn_idx"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    for c in ["conv_id", "turn_idx", "ts_us", "session_id", "turn_count",
              "role_transitions"]:
        assert list(g[c]) == list(e[c]), c
    for c in ["prev_role", "last_tool"]:
        assert list(g[c].fillna("∅")) == list(e[c].fillna("∅")), c


def test_streaming_asof_lookup_matches_batch(spark, stream_dir, batch_df):
    """Each streamed probe's answer must equal the batch as-of join's row;
    probes at the final watermark stay pending (unemitted), everything
    else is final and exact."""
    from featureextraction_spark.operators.asof import asof_join
    from featureextraction_spark.streaming.sessions import streaming_asof_lookup

    bdf = batch_df.withColumn("ts", F.col("ts").cast("timestamp"))
    static = bdf.filter(F.col("role") == "assistant").select(
        "conv_id",
        "ts",
        "turn_idx",
        F.length("text").cast("double").alias("resp_len"),
    )
    static.persist().count()

    got = _run_stream(
        spark,
        stream_dir,
        batch_df,
        lambda s: streaming_asof_lookup(
            s.filter(F.col("role") == "user"),
            static,
            value_cols=["resp_len"],
        ),
        "append",
        "asof_out",
    )

    probes = bdf.filter(F.col("role") == "user").select("conv_id", "ts", "turn_idx")
    exp = asof_join(
        probes,
        static.withColumnRenamed("turn_idx", "d_turn_idx"),
        on="ts",
        by="conv_id",
        tie="d_turn_idx",
        value_cols=["resp_len"],
        matched_cols=True,
    ).toPandas()
    # the watermark tracks the PROBE stream's max event time — probes at
    # that final watermark are legitimately still pending
    max_ts = (
        bdf.filter(F.col("role") == "user").agg(F.max("ts")).collect()[0][0]
    )
    exp = exp[exp["ts"] < max_ts]

    key = ["conv_id", "ts", "turn_idx"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    assert len(g) == len(e), (len(g), len(e))
    for c in ["conv_id", "turn_idx", "matched_ts"]:
        assert list(g[c].fillna(-1)) == list(e[c].fillna(-1)), c
    import numpy as np

    np.testing.assert_allclose(
        g["resp_len"].fillna(-1.0), e["resp_len"].fillna(-1.0)
    )
    assert len(g) > 0


def test_streaming_turn_state_retention_evicts_idle_state(spark, tmp_path):
    """With retention_seconds set, a conversation idle past the horizon
    (by event time) must have its state row removed once the watermark
    passes — long-running streams stay bounded by ACTIVE conversations
    (ADVICE r2). Observed via the state-operator numRowsTotal metric."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from featureextraction_spark.streaming.sessions import streaming_turn_state

    base = tmp_path / "retention_stream"
    base.mkdir()

    def chunk(i, conv, ts_s):
        pdf = pd.DataFrame(
            {
                "conv_id": [conv],
                "turn_idx": [0],
                "role": ["user"],
                "text": ["hi"],
                "tool": [None],
                "ts": pd.to_datetime([ts_s], unit="s").astype("datetime64[us]"),
            }
        )
        schema_pa = pa.schema(
            [
                ("conv_id", pa.string()),
                ("turn_idx", pa.int64()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts", pa.timestamp("us")),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema_pa, preserve_index=False),
            str(base / f"chunk_{i}.parquet"),
        )

    retention = 3600
    # (epoch-0 would be dropped by the initial watermark — start later)
    chunk(0, "a", 1_000_000)  # idle long before the later chunks
    chunk(1, "b", 1_100_000)  # advances the watermark past a's horizon
    chunk(2, "c", 1_100_100)  # batch in which a's timeout actually fires

    schema = (
        "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts timestamp_ntz"
    )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(base))
    )
    q = (
        streaming_turn_state(src, gap_seconds=600, retention_seconds=retention)
        .writeStream.format("memory")
        .queryName("tstate_retention")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # all three turns were enriched and emitted before any eviction
    assert spark.table("tstate_retention").count() == 3
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (q.recentProgress or [])
        if p.get("stateOperators")
    ]
    assert state_rows, "no state-operator progress recorded"
    # conv a evicted: only b and c remain in the store at the end
    assert state_rows[-1] == 2, state_rows


def test_stateless_curation_ops_run_on_streams(spark, tmp_path):
    """pii_scrub / c4_line_filter / with_quality_features are stateless
    projections — they must run UNCHANGED on a structured stream and
    produce exactly the batch result (the 100-TB story: the same curation
    pass works on live ingestion)."""
    import pandas as pd

    from featureextraction_spark.functions.textstats import with_quality_features
    from featureextraction_spark.operators.curation import c4_line_filter, pii_scrub

    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [
                f"line one for doc {i} stays in.\nshort.\n"
                f"mail me at user{i}@example.com or call +1 555 000 {1000 + i}"
                for i in range(40)
            ],
        }
    )
    src_dir = str(tmp_path / "docs")
    os.makedirs(src_dir)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(2):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i * 20 : (i + 1) * 20], preserve_index=False),
            os.path.join(src_dir, f"c{i}.parquet"),
        )
    batch = spark.read.parquet(src_dir)

    def transform(df):
        scrubbed = pii_scrub(df).withColumnRenamed("clean_text", "text")
        return c4_line_filter(with_quality_features(scrubbed).select("doc_id", "text", "quality_score"))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName("curation_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("curation_stream").toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = transform(batch).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    # the scrub actually fired before the line filter saw the text
    assert "<EMAIL>" in got.loc[0, "clean_text"] or got.loc[0, "n_kept"] >= 1


@pytest.fixture(scope="module")
def doc_stream_dir(spark, tmp_path_factory):
    """A document stream: 2 parquet chunks with line structure, repeated
    lines, empty lines, an empty doc, and a NULL-text doc."""
    import pandas as pd
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path_factory.mktemp("docstream")
    rows = []
    for i in range(40):
        if i == 7:
            rows.append((i, None))
        elif i == 13:
            rows.append((i, ""))
        else:
            lines = [
                f"alpha beta doc {i}",
                "shared nav bar line",
                f"unique tail {i} gamma",
                "",
                "shared nav bar line" if i % 3 == 0 else f"solo {i}",
                "",
            ]
            rows.append((i, "\n".join(lines)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    for j in range(2):
        pq.write_table(
            pa.Table.from_pandas(
                pdf.iloc[j * 20 : (j + 1) * 20], preserve_index=False
            ),
            os.path.join(str(base), f"c{j}.parquet"),
        )
    return str(base)


def test_streaming_chunking_matches_batch(spark, doc_stream_dir):
    """chunk_documents is map-only (split → sequence → explode → slice),
    so the BATCH operator runs on a live stream unchanged — append mode,
    zero state — and is row-equal to its batch run."""
    import pandas as pd

    from featureextraction_spark.operators.chunking import chunk_documents

    batch = spark.read.parquet(doc_stream_dir)
    key = ["doc_id", "chunk_id"]
    got = (
        _run_stream(
            spark,
            doc_stream_dir,
            batch,
            lambda src: chunk_documents(src, window=8, stride=6),
            "append",
            "chunk_stream",
        )
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        chunk_documents(batch, window=8, stride=6)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    assert (got.groupby("doc_id").size() > 1).any()  # overlap exercised


def test_streaming_quality_classifier_matches_batch(spark, doc_stream_dir):
    """quality_classifier is a pure projection — stream-runnable as-is;
    integer/boolean columns bit-equal, float logit/prob exactly equal
    (single-row arithmetic, no accumulation order in play)."""
    import pandas as pd

    from featureextraction_spark.functions.textstats import quality_classifier

    batch = spark.read.parquet(doc_stream_dir)
    got = (
        _run_stream(
            spark,
            doc_stream_dir,
            batch,
            lambda src: quality_classifier(src),
            "append",
            "qclf_stream",
        )
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        quality_classifier(batch)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_sketches_match_batch(spark, doc_stream_dir):
    """CMS cells and HLL occupied registers computed over a token stream
    in complete mode equal the batch sketches exactly — sketches are the
    canonical streaming-friendly aggregate (mergeable, fixed-size state,
    no watermark needed for the monotone max/sum)."""
    from featureextraction_spark.operators.sketches import (
        count_min_sketch,
        hll_occupied_registers,
    )
    from featureextraction_spark.plans.feature_pipeline import TOKEN_REGEX

    batch = spark.read.parquet(doc_stream_dir)

    def toks(df):
        return df.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    F.lit(TOKEN_REGEX),
                    F.lit(0),
                )
            ).alias("term")
        )

    got_cms = _run_stream(
        spark,
        doc_stream_dir,
        batch,
        lambda src: count_min_sketch(toks(src), "term"),
        "complete",
        "cms_stream",
    )
    want_cms = count_min_sketch(toks(batch), "term").toPandas()
    key = lambda p: {  # noqa: E731
        (r.d, r.bucket): r.cell_count for r in p.itertuples()
    }
    assert key(got_cms) == key(want_cms)

    got_hll = _run_stream(
        spark,
        doc_stream_dir,
        batch,
        lambda src: hll_occupied_registers(toks(src), "term"),
        "complete",
        "hll_stream",
    )
    want_hll = hll_occupied_registers(toks(batch), "term").toPandas()
    assert {
        r.register: r.m_rho for r in got_hll.itertuples()
    } == {r.register: r.m_rho for r in want_hll.itertuples()}
