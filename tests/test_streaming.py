"""Batch operators run unchanged on a Structured Streaming source.

Each test replays parquet chunks as a file stream (``availableNow`` +
``maxFilesPerTrigger=1``, so several real micro-batches), runs a batch
operator on it unmodified — stateless projections, map-only chunking,
complete-mode sketches — and asserts the streamed rows equal the same
operator's batch run. The transcript engine itself is batch-only, and
nothing here re-implements an operator for streams.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _run_stream(spark, src_dir, batch, transform, out_mode, name):
    """Replay ``src_dir`` as a file stream with ``batch``'s schema, one
    file per micro-batch, through ``transform`` into a memory sink."""
    src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
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


def test_stateless_curation_ops_run_on_streams(spark, tmp_path):
    """pii_scrub / c4_line_filter / with_quality_features are stateless
    projections — they must run UNCHANGED on a structured stream and
    produce exactly the batch result (the 100-TB story: the same curation
    pass works on live ingestion)."""
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
    for i in range(2):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i * 20 : (i + 1) * 20], preserve_index=False),
            os.path.join(src_dir, f"c{i}.parquet"),
        )
    batch = spark.read.parquet(src_dir)

    def transform(df):
        scrubbed = pii_scrub(df).withColumnRenamed("clean_text", "text")
        return c4_line_filter(with_quality_features(scrubbed).select("doc_id", "text", "quality_score"))

    got = (
        _run_stream(spark, src_dir, batch, transform, "append", "curation_stream")
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = transform(batch).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    # the scrub actually fired before the line filter saw the text
    assert "<EMAIL>" in got.loc[0, "clean_text"] or got.loc[0, "n_kept"] >= 1


@pytest.fixture(scope="module")
def doc_stream_dir(spark, tmp_path_factory):
    """A document stream: 2 parquet chunks with line structure, repeated
    lines, empty lines, an empty doc, and a NULL-text doc."""
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
