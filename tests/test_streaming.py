"""Structured Streaming ingest: incremental, exactly-once, watermarked."""

import os

import pytest
from pyspark.sql import functions as F

from fact_extraction_spark.operators.mentions import collect_redirect_map
from fact_extraction_spark.streaming.ingest import (
    run_mentions_ingest, streaming_mentions, stream_pages,
    windowed_mention_counts,
)


@pytest.fixture(scope="module")
def page_batches(spark, corpus, tables):
    """The fixture pages split into two 'arrival' batches as parquet files."""
    pages = tables["pages"].cache()
    first = pages.filter(F.hash("url") % 2 == 0)
    second = pages.filter(F.hash("url") % 2 != 0)
    return pages, first, second


@pytest.mark.slow
def test_incremental_ingest_exactly_once(spark, tables, page_batches, tmp_path):
    pages, first, second = page_batches
    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "mentions")
    ckpt = str(tmp_path / "ckpt")
    rmap = collect_redirect_map(spark, tables["redirects"])

    # batch 1 lands → one availableNow pass
    first.coalesce(2).write.mode("append").parquet(in_dir)
    run_mentions_ingest(spark, in_dir, out_dir, ckpt, rmap)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # re-run with NO new files: checkpoint makes it a no-op
    run_mentions_ingest(spark, in_dir, out_dir, ckpt, rmap)
    assert spark.read.parquet(out_dir).count() == n1

    # batch 2 lands → only the new files are processed
    second.coalesce(2).write.mode("append").parquet(in_dir)
    run_mentions_ingest(spark, in_dir, out_dir, ckpt, rmap)
    total = spark.read.parquet(out_dir).count()
    assert total > n1

    # incremental total == batch-mode total over the full corpus
    from fact_extraction_spark.operators.extract_text import (
        explode_sentences, extract_text)
    from fact_extraction_spark.operators.mentions import (
        anchor_mention_rows, scan_kernel)
    expected = anchor_mention_rows(scan_kernel(
        explode_sentences(extract_text(pages, lang="en")),
        redirect_map_bc=rmap)).count()
    assert total == expected


@pytest.mark.slow
def test_windowed_counts_with_watermark(spark, tables, page_batches, tmp_path):
    """The watermarked rolling aggregate runs on the stream (availableNow)
    and matches the batch groupBy on the same data."""
    pages, first, _ = page_batches
    in_dir = str(tmp_path / "pages_w")
    first.coalesce(2).write.mode("append").parquet(in_dir)
    rmap = collect_redirect_map(spark, tables["redirects"])

    stream = stream_pages(spark, in_dir)
    mentions = streaming_mentions(stream, rmap, lang="en")
    agg = windowed_mention_counts(mentions, window="1 hour",
                                  watermark="2 hours")
    # complete mode: availableNow ends the stream before the watermark
    # passes the window end, so append mode would emit nothing final yet;
    # complete emits the full aggregate (the watermark still bounds state
    # in a long-running deployment)
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["window_start"], r["entity"]): r["n_mentions"]
           for r in spark.sql("SELECT * FROM win_counts").collect()}

    from fact_extraction_spark.operators.extract_text import (
        explode_sentences, extract_text)
    from fact_extraction_spark.operators.mentions import (
        anchor_mention_rows, scan_kernel)
    bm = anchor_mention_rows(scan_kernel(
        explode_sentences(extract_text(first, lang="en")),
        redirect_map_bc=rmap)).join(first.select("url", "warc_ts"), "url")
    expected = {
        (r["window_start"], r["entity"]): r["n_mentions"]
        for r in bm
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "entity")
        .agg(F.count("*").alias("n_mentions"))
        .select(F.col("w.start").alias("window_start"), "entity", "n_mentions")
        .collect()
    }
    assert got == expected and got
