"""Structured Streaming ingest: incremental page arrival → mentions.

The reference is strictly batch (SURVEY.md §2.13); the batch pipeline's
checkpoint/resume story is the snapshot sink. This module adds the
*streaming* ingest shape a Common-Crawl-scale deployment wants: new WARC
partitions land continuously, and mention detection runs incrementally —
``readStream`` over the pages table, the SAME stage-1/stage-2 operators
(Arrow UDFs compose with streaming micro-batches unchanged), and an
exactly-once sink via the streaming checkpoint.

Also provides the watermarked rolling aggregate (mentions per entity per
event-time window) — the standard late-data-tolerant freshness metric.

Everything here reuses the batch operators — streaming in Spark is the same
logical plan with an incremental execution policy; there is nothing to port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_extraction_spark.operators.mentions import fused_anchor_mentions

PAGES_DDL = ("url string, warc_ts timestamp, html binary, text string, "
             "lang string")


def stream_pages(spark: SparkSession, pages_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming scan of the pages table directory (new parquet files =
    new micro-batch input; on a cluster this is the Iceberg streaming read)."""
    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


def streaming_mentions(pages: DataFrame, redirect_map_bc,
                       lang: str | None = "en") -> DataFrame:
    """pages stream → mention rows; the batch scan kernel reused
    unchanged on micro-batches. ``warc_ts`` rides along so event-time
    aggregates need no stream-stream join."""
    m = fused_anchor_mentions(pages, redirect_map_bc, lang=lang,
                              keep_cols=("warc_ts",))
    return m.drop("tokens")


def run_mentions_ingest(spark: SparkSession, pages_dir: str, out_dir: str,
                        checkpoint_dir: str, redirect_map_bc,
                        lang: str | None = "en") -> None:
    """One incremental pass (Trigger.AvailableNow): process every file not
    yet recorded in the checkpoint, append mentions, stop. Re-running after
    new files land processes ONLY the new files — exactly-once via the
    streaming checkpoint (the streaming analogue of the snapshot sink's
    lineage rows)."""
    pages = stream_pages(spark, pages_dir)
    mentions = streaming_mentions(pages, redirect_map_bc, lang=lang)
    q = (mentions.writeStream
         .format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def windowed_mention_counts(mentions: DataFrame,
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Event-time rolling aggregate with late-data tolerance: mentions per
    entity per ``window`` of the page's ``warc_ts`` (carried through the
    mention path — no stream-stream join), watermarked so state older than
    ``watermark`` is evicted (bounded state at 10^12 docs)."""
    return (
        mentions.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "entity")
        .agg(F.count("*").alias("n_mentions"))
        .select(F.col("w.start").alias("window_start"), "entity", "n_mentions")
    )
