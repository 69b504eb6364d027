"""Structured-Streaming incremental pipeline: Trigger.AvailableNow over a
pages/documents directory with a checkpointLocation.

The reference has no streaming (SURVEY.md §2.9) — its closest analog is the
serial batch_* directory loop. This module is the alternative resume story
to plans/ledger.py: Spark's own checkpoint tracks which input files are
done, so re-running the job processes only new files.

Triples come from the batch path itself, ``run_pipeline``: its doc-row
kernel is one Arrow-batched pass over the document rows, which runs on
streaming frames unchanged. The output drops ``rel_id`` and keeps the
ordering key (sent_diff, i1, i2), the schema sinks and checkpoints have
always seen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..plans.pipeline import run_pipeline


def _drain(frame: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Append ``frame``'s stream to parquet under ``out_dir``, checkpointed
    in ``checkpoint_dir``, with an AvailableNow trigger: returns once every
    input file available at start has been processed."""
    (
        frame.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
) -> None:
    """Process all currently-available parquet files in ``input_dir`` into
    triple parquet in ``output_dir``, exactly once per input file across
    re-runs (checkpointed). Returns after the AvailableNow batch drains."""
    cfg = cfg or PipelineConfig()
    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    trip = run_pipeline(stream, cfg).triples.drop("rel_id")
    _drain(trip, output_dir, checkpoint_dir)


def stream_event_counts(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Windowed streaming aggregation with watermark over an events parquet
    DIRECTORY (readStream requires a directory source): 1-hour tumbling
    windows per event_type with 2h late-data tolerance."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    # parquet stores TIMESTAMP_NTZ; watermarks need instant-typed TIMESTAMP
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n",
        )
    )
    _drain(agg, out_dir, checkpoint_dir)


def stream_dedup_pages(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Streaming exact dedup of a pages feed — the ingest-time twin of the
    batch keeper selection (operators/dedup.q_dedup_exact /
    textstats.q_corpus_clean): content-hash the text, keep the FIRST
    arrival per hash, drop later duplicates. State is BOUNDED by a
    one-hour event-time watermark (``dropDuplicatesWithinWatermark``): a
    hash whose watermark has passed is evicted from the state store, which
    is what makes this runnable forever on a 10^12-page crawl feed — an
    unbounded ``dropDuplicates`` would accumulate one state row per
    distinct page in history. Late re-crawls inside the watermark dedup exactly;
    re-crawls arriving later than the watermark re-emit (the standard
    streaming-dedup contract — downstream batch compaction
    (q_dedup_exact) remains the global guarantee)."""
    schema = spark.read.parquet(pages_dir).schema
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    # parquet stores TIMESTAMP_NTZ; watermarks need instant-typed TIMESTAMP
    stream = stream.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    deduped = (
        stream.withColumn("text_hash", F.md5("text"))
        .withWatermark("warc_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["text_hash"])
    )
    _drain(deduped, out_dir, checkpoint_dir)


def stream_pages_latest(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Streaming stateful twin of the batch latest-crawl-per-url query
    (operators/dedup.q_pages_latest): an UPSERT aggregation — per url,
    keep the running (max (ts, doc_id), crawl count) in
    ``applyInPandasWithState`` state and emit the url's refreshed row
    whenever a micro-batch touches it. Downstream, last-emission-per-url
    (the row with the max n_crawls) IS the current snapshot — the
    standard changelog-compaction contract for streaming upserts; the
    pytest pins that compaction exactly equal to the batch query's
    output after an AvailableNow drain.

    State is one fixed-width row per url. On a real crawl feed you would
    add a timeout keyed to crawl recency to bound state by the active
    url set; the drain-everything test shape keeps NoTimeout."""
    import pandas as pd

    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from ..operators.dedup import pages_with_crawl_ts

    schema = spark.read.parquet(docs_dir).schema
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    pages = pages_with_crawl_ts(stream)

    def upd(key, pdfs, state: GroupState):
        n, ts, d = state.get if state.exists else (0, -1, -1)
        for pdf in pdfs:
            # vectorized per-chunk reduction (no per-row Python loop —
            # a hot url's recrawl burst arrives as one big chunk): max
            # ts, then max doc_id among rows at that ts, then one tuple
            # compare against the restored state
            n += len(pdf)
            c_ts = int(pdf["ts_us"].max())
            c_d = int(pdf.loc[pdf["ts_us"] == c_ts, "doc_id"].max())
            if (c_ts, c_d) > (ts, d):
                ts, d = c_ts, c_d
        state.update((n, ts, d))
        yield pd.DataFrame(
            [{
                "url": key[0], "n_crawls": n,
                "latest_ts_us": ts, "latest_doc_id": d,
            }]
        )

    latest = pages.groupBy("url").applyInPandasWithState(
        upd,
        "url string, n_crawls long, latest_ts_us long, latest_doc_id long",
        "n long, ts long, d long",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    _drain(latest, out_dir, checkpoint_dir)
