"""Streaming pages → triples.

The reference's StreamingReader (streaming_reader.rb:29-423) is a
single-pass per-document parser — bounded memory per node, not
distribution.  The Spark mapping works at the *pipeline* level instead
(SURVEY.md §2.9): ``readStream`` over the pages table → the same fused
extract/expand/toRdf UDF → checkpointed sink.  Event-time features the
reference lacks (watermarks, late data) come free: ``warc_ts`` is the
event time, and crawl re-fetch dedup is ``dropDuplicatesWithinWatermark``
on ``url``.

``availableNow`` triggers make each micro-batch run exactly-once over
the new files; the checkpoint directory carries source offsets so a
restarted stream resumes where it stopped — the streaming twin of the
batch pipeline's lineage/resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(pages_dir)
    )


def streaming_dedup_pages(
    pages: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Drop re-crawled urls within the watermark window (stateful op the
    reference has no analog for)."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def windowed_crawl_stats(
    pages: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling-window crawl stats (pages + bytes per window
    per lang) with late-data handling — watermark/window semantics the
    reference has no analog for (SURVEY.md §2.9 'absent in reference')."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.octet_length("html")).alias("html_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
            "html_bytes",
        )
    )


def stream_pages_to_triples(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cache_entries: dict | None = None,
    cache_version: str = "v1",
    available_now: bool = True,
    bounded_reader: bool = False,
    rdfstar: bool = False,
):
    """Start (and return) the streaming query writing triple parquet.

    Both modes extract through ``pipeline.page_stage`` (url and html
    only, the ``ld+json`` pre-filter, no repartition of a streaming
    frame, one mapInPandas) and differ only in the UDF.
    ``bounded_reader=True`` swaps the batch extraction UDF for the
    per-document streaming reader (streaming/reader.py): quads leave the
    Python worker in Arrow frames of at most ``udfs.CHUNK_ROWS`` rows, so
    micro-batches containing giant dataset-dump pages cannot balloon a
    worker, and the sink writes a giant page's early frames while the
    worker still builds its later ones.  Canonical bnode
    relabeling is skipped in that mode (whole-document pass), and error
    semantics are AT-LEAST-PARTIAL: a page failing mid-document has
    already flushed its earlier elements' quads, which an append sink
    cannot retract — the error-row filter here drops only the error row
    itself (the batch UDF is all-or-nothing per page).  Consumers
    needing batch-equivalent strictness anti-join the written triples
    against the error rows on url, exactly
    ``KGPipeline.drop_failed_pages`` (see streaming/reader.py's
    error-semantics note)."""
    from ..pipeline import KGPipeline, page_stage

    pages = read_pages_stream(spark, pages_dir)
    pipe = KGPipeline(spark, cache_entries, cache_version=cache_version, rdfstar=rdfstar)
    if bounded_reader:
        from .reader import make_streaming_pages_to_triples

        fn = make_streaming_pages_to_triples(pipe.cache_bc, cache_version, rdfstar=rdfstar)
        extracted = page_stage(pages, fn)
    else:
        extracted = pipe.extract(pages)
    triples = extracted.filter(F.col("error").isNull()).drop("error")
    writer = (
        triples.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
