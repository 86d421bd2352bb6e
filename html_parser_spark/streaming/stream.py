"""Structured Streaming variant of the extraction pipeline.

The reference is batch-only (eager ``Tokenizer::new``, SURVEY.md §3.1)
and the north rule is a batch backfill — but the engine's ingest side is
naturally incremental: transcripts land as new files/snapshots.  This
module runs the SAME pandas-UDF extraction as a file-source stream:

- exactly-once per input file via the checkpointed file source (the
  streaming analogue of the batch resume anti-join);
- ``Trigger.AvailableNow`` for catch-up-then-stop backfill semantics
  (also what the tests use — deterministic, no long-running query);
- a watermarked, event-time-windowed metrics aggregation demonstrating
  late-data-tolerant streaming state (1-hour tumbling windows on ``ts``,
  10-minute watermark).

The per-turn transformation is stateless across rows, so no
``applyInPandasWithState`` is needed — state lives only in the source
offsets and the windowed aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.pipeline import extract_columns
from ..sources.tables import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a transcripts directory (schema fixed —
    no inference, per the input_hint contract)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def extract_stream(stream: DataFrame) -> DataFrame:
    """Same UDF, same output schema as the batch pipeline.  No
    repartition: file-source micro-batches parallelize by input split,
    and per-turn compute is stateless."""
    return extract_columns(
        stream.select("conv_id", "turn_idx", "ts", "text"), {"main"}
    )


def windowed_metrics(extracted_stream: DataFrame) -> DataFrame:
    """Event-time metrics with late-data handling: 1-hour tumbling
    windows on turn timestamp, 10-minute watermark."""
    return (
        extracted_stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "parse_status")
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum("err_count").alias("dropped_end_tags"),
            F.sum(F.length("main_text")).alias("main_text_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "parse_status",
            "turns",
            "dropped_end_tags",
            "main_text_chars",
        )
    )


def run_stream_backfill(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    with_metrics: bool = True,
) -> dict:
    """Catch-up-then-stop streaming run (Trigger.AvailableNow).

    Processes exactly the files not yet recorded in the checkpoint, then
    stops — re-invoking after new files land continues where the source
    offsets left off (streaming resume; the batch path's anti-join
    equivalent).  The metrics query streams the committed ``extracted``
    sink, so the extraction UDF runs once per input file.  Returns sink
    paths.
    """
    ext_path = os.path.join(out_dir, "extracted")
    ext_ckpt = os.path.join(out_dir, "_ckpt_extracted")
    extracted = extract_stream(read_transcript_stream(spark, input_dir))
    q = (
        extracted.writeStream.format("parquet")
        .option("path", ext_path)
        .option("checkpointLocation", ext_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = {"extracted": ext_path}
    if with_metrics:
        # the metrics read the committed sink (its _spark_metadata log
        # lists only committed files), so each file is extracted once.
        # The schema is the sink's own, taken from the frame it was
        # written from: an empty backfill leaves no file to infer from.
        m_path = os.path.join(out_dir, "metrics")
        m_ckpt = os.path.join(out_dir, "_ckpt_metrics")
        committed = spark.readStream.schema(extracted.schema).parquet(ext_path)
        mq = (
            windowed_metrics(committed)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", m_path)
            .option("checkpointLocation", m_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        mq.awaitTermination()
        out["metrics"] = m_path
    return out
