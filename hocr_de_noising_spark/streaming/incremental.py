"""ST1–ST6 — incremental / streaming processing (SURVEY.md §2.9).

The production resumability story is the checkpoint manifest
(checkpoint.py); this module provides the Structured Streaming parity
path: file-source incremental ingest of new span documents, windowed
and sessionized event aggregation with watermarks for late data,
stateful streaming dedup, and an atomic foreachBatch sink.

All demos use Trigger.AvailableNow (process-everything-then-stop) so
they are testable in batch-style pytest runs while exercising the real
streaming engine (offset tracking, state store, watermarks).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hocr_de_noising_spark.operators.lexicon import LexiconLike, lexicon_broadcast
from hocr_de_noising_spark.operators.pipeline import denoise_fused
from hocr_de_noising_spark.params import Params

DOCS_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def make_denoise_sink(
    output_dir: str, lexicon: LexiconLike, params: Params
) -> Callable[[DataFrame, int], None]:
    """Idempotent foreachBatch sink: each micro-batch overwrites its own
    ``batch_id=N`` directory, so a batch retried after a partial write
    replaces its output instead of appending duplicates — this is what
    upgrades foreachBatch's at-least-once re-delivery to exactly-once
    OUTPUT (the offset log in the checkpoint already makes the input
    side exactly-once). Readers see batch_id as a partition column."""
    bc = lexicon_broadcast(SparkSession.active(), lexicon)  # once, not once per micro-batch

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = denoise_fused(batch_df, bc, params)
        out.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )

    return sink


def incremental_denoise_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    lexicon: LexiconLike,
    params: Params | None = None,
):
    """ST1+ST5+ST6: readStream file source → exactly-once de-noising.

    New parquet files dropped into ``input_dir`` are picked up
    incrementally (offset log in ``checkpoint_dir`` — the streaming
    twin of the S7 manifest anti-join); each micro-batch is de-noised
    with the same frozen rule and appended atomically via foreachBatch.
    Returns the finished StreamingQuery.
    """
    p = params or Params()
    stream = spark.readStream.schema(DOCS_DDL).parquet(input_dir)
    sink = make_denoise_sink(output_dir, lexicon, p)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def windowed_events_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
):
    """ST2+ST4: tumbling-window count with a watermark dropping events
    later than the allowed lateness. Append-mode windowed aggregation —
    windows emit once finalized by the watermark."""
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_start"),
            "event_type",
            "n_events",
        )
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def sessionized_events_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
):
    """ST3: session windows (30-min gap) over the stream, with state
    managed by the streaming engine."""
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
