"""Structured Streaming analog of the reference's video capture loop.

The reference's only streaming construct (src/videoCapture.ts:30-71) is
a frame-pull loop: grab a frame every ~33 ms, process it with the scan
pipeline, at most one in flight, stop when the callback returns false.
It has NO event-time/watermark/stateful semantics — faithfully, neither
does this module (SURVEY §2.9: do not invent them).

Spark mapping:
  - frame source   → file-stream of media parquet parts (new part files
                     appear as frames arrive; maxFilesPerTrigger=1 keeps
                     the at-most-one-in-flight property)
  - per-frame scan → foreachBatch planning the micro-batch through the
                     batch pipeline's one media scan
                     (pipeline.scan_media with scan_rows): the scan
                     runs in executor tasks, and only the emitted
                     spans reach the driver
  - stop-on-false  → the batch callback calls query.stop() when the
                     caller's callback returns False
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, StringType, StructField,
                               StructType)

MEDIA_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("format", StringType()),
    StructField("image", BinaryType()),
])


def start_scan_stream(
    spark: SparkSession,
    input_dir: str,
    on_results: Callable[[list[dict], int], bool],
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = False,
):
    """Stream media part files from `input_dir`; scan each micro-batch;
    call ``on_results(rows, batch_id)`` with the extracted spans, one
    dict per span with keys ``media_ref``, ``sub_order``, ``kind`` and
    ``text`` (pipeline.MEDIA_SCAN_SCHEMA).  Returning False stops the
    query (the reference's callback contract).  `available_now=True`
    drains what exists then stops — the test/demo trigger."""
    from ..plans.pipeline import MEDIA_SCAN_SCHEMA, scan_media, scan_rows

    stream = (spark.readStream.schema(MEDIA_SCHEMA)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    stop_flag = {"stop": False}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if stop_flag["stop"]:
            return
        rows = [r.asDict() for r in
                scan_media(batch_df, scan_rows, MEDIA_SCAN_SCHEMA).collect()]
        if not on_results(rows, batch_id):
            stop_flag["stop"] = True

    writer = stream.writeStream.foreachBatch(process_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    elif stop_flag["stop"]:
        query.stop()
    return query


def demo(spark: SparkSession, media_dir: str, out: list | None = None):
    """Drain-all demo: scan every existing media part as micro-batches."""
    results = out if out is not None else []

    def cb(rows: list[dict], batch_id: int) -> bool:
        results.extend(rows)
        return True

    q = start_scan_stream(spark, media_dir, cb, available_now=True)
    return results, q
