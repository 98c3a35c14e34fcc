"""Streaming MinHash near-dup — the streaming twin of the batch
``minhash_dedup`` query, so continuous ingest offers the same dedup
family as batch (exact + near) instead of exact only.  Not reference
parity: the reference's only stream is the video loop
(streaming/video.py); this is a training-data-pipeline operator.

Design: band signatures are computed statelessly per document by the
batch path's own kernel (``functions/minhash.band_rows`` — a doc pair
flagged by the stream is exactly a pair the batch query would flag),
then the stream is keyed by ``(band, sig)`` with
``applyInPandasWithState``: the state of a band bucket is the anchor
(first document ever seen with that signature).
Each arriving document emits one row per band carrying that anchor, so
``anchor_doc_id != doc_id`` marks a near-dup candidate and the anchor
tells which earlier document it collided with.

Scale shape: state is one int64 + sig per DISTINCT band signature —
bounded by corpus novelty, not corpus size — and shards across
executors by the (band, sig) key; a giant near-dup cluster keeps ONE
anchor per band rather than squaring (the batch path caps each
bucket at _MINHASH_BUCKET_CAP in ``__spark_entry__._capped_pairs``
precisely because it materializes pairs; the stream never does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from ..functions.minhash import band_rows

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])

BAND_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("band", IntegerType()),
    StructField("sig", LongType()),
])

OUT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("band", IntegerType()),
    StructField("sig", LongType()),
    StructField("anchor_doc_id", LongType()),
])

STATE_SCHEMA = StructType([
    StructField("anchor", LongType()),
])


def _anchor_group(key, pdfs, state):
    import pandas as pd
    # accumulate ALL chunks before the single doc_id sort (a group's
    # micro-batch may arrive as multiple chunks; see streaming/dedup.py)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return
    rows = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
    if state.exists:
        anchor = int(state.get[0])
    else:
        # lowest doc_id in the first batch that carries this signature
        anchor = int(rows["doc_id"].iloc[0])
        state.update((anchor,))
    out = rows[["doc_id", "band", "sig"]].copy()
    out["anchor_doc_id"] = anchor
    yield out


def neardup_stream(spark: SparkSession, input_dir: str,
                   max_files_per_trigger: int = 1,
                   output_mode: str = "update") -> DataFrame:
    """(doc_id, band, sig, anchor_doc_id) match rows: one per band per
    document with shingles; ``anchor_doc_id != doc_id`` on any band
    flags the document as a near-dup of the anchor.  Every row is
    emitted exactly once, so the operator is valid in both "update"
    (foreachBatch drains) and "append" (file sinks) output modes."""
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))
    bands = stream.mapInPandas(band_rows, BAND_SCHEMA)
    from pyspark.sql.streaming.state import GroupStateTimeout
    return bands.groupBy("band", "sig").applyInPandasWithState(
        _anchor_group, OUT_SCHEMA, STATE_SCHEMA, output_mode,
        GroupStateTimeout.NoTimeout)


def run_neardup_drain(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str,
                      max_files_per_trigger: int = 1) -> list[dict]:
    """Test/drain helper (collects to the driver — see
    run_neardup_to_parquet for the production sink): drain everything
    currently in `input_dir` (availableNow) and return per-document
    verdicts [{doc_id, is_near_dup, anchor_doc_id}], where
    anchor_doc_id is the smallest anchor over the doc's matching bands.
    The checkpoint makes a second invocation resume band-anchor state."""
    rows: list[dict] = []

    def collect(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = (batch_df.groupBy("doc_id").agg(
            F.min(F.when(F.col("anchor_doc_id") != F.col("doc_id"),
                         F.col("anchor_doc_id"))).alias("anchor"))
            .select("doc_id",
                    F.col("anchor").isNotNull().alias("is_near_dup"),
                    F.coalesce("anchor", "doc_id")
                    .alias("anchor_doc_id")))
        rows.extend(r.asDict() for r in verdicts.collect())

    q = (neardup_stream(spark, input_dir, max_files_per_trigger)
         .writeStream.outputMode("update").foreachBatch(collect)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return rows


def run_neardup_to_parquet(spark: SparkSession, input_dir: str,
                           output_dir: str, checkpoint_dir: str,
                           max_files_per_trigger: int = 1) -> None:
    """Production sink: append the per-band match rows to a parquet
    table (no driver collect); consumers derive per-doc verdicts with
    the same groupBy as the drain helper.  availableNow + checkpoint =
    incremental batch runs that resume band-anchor state."""
    q = (neardup_stream(spark, input_dir, max_files_per_trigger,
                        output_mode="append")
         .writeStream.outputMode("append").format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
