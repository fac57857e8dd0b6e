"""Structured Streaming adapters.

The reference is batch-incremental — an "update" is a micro-batch delta
(reference README.md:115-144) — so the natural streaming integration is
a ``foreachBatch`` bridge: every micro-batch becomes one incremental
DAG transaction (version N+1 of every downstream stage). Checkpointing
is two-level: Spark's streaming checkpoint guarantees each batch is
delivered once, and the engine's versioned stage state makes the
transaction itself replay-safe.

``windowed_event_counts`` is the conventional watermark + tumbling
window aggregation for event streams, included for the stream-analytics
surface (counts/values per event type per window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.dag import Pipeline


def stream_into_pipeline(
    stream_df: DataFrame,
    pipeline: Pipeline,
    stage_name: str,
    checkpoint: str,
    transform=None,
):
    """Drive a producer DAG from a stream: one micro-batch = one
    incremental update transaction. ``transform`` maps the raw batch to
    the stage's update schema (type, sk…, value…); default tags every
    row as an Update."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        upd = transform(batch_df) if transform else batch_df.select(
            F.lit("Update").alias("type"), *batch_df.columns)
        if upd.isEmpty():
            return
        pipeline.update({stage_name: upd})

    return (
        stream_df.writeStream
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream."""
    return (
        stream_df
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), key_col)
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col, "n", "total_value",
        )
    )


def stream_into_encoded_store(
    stream_df: DataFrame,
    enc_root: str,
    stage: str,
    sort_cols: list[str],
    checkpoint: str,
    n_slices: int = 4,
    store=None,
    **encode_kw,
):
    """Streaming ingestion INTO the encoded chunk-store format: each
    micro-batch becomes one encode wave — a new chunk-store version
    holding the batch's rows, written through
    :func:`~..storage.encode_run` (hash-sliced, per-slice atomic
    manifests) and committed to the stage's ``_snapshot_map.json``.
    Exactly-once is two-level, same as :func:`stream_into_pipeline`:
    Spark's streaming checkpoint guarantees batch delivery once, and
    the map records the highest committed batch ordinal, so a replayed
    batch is a no-op once committed and otherwise re-enters the version
    its first attempt took, where finished slices resume from their
    manifests instead of re-encoding.

    ``sources.snapshots.read_encoded_table`` reads the streamed store
    exactly like a batch-incremental one, and
    ``consolidate_encoded_table`` / ``expire_encoded_versions`` run
    against it unchanged."""
    from ..filestore import LocalStore
    from ..sources.snapshots import _stream_wave

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _stream_wave(batch_df, batch_id, enc_root, stage, sort_cols,
                     store or LocalStore(), n_slices=n_slices, **encode_kw)

    return (
        stream_df.writeStream
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
