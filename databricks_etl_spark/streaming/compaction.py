"""Streaming compaction planning: q417's split manifest maintained AT
INGEST.

The q361/q385/q390/q407 streaming discipline applied to layout
planning: per-(event_type, day) file row counts are fully ASSOCIATIVE,
so each ``foreachBatch`` body lands only its micro-batch's day-count
PARTIAL in the epoch-idempotent sink (dynamic partition overwrite by
epoch — replays overwrite their own partition, exactly-once), and the
drain sums the partials back to exact daily file sizes and runs the
SAME plan kernels the batch lane uses (``_file_prefix_sums`` +
``_split_rollup``). q421 registers with q417's oracle, so the streamed
plan is hash-proven equal to the batch plan.

State: one row per (event_type, day) per epoch — independent of event
volume; the split manifest itself is only materialized at drain time.

Reference: no counterpart (the reference notebooks are batch-only);
extends the engine's streaming surface (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming import sinks

_PARTIAL = "event_type string, d date, rws long"
_PARTIAL_SCHEMA = sinks.epoch_schema(_PARTIAL)


def make_compaction_epoch(partials_path: str):
    """``foreachBatch`` handler: roll the batch's events to day-count
    partials and land them under the batch's epoch partition."""

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        part = (
            batch_df.select(
                "event_type", F.to_date("ts").alias("d")
            )
            .groupBy("event_type", "d")
            .agg(F.count(F.lit(1)).cast("long").alias("rws"))
        )
        sinks.land(part, epoch_id, partials_path)

    return ingest


def drain_compaction_plan(
    spark: SparkSession, partials_path: str
) -> DataFrame:
    """Sum the accumulated day-count partials and run the batch plan
    kernels — q417's manifest, byte-for-byte."""
    from databricks_etl_spark.plans.queries_round11 import (
        _file_prefix_sums,
        _split_rollup,
    )

    partials = sinks.landed(spark, partials_path, _PARTIAL)
    files = partials.groupBy("event_type", "d").agg(
        F.sum("rws").cast("long").alias("rws")
    )
    return _split_rollup(_file_prefix_sums(files))


def run_streaming_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive the plan maintenance end to end with availableNow over
    the events table and return the drained manifest."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir
    from databricks_etl_spark.streaming.windows import stream_events

    partials_path = fresh_scratch_dir("compaction_partials_", key=sf_dir)
    sinks.seed(spark, partials_path, _PARTIAL)
    sinks.run_available_now(
        stream_events(spark, sf_dir),
        make_compaction_epoch(partials_path),
        sf_dir,
    )
    return drain_compaction_plan(spark, partials_path)
