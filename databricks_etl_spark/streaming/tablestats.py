"""Streaming table-statistics maintenance: q433's ANALYZE surface
kept current AT INGEST — the Delta add-file-stats discipline.

Every micro-batch is a "written file"; its per-column stats partial
(count, non-null count, min, max — all fully ASSOCIATIVE) lands in the
epoch-idempotent sink (dynamic partition overwrite by epoch, so a
replayed epoch overwrites its own partition — exactly-once), and the
drain merges file stats to exact table stats: sum the counts, min the
mins, max the maxes. This is precisely how a lakehouse table format
keeps query-planner stats fresh without ever rescanning history: the
log carries per-file stats, the table stats are their fold.

NDV is deliberately absent: distinct counts are NOT associative, so
the streaming path cannot maintain them exactly — the batch lane
(q433) owns exact NDV and the HLL ladder (q143) owns the mergeable
approximation. Stating which stats survive the partial/merge split is
the point of the lane.

Reference: no counterpart (the reference notebooks are batch-only);
extends the engine's streaming surface (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming import sinks

_PARTIAL = "column_name string, n long, nn long, mn double, mx double"
_PARTIAL_SCHEMA = sinks.epoch_schema(_PARTIAL)

# (published column name, the stats expression over the events batch)
_STAT_COLS: list[tuple[str, str]] = [
    ("event_id", "CAST(event_id AS DOUBLE)"),
    ("user_id", "CAST(user_id AS DOUBLE)"),
    ("value", "CAST(value AS DOUBLE)"),
    # epoch seconds (floored) — the unix_timestamp ↔ floor(epoch())
    # cross-engine pair (q428's convention; NTZ is not double-castable)
    ("ts_epoch", "CAST(unix_timestamp(ts) AS DOUBLE)"),
]


def make_stats_epoch(partials_path: str):
    """``foreachBatch`` handler: fold the batch to one stats partial
    row per column and land them under the batch's epoch partition."""

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for name, expr in _STAT_COLS:
            c = F.expr(expr)
            aggs += [
                F.count(c).alias(f"{name}__nn"),
                F.min(c).alias(f"{name}__mn"),
                F.max(c).alias(f"{name}__mx"),
            ]
        row = batch_df.agg(*aggs)
        parts = None
        for name, _ in _STAT_COLS:
            p = row.select(
                F.lit(name).alias("column_name"),
                F.col("__n").alias("n"),
                F.col(f"{name}__nn").alias("nn"),
                F.col(f"{name}__mn").alias("mn"),
                F.col(f"{name}__mx").alias("mx"),
            )
            parts = p if parts is None else parts.unionByName(p)
        sinks.land(parts, epoch_id, partials_path)

    return ingest


def drain_table_stats(spark: SparkSession, partials_path: str) -> DataFrame:
    """Merge the accumulated per-epoch file stats into table stats —
    the associative fold (sum / sum / min / max) per column."""
    partials = sinks.landed(spark, partials_path, _PARTIAL)
    return (
        partials.groupBy("column_name")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            (F.sum("n") - F.sum("nn")).cast("long").alias("n_null"),
            F.min("mn").alias("min_val"),
            F.max("mx").alias("max_val"),
        )
    )


def run_streaming_table_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive stats maintenance end to end with availableNow over the
    events table and return the drained table stats."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir
    from databricks_etl_spark.streaming.windows import stream_events

    partials_path = fresh_scratch_dir("tablestats_partials_", key=sf_dir)
    sinks.seed(spark, partials_path, _PARTIAL)
    sinks.run_available_now(
        stream_events(spark, sf_dir),
        make_stats_epoch(partials_path),
        sf_dir,
    )
    return drain_table_stats(spark, partials_path)
