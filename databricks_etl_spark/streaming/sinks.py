"""Streaming sinks beyond the built-ins: the ``foreachBatch``
exactly-once materialization pattern.

Structured Streaming's delivery guarantee is at-least-once per
micro-batch into arbitrary sinks; exactly-once requires the sink write
to be IDEMPOTENT in ``epoch_id`` (the engine may re-run a batch after
failure with the same epoch). The standard recipe: partition the
output by epoch and use dynamic partition overwrite, so a replayed
epoch overwrites its own partition instead of appending duplicates —
the same idea a Delta/Iceberg MERGE would implement transactionally.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming.windows import stream_events, stream_shuffle

# The epoch-partials layout lives in this module only: every row carries
# its micro-batch's epoch as the ``__epoch int`` partition column, an
# epoch write replaces its own partition (dynamic overwrite), and a
# seed replaces the whole table. Both modes are pinned per write — a
# session-level default would turn the seed's full overwrite into a
# partition-scoped one that leaks a previous run's epochs.


def epoch_schema(schema: str) -> str:
    """DDL of the on-disk rows whose payload columns are ``schema``."""
    return f"{schema}, __epoch int"


def land(df: DataFrame, epoch_id: int, path: str) -> None:
    """Write ``df`` as epoch ``epoch_id`` of the table at ``path``:
    re-delivery of the same epoch replaces, never duplicates. The
    write itself is a normal distributed parquet write (no driver
    collect)."""
    (
        df.withColumn("__epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch")
        .parquet(path)
    )


def seed(spark: SparkSession, path: str, schema: str) -> None:
    """Create the table at ``path`` empty, with payload ``schema``,
    replacing whatever a previous run left there."""
    (
        spark.createDataFrame([], epoch_schema(schema))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("__epoch")
        .parquet(path)
    )


def landed(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Every epoch landed at ``path``, typed as payload ``schema`` plus
    ``__epoch`` (explicit, so a table with no epochs yet reads as
    empty rather than failing schema inference)."""
    return spark.read.schema(epoch_schema(schema)).parquet(path)


def epoch_idempotent_sink(path: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function landing each micro-batch at ``path``."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        land(batch_df, epoch_id, path)

    return write


def run_available_now(
    stream: DataFrame,
    handler: Callable[[DataFrame, int], None],
    sf_dir: str,
    tables: tuple[str, ...] = ("events",),
    *,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> None:
    """Drain everything ``stream`` has available now through the
    ``foreachBatch`` ``handler`` and wait for it, with shuffle
    partitions sized to ``tables`` under ``sf_dir``
    (:func:`streaming.windows.stream_shuffle`)."""
    with stream_shuffle(stream.sparkSession, sf_dir, tables=tables):
        writer = (
            stream.writeStream.outputMode(output_mode)
            .foreachBatch(handler)
            .trigger(availableNow=True)
        )
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        writer.start().awaitTermination()


def read_latest_per_key(spark: SparkSession, path: str, keys: list[str]) -> DataFrame:
    """Materialized view over an epoch-partitioned sink: for each key,
    the row from the HIGHEST epoch (update-mode streams re-emit a
    key's row each time it changes; the latest epoch wins).
    Deterministic: epoch is a total order per key and update-mode
    emits at most one row per (key, epoch), so ``max_by(col, __epoch)``
    is tie-free — a hash aggregate with map-side partial combine,
    cheaper than the row_number window (full shuffle + per-key sort)
    it replaces."""
    df = spark.read.parquet(path)
    others = [c for c in df.columns if c not in keys and c != "__epoch"]
    return df.groupBy(*keys).agg(
        *[F.max_by(c, "__epoch").alias(c) for c in others]
    )


def run_foreachbatch_counts(
    spark: SparkSession, sf_dir: str, *, replay_last_epoch: bool = False
) -> DataFrame:
    """Drive a per-user event-count stream through the idempotent
    foreachBatch sink (availableNow), then return the materialized
    latest-per-user counts.

    With ``replay_last_epoch=True``, the highest epoch's exact payload
    is read back from the sink and written AGAIN with the same
    epoch_id before materializing — simulating Structured Streaming's
    at-least-once re-delivery after a failure. Idempotence means the
    materialization is unchanged, so the result stays byte-equal to
    the batch aggregate (q131's DuckDB oracle hash-checks this)."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    # stable per-(process, sf_dir) path, removed at interpreter exit.
    # Dynamic partition overwrite replaces only matching epochs, so a
    # previous run's stale extra epochs must be cleared up front — each
    # call is self-contained (full availableNow drain + optional replay).
    out = fresh_scratch_dir("fbsink_", key=sf_dir)
    counts = (
        stream_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    run_available_now(
        counts, epoch_idempotent_sink(out), sf_dir, output_mode="update"
    )
    if replay_last_epoch:
        # the sink's layout contract IS epoch directories — the highest
        # epoch comes from a filesystem listing, not a footer-scan job
        import os

        last = max(
            int(d.split("=", 1)[1])
            for d in os.listdir(out)
            if d.startswith("__epoch=")
        )
        payload = (
            spark.read.parquet(out)
            .filter(F.col("__epoch") == last)
            .drop("__epoch")
        )
        land(payload, last, out)
    return read_latest_per_key(spark, out, ["user_id"])
