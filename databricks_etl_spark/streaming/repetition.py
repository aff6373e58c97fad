"""Streaming verbatim-repetition accounting: the q355 memorization-risk
spectrum maintained AT INGEST.

Unlike decontamination (:mod:`streaming.decontam`), repetition is a
corpus-GLOBAL property — a shingle's multiplicity sums over every
micro-batch ever ingested — so the stream cannot verdict per batch.
Instead the ``foreachBatch`` body lands each batch's ASSOCIATIVE
partial — the (shingle-hash, source, count) aggregate — in the
epoch-idempotent sink, and the drain re-aggregates the partials before
applying the shared spectrum rollup. Counting is associative and
commutative, so the drained spectrum is invariant to micro-batch
slicing and equals the one-shot batch computation (q355) — which is
exactly what the driver hash-checks: q361 registers with q355's own
oracle SQL.

This is the state-store-free pattern for streaming aggregation at
100 TB: the sink IS the state (bounded by distinct (shingle, source)
keys, not by stream length), replayed epochs overwrite their own
partition (exactly-once), and no executor ever holds cross-batch state
in memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming import sinks

_PARTIAL = "h string, source string, c long"
_PARTIAL_SCHEMA = sinks.epoch_schema(_PARTIAL)


def make_repetition_epoch(partials_path: str):
    """``foreachBatch`` handler: shingle + hash + count the arriving
    documents and land the batch's (h, source, c) partial in the
    epoch-partitioned sink."""
    from databricks_etl_spark.plans.queries_round10 import (
        _q355_shingle_counts,
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        sinks.land(_q355_shingle_counts(batch_df), epoch_id, partials_path)

    return ingest


def drain_repetition_spectrum(
    spark: SparkSession, partials_path: str
) -> DataFrame:
    """Re-aggregate the accumulated per-epoch partials and apply the
    SHARED q355 spectrum rollup — counts are associative, so this
    equals the batch computation for any slicing."""
    from databricks_etl_spark.plans.queries_round10 import (
        _q355_spectrum_rollup,
    )

    partials = sinks.landed(spark, partials_path, _PARTIAL)
    g = partials.groupBy("h", "source").agg(
        F.sum("c").cast("long").alias("c")
    )
    return _q355_spectrum_rollup(g)


def run_streaming_repetition_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive the ingest accounting end to end with availableNow over
    the documents table and return the drained spectrum."""
    from databricks_etl_spark.sources.readers import SCHEMAS
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    partials_path = fresh_scratch_dir("rep_partials_", key=sf_dir)
    sinks.seed(spark, partials_path, _PARTIAL)

    doc_stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    sinks.run_available_now(
        doc_stream,
        make_repetition_epoch(partials_path),
        sf_dir,
        ("documents",),
    )
    return drain_repetition_spectrum(spark, partials_path)
