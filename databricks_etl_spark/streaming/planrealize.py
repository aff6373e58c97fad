"""Streaming plan realization: q403's budgeted sampling maintained AT
INGEST.

The q361/q385/q390 streaming discipline applied to the sampling step:
the water-fill PLAN and the shipped-pool membership are FROZEN
batch-side artifacts (a run approves a plan, then ingest realizes it),
so each arriving document batch can decide its own keeps alone — the
md5-ppm keep predicate depends only on the doc id and its source's
frozen rate. Per-source realized (docs, tokens) counts are fully
ASSOCIATIVE, so each ``foreachBatch`` body lands only its batch's
#sources-row PARTIAL in the epoch-idempotent sink, and the drain sums
the partials and joins the frozen plan through the same
``_q403_report`` the batch lane uses. Slicing invariance is
additivity; replayed epochs overwrite their own partition
(exactly-once); q407 registers with q403's oracle, so the streaming
realization is hash-proven equal to the batch sample.

Reference: no counterpart (the reference notebooks are batch-only);
extends the engine's streaming surface (SURVEY.md §2.9/§2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming import sinks

_PARTIAL = "source string, nd long, ntk long"
_PARTIAL_SCHEMA = sinks.epoch_schema(_PARTIAL)


def make_realize_epoch(
    partials_path: str, ship_ids: DataFrame, rates: DataFrame
):
    """``foreachBatch`` handler: keep the batch's pool members whose
    frozen-rate draw passes, land the per-source partial counts.
    ``ship_ids`` (doc_id) and ``rates`` (source, rate_ppm) are the
    frozen batch-side artifacts, localCheckpoint'd by the caller."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_col
    from databricks_etl_spark.plans.queries_round11 import _Q403_PPM

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        b = (
            batch_df.select(
                "doc_id",
                "source",
                F.size(tokens_col("text")).cast("long").alias("nt"),
            )
            .join(ship_ids, "doc_id")
            .withColumn(
                "__k",
                _md5_mod_col(
                    F.concat(
                        F.lit("alloc:"), F.col("doc_id").cast("string")
                    )
                )
                % _Q403_PPM,
            )
            .join(F.broadcast(rates), "source")
            .filter(F.col("__k") < F.col("rate_ppm"))
        )
        part = (
            b.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("nd"),
                F.sum("nt").cast("long").alias("ntk"),
            )
        )
        sinks.land(part, epoch_id, partials_path)

    return ingest


def drain_plan_realization(
    spark: SparkSession, partials_path: str, pl: DataFrame
) -> DataFrame:
    """Sum the accumulated per-source partials and join the frozen
    plan — q403's report, byte-for-byte (shared ``_q403_report``)."""
    from databricks_etl_spark.plans.queries_round11 import _q403_report

    partials = sinks.landed(spark, partials_path, _PARTIAL)
    agg = partials.groupBy("source").agg(
        F.sum("nd").cast("long").alias("realized_docs"),
        F.sum("ntk").cast("long").alias("realized_tokens"),
    )
    return _q403_report(pl, agg, "realized_docs")


def run_streaming_plan_realization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive the realization end to end with availableNow over the
    documents table and return the drained report."""
    from databricks_etl_spark.plans.queries_round11 import _q403_pool_plan
    from databricks_etl_spark.sources.readers import SCHEMAS
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    shp, pl = _q403_pool_plan(spark, sf_dir)
    pl = pl.localCheckpoint()
    ship_ids = shp.select("doc_id")
    rates = pl.select("source", "rate_ppm")

    partials_path = fresh_scratch_dir("planrealize_partials_", key=sf_dir)
    sinks.seed(spark, partials_path, _PARTIAL)
    doc_stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    sinks.run_available_now(
        doc_stream,
        make_realize_epoch(partials_path, ship_ids, rates),
        sf_dir,
        ("documents",),
    )
    return drain_plan_realization(spark, partials_path, pl)
