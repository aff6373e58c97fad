"""Streaming ANN index maintenance: q384's incremental append
maintained AT INGEST.

The quantizers are FROZEN (q384's soundness argument: a delta vector's
IVF cell and PQ code depend only on itself), so each arriving vector
batch can be assigned and encoded alone, and — unlike the dup-flow
lane, whose matrix needs distinct counts and therefore lands pairs —
the per-cell manifest is fully ASSOCIATIVE: counts add and the
order-independent md5-nibble content hashes add. Each ``foreachBatch``
body therefore lands only its batch's per-cell PARTIAL manifest in the
epoch-idempotent sink (8-row relations, not vectors), and the drain
sums the partials and combines them with the corpus manifest exactly
as the batch path does. Slicing invariance is additivity; replayed
epochs overwrite their own partition (exactly-once); and q390
registers with q384's oracle — the from-scratch index rebuild — so the
streaming append is hash-proven byte-equivalent to rebuilding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming import sinks

_PARTIAL = "cell_id int, nd long, hd long"
_PARTIAL_SCHEMA = sinks.epoch_schema(_PARTIAL)


def make_annindex_epoch(partials_path: str):
    """``foreachBatch`` handler: synthesize the batch's delta vectors
    (q384's negation rule), assign + encode them under the frozen
    quantizers, and land the batch's per-cell partial manifest."""
    from databricks_etl_spark.plans.queries_round11 import (
        _q384_delta,
        _q384_index,
        _q384_manifest,
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        part = _q384_manifest(_q384_index(_q384_delta(batch_df)), "nd", "hd")
        sinks.land(part, epoch_id, partials_path)

    return ingest


def drain_ann_index(
    spark: SparkSession, sf_dir: str, partials_path: str
) -> DataFrame:
    """Sum the accumulated delta partials and combine with the corpus
    manifest — the batch path's manifest ⊕ exactly (q384's combine)."""
    from databricks_etl_spark.plans.queries_round11 import (
        _q384_index,
        _q384_manifest,
    )
    from databricks_etl_spark.sources.readers import read_table

    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    man_base = _q384_manifest(_q384_index(base), "nb", "hb")
    partials = sinks.landed(spark, partials_path, _PARTIAL)
    man_delta = partials.groupBy("cell_id").agg(
        F.sum("nd").cast("long").alias("nd"),
        F.sum("hd").cast("long").alias("hd"),
    )
    return man_base.join(man_delta, "cell_id", "full_outer").select(
        F.col("cell_id").cast("long").alias("cell_id"),
        (F.coalesce("nb", F.lit(0)) + F.coalesce("nd", F.lit(0)))
        .cast("long")
        .alias("n_vectors"),
        F.coalesce("nd", F.lit(0)).cast("long").alias("n_delta"),
        (F.coalesce("hb", F.lit(0)) + F.coalesce("hd", F.lit(0)))
        .cast("long")
        .alias("content_hash"),
    )


def run_streaming_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the index maintenance end to end with availableNow over
    the embeddings table and return the drained manifest."""
    from databricks_etl_spark.sources.readers import SCHEMAS
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    partials_path = fresh_scratch_dir("annidx_partials_", key=sf_dir)
    sinks.seed(spark, partials_path, _PARTIAL)
    emb_stream = (
        spark.readStream.schema(SCHEMAS["embeddings"])
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    sinks.run_available_now(
        emb_stream,
        make_annindex_epoch(partials_path),
        sf_dir,
        ("embeddings",),
    )
    return drain_ann_index(spark, sf_dir, partials_path)
