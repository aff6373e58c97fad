"""Streaming SemDeDup maintenance: the foreachBatch ingest loop that
keeps the embedding CELL index current while a vector stream arrives —
the embedding-lane sibling of :mod:`streaming/neardup` (band index),
composing ``similarity.assign_cells`` with the epoch-idempotent sink
discipline of ``streaming/sinks.py``.

Per micro-batch (epoch):

1. cell-assign the delta vectors against the FIXED broadcast centroids
   (the same quantizer the persisted corpus index was built with);
2. probe the INDEX SO FAR within matching cells only → semantic
   near-dup pairs touching this epoch (delta×index + delta×delta);
3. append the pairs to the result sink, epoch-partition-overwritten
   (replayed epochs replace themselves — exactly-once);
4. append the delta cell assignments to the index, so later epochs see
   them as "corpus".

Epoch-slicing invariance: a pair (a, b) with a in epoch i and b in
epoch j ≥ i is discovered exactly once — at epoch j, where a's cells
are already in the index — and the within-epoch self-join covers
i = j. The drained PAIR SET therefore equals the one-shot batch
computation for any slicing; the per-vector aggregate (n_matches /
max_sim / is_novel) is derived from that invariant pair set after the
drain, counting each vector's pairs in BOTH roles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming import sinks

_PAIRS = "id_a long, id_b long, s double"


def make_semdedup_epoch(
    index_path: str, pairs_path: str, centroids: DataFrame, threshold: float
):
    """``foreachBatch`` handler implementing steps 1–4 above. Batch
    rows need (vec_id, embedding); the index and pair sinks are
    epoch-partitioned parquet directories with dynamic partition
    overwrite for replay idempotency."""
    from databricks_etl_spark.operators.similarity import (
        assign_cells,
        norm,
        paired_cosine,
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        assigned = assign_cells(batch_df, centroids).localCheckpoint()
        # the __epoch < epoch_id filter makes a REPLAYED epoch
        # idempotent (same reasoning as neardup.make_ingest_epoch)
        index = (
            spark.read.parquet(index_path)
            .filter(F.col("__epoch") < int(epoch_id))
            .select(
                F.col("vec_id").alias("id_b"),
                F.col("embedding").alias("__eb"),
                "cell_id",
            )
            .withColumn("__nb", norm(F.col("__eb")))
        )
        a = assigned.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("__ea"), "cell_id"
        ).withColumn("__na", norm(F.col("__ea")))
        sim = F.round(
            paired_cosine(
                F.col("__ea"), F.col("__eb"), F.col("__na"), F.col("__nb")
            ),
            6,
        )
        # normalize to (least, greatest): a cross-epoch delta pair is
        # discovered with the LATER doc on the delta side, but the pair
        # identity must not depend on which epoch found it
        cross = (
            a.join(index, "cell_id")
            .select(
                F.least("id_a", "id_b").alias("id_x"),
                F.greatest("id_a", "id_b").alias("id_y"),
                sim.alias("s"),
            )
            .select(
                F.col("id_x").alias("id_a"), F.col("id_y").alias("id_b"), "s"
            )
            .filter(F.col("s") >= threshold)
        )
        b2 = assigned.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("__eb"), "cell_id"
        ).withColumn("__nb", norm(F.col("__eb")))
        within = (
            a.join(b2, "cell_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", sim.alias("s"))
            .filter(F.col("s") >= threshold)
        )
        pairs = cross.unionByName(within)
        sinks.land(pairs, epoch_id, pairs_path)
        sinks.land(assigned, epoch_id, index_path)

    return ingest


def run_streaming_semdedup(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame,
    threshold: float,
    *,
    batch_mod: int = 5,
    id_offset: int = 10_000_000_000,
) -> DataFrame:
    """Drive the ingest loop end to end with availableNow: the cell
    index is seeded from the existing embeddings table (epoch −1), the
    delta stream is every ``batch_mod``-th vector deterministically
    perturbed by array reversal and re-identified (q287's
    construction), and the result is the per-delta-vector semantic
    novelty verdict derived from the drained (slicing-invariant) pair
    set — matches counted in both pair roles, so two near-dup stream
    vectors each see the other regardless of arrival order."""
    from databricks_etl_spark.operators.similarity import assign_cells
    from databricks_etl_spark.sources.readers import SCHEMAS, read_table
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    # both sinks start empty: a previous run's epochs must not leak in
    index_path = fresh_scratch_dir("sd_index_", key=sf_dir)
    pairs_path = fresh_scratch_dir("sd_pairs_", key=sf_dir)
    corpus = read_table(spark, sf_dir, "embeddings")
    sinks.land(assign_cells(corpus, centroids), -1, index_path)
    sinks.seed(spark, pairs_path, _PAIRS)

    delta_stream = (
        spark.readStream.schema(SCHEMAS["embeddings"])
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .filter(F.col("vec_id") % batch_mod == 0)
        .select(
            (F.col("vec_id") + id_offset).alias("vec_id"),
            F.reverse("embedding").alias("embedding"),
        )
    )
    sinks.run_available_now(
        delta_stream,
        make_semdedup_epoch(index_path, pairs_path, centroids, threshold),
        sf_dir,
        ("embeddings",),
    )

    # explicit schema: a drain where NO epoch found a pair leaves the
    # (pre-created) pairs sink with no parquet parts — an all-novel
    # verdict, not an UNABLE_TO_INFER_SCHEMA crash
    pairs = sinks.landed(spark, pairs_path, _PAIRS)
    # symmetric per-vector aggregate over the invariant pair set:
    # every delta vector counts its pairs in both roles; corpus-side
    # ids (< id_offset) never produce result rows
    touched = pairs.select(F.col("id_a").alias("vec_id"), "s").unionByName(
        pairs.filter(F.col("id_b") >= id_offset).select(
            F.col("id_b").alias("vec_id"), "s"
        )
    )
    hits = touched.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n"), F.max("s").alias("max_sim")
    )
    deltas = (
        spark.read.parquet(index_path)
        .filter(F.col("__epoch") >= 0)
        .select("vec_id", "cell_id")
    )
    return deltas.join(hits, "vec_id", "left").select(
        "vec_id",
        "cell_id",
        F.coalesce("__n", F.lit(0)).cast("long").alias("n_matches"),
        "max_sim",
        F.col("__n").isNull().alias("is_novel"),
    )
