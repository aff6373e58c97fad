"""Streaming incremental near-dup maintenance: the foreachBatch ingest
loop that keeps a corpus band index current while a document stream
arrives — the streaming composition of ``dedup.incremental_band_join``
(round-6 batch operator) with the epoch-idempotent sink discipline of
``streaming/sinks.py``.

Per micro-batch (epoch):

1. band the delta documents (md5 banding, q172's construction);
2. equi-join delta bands against the INDEX SO FAR → candidate pairs
   touching this epoch (delta×index + delta×delta);
3. append the pairs to the result sink, epoch-partition-overwritten
   (replayed epochs replace themselves — exactly-once);
4. append the delta bands to the index, epoch-partition-overwritten,
   so later epochs see them as "corpus".

Epoch-partitioning invariance: a pair (a, b) with a in epoch i and b
in epoch j ≥ i is discovered exactly once — at epoch j, where a's
bands are already in the index — and delta×delta covers i = j. So the
drained pair set equals the BATCH incremental join over the whole
stream regardless of how the engine slices micro-batches, which is
what q257's DuckDB oracle hash-checks (same oracle family as q252).

Scale: per epoch the stream side is one micro-batch; the index join
is a band-bucket equi-join; the index grows append-only (new parquet
partitions), never rewritten.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming import sinks


def make_ingest_epoch(index_path: str, pairs_path: str):
    """``foreachBatch`` handler implementing steps 1–4 above. The index
    and pair sinks are epoch-partitioned parquet directories; both
    writes use dynamic partition overwrite for replay idempotency."""
    from databricks_etl_spark.operators import text as TX
    from databricks_etl_spark.operators.dedup import incremental_band_join
    from databricks_etl_spark.plans.queries_round4 import _band_buckets

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        delta_bands = _band_buckets(
            spark, "", shingle_set=TX.shingles(batch_df, 3).distinct()
        ).localCheckpoint()  # two consumers (join + index append) and
        # the join must see the index BEFORE this epoch's append.
        # The __epoch < epoch_id filter makes a REPLAYED epoch
        # idempotent: after a failure between the two writes, the
        # index may already hold this epoch's own bands — reading them
        # back would discover every same-epoch pair twice (once via
        # delta×index, once via delta×delta) and corrupt the
        # overwritten pair partition.
        index = (
            spark.read.parquet(index_path)
            .filter(F.col("__epoch") < int(epoch_id))
            .select("doc_id", "band", "band_hash")
        )
        pairs = incremental_band_join(delta_bands, index)
        sinks.land(pairs, epoch_id, pairs_path)
        sinks.land(delta_bands, epoch_id, index_path)

    return ingest


def run_streaming_incremental_neardup(
    spark: SparkSession,
    sf_dir: str,
    *,
    batch_mod: int = 5,
    id_offset: int = 10_000_000_000,
) -> DataFrame:
    """Drive the ingest loop end to end with availableNow: the corpus
    index is seeded from the existing documents table (epoch −1), the
    'new batch' stream is every ``batch_mod``-th document re-identified
    by ``id_offset`` (q252's construction), and the drained result is
    every candidate pair touching the stream. Returns the materialized
    pairs (without the epoch column — the pair set is epoch-slicing
    invariant, see module docstring)."""
    from databricks_etl_spark.plans.queries_round4 import _band_buckets
    from databricks_etl_spark.sources.writers import fresh_scratch_dir
    from databricks_etl_spark.streaming.windows import stream_documents

    index_path = fresh_scratch_dir("nd_index_", key=sf_dir)
    pairs_path = fresh_scratch_dir("nd_pairs_", key=sf_dir)
    # seed the index with the existing corpus (epoch -1)
    sinks.land(_band_buckets(spark, sf_dir), -1, index_path)

    batch_stream = (
        stream_documents(spark, sf_dir)
        .filter(F.col("doc_id") % batch_mod == 0)
        .select((F.col("doc_id") + id_offset).alias("doc_id"), "text")
    )
    sinks.run_available_now(
        batch_stream,
        make_ingest_epoch(index_path, pairs_path),
        sf_dir,
        ("documents",),
    )
    # Re-derive cross_corpus from ids (corpus ids < id_offset ≤ batch
    # ids, and id_a < id_b): the per-epoch operator flags a pair of two
    # STREAM docs from different epochs as "cross" — correctly, from
    # the loop's view, since the earlier doc is already in the index —
    # but the whole-stream semantics (and q257's oracle) define
    # cross_corpus as "touches the ORIGINAL corpus". Each pair is
    # discovered in exactly one epoch, so no re-aggregation is needed.
    return spark.read.parquet(pairs_path).select(
        "id_a",
        "id_b",
        (F.col("id_a") < id_offset).alias("cross_corpus"),
        "n_shared_bands",
    )
