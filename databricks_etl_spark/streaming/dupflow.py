"""Streaming incremental dup-flow: q363's delta-probe provenance
matrix maintained AT INGEST.

The corpus-side posting index is FROZEN (q363's production semantics:
capped postings, per-doc set sizes, vocabulary — none of it rebuilt as
deltas arrive), so each arriving document's duplicate verdict depends
only on itself plus the static index. That per-row independence is
what makes the streaming lane exact: the ``foreachBatch`` body probes
the batch's synthesized delta docs against the BROADCAST-joined static
index and lands the resulting labeled PAIR relation — not an
aggregate — in the epoch-idempotent sink; the drain applies the final
(delta_source, corpus_source) rollup with its distinct counts over the
union of all epochs. Landing pairs rather than partial counts keeps
``COUNT(DISTINCT ...)`` exact without cross-batch state, and the pair
relation is bounded by the batch's duplicate pairs (the frozen cap
bounds every item's posting list), never by stream length.

Slicing invariance follows from per-row independence: any partition of
the delta docs into micro-batches drains to the same matrix as the
one-shot batch computation (q363) — which is exactly what the driver
hash-checks, because q385 registers with q363's own oracle SQL
(the q361 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming import sinks

_PAIRS = (
    "delta_source string, corpus_source string, delta_id long, corpus_id long"
)
_PAIRS_SCHEMA = sinks.epoch_schema(_PAIRS)


def build_frozen_index(spark: SparkSession, sf_dir: str):
    """Materialize the persisted corpus-side artifacts q363 freezes:
    capped postings ``i`` (doc_id, item), per-doc set sizes ``szc``,
    the full vocabulary, and the corpus source map. localCheckpoint =
    the stand-in for reading the published index at 100 TB."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round10 import _Q363_DF
    from databricks_etl_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens_col("text"))
    i0 = d.select("doc_id", F.explode(toks).alias("item"))
    keep = (
        i0.groupBy("item")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _Q363_DF)
        .select("item")
        .localCheckpoint()
    )
    i = i0.join(keep, "item").localCheckpoint()
    szc = i.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nc"))
    corpus_vocab = i0.select("item").distinct().localCheckpoint()
    csrc = d.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("source").alias("corpus_source"),
    ).localCheckpoint()
    return i, keep, szc, corpus_vocab, csrc


def make_dupflow_epoch(pairs_path: str, index) -> "callable":
    """``foreachBatch`` handler: synthesize the batch's delta docs
    (q363's rewrite rule), probe them against the frozen index, and
    land the labeled pair relation in the epoch-partitioned sink."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round10 import _Q363_B, _Q363_T

    i, keep, szc, corpus_vocab, csrc = index

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        toks = F.array_distinct(tokens_col("text"))
        rewritten = F.array_join(
            F.transform(
                tokens_col("text"), lambda t: F.substring(F.md5(t), 1, 8)
            ),
            " ",
        )
        delta = batch_df.filter(F.col("doc_id") % 7 == 3).select(
            (F.col("doc_id") + _Q363_B).alias("delta_id"),
            "source",
            F.when(F.col("doc_id") % 14 == 3, F.col("text"))
            .otherwise(rewritten)
            .alias("text"),
        )
        di0 = delta.select(
            "delta_id", "source", F.explode(toks).alias("item")
        )
        di = (
            di0.join(
                corpus_vocab.withColumn("__seen", F.lit(True)),
                "item",
                "left",
            )
            .join(keep.withColumn("__kept", F.lit(True)), "item", "left")
            .filter(F.col("__seen").isNull() | F.col("__kept").isNotNull())
            .select("delta_id", "source", "item")
        )
        szd = di.groupBy("delta_id").agg(F.count(F.lit(1)).alias("nd"))
        sh = (
            di.join(i, "item")
            .groupBy(
                "delta_id",
                F.col("source").alias("delta_source"),
                F.col("doc_id").alias("corpus_id"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        pr = (
            sh.join(szd, "delta_id")
            .join(szc, sh.corpus_id == szc.doc_id)
            .filter(
                F.col("shared").cast("double")
                / (F.col("nd") + F.col("nc") - F.col("shared"))
                >= _Q363_T
            )
            .select("delta_id", "delta_source", "corpus_id")
        )
        pairs = pr.join(csrc, "corpus_id").select(
            "delta_source",
            "corpus_source",
            "delta_id",
            "corpus_id",
        )
        sinks.land(pairs, epoch_id, pairs_path)

    return ingest


def drain_dup_flow(spark: SparkSession, pairs_path: str) -> DataFrame:
    """Roll the accumulated pair relation into q363's matrix — the
    distinct counts are exact because the sink holds pairs, not
    partial aggregates."""
    pairs = sinks.landed(spark, pairs_path, _PAIRS)
    return pairs.groupBy("delta_source", "corpus_source").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("delta_id").cast("long").alias("n_delta_docs"),
        F.countDistinct("corpus_id").cast("long").alias("n_corpus_docs"),
    )


def run_streaming_dup_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ingest probe end to end with availableNow over the
    documents table and return the drained provenance matrix."""
    from databricks_etl_spark.sources.readers import SCHEMAS
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    pairs_path = fresh_scratch_dir("dupflow_pairs_", key=sf_dir)
    sinks.seed(spark, pairs_path, _PAIRS)
    index = build_frozen_index(spark, sf_dir)
    doc_stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    sinks.run_available_now(
        doc_stream,
        make_dupflow_epoch(pairs_path, index),
        sf_dir,
        ("documents",),
    )
    return drain_dup_flow(spark, pairs_path)
