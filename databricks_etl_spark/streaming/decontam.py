"""Streaming exact-substring decontamination: benchmark-contamination
screening AT INGEST, the place a production pipeline actually runs it
(screening a 100 TB corpus after the fact re-reads everything; screening
each arriving micro-batch costs only the delta).

Contamination is per-document independent — no cross-epoch state at
all — so the ``foreachBatch`` body is a pure composition of the batch
operators (``text.chunk_tokens`` + ``text.exact_substring_hits``
against the STATIC benchmark gram set, broadcast once per batch) into
the epoch-idempotent sink (:mod:`streaming.sinks` discipline: replayed
epochs overwrite themselves — exactly-once). Because every document
lands wholly inside one micro-batch and hits never cross documents,
the drained hit set is invariant to micro-batch slicing and equals the
one-shot batch computation (q319) — which is exactly what the driver
hash-checks: q336 registers with q319's own oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.streaming import sinks


def make_decontam_epoch(hits_path: str, bench: DataFrame, *, window: int,
                        stride: int, length: int, gram_stride: int):
    """``foreachBatch`` handler: chunk the arriving documents, gram
    the chunks, probe the broadcast benchmark set, verify, and land
    the per-chunk hits in the epoch-partitioned sink."""
    from databricks_etl_spark.operators.text import (
        chunk_tokens,
        exact_substring_hits,
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        chunks = chunk_tokens(batch_df, window, stride).select(
            F.concat_ws(":", "doc_id", "chunk_idx").alias("ckey"),
            F.col("chunk_text").alias("text"),
        )
        hits = exact_substring_hits(
            chunks, bench, length=length, stride=gram_stride,
            corpus_id="ckey",
        )
        sinks.land(hits, epoch_id, hits_path)

    return ingest


def run_streaming_chunk_decontam(
    spark: SparkSession,
    sf_dir: str,
    *,
    window: int,
    stride: int,
    length: int,
    gram_stride: int,
) -> DataFrame:
    """Drive the ingest screen end to end with availableNow over the
    documents table (corpus docs stream in; the benchmark side is
    static) and return the drained per-chunk hit relation decoded to
    (doc_id, chunk_idx, bench_id, n_grams_hit) — byte-equal to the
    batch q319 on any slicing."""
    from databricks_etl_spark.sources.readers import SCHEMAS, read_table
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    hits_path = fresh_scratch_dir("dc_hits_", key=sf_dir)
    hits_schema = "ckey string, bench_id long, n_grams_hit long"
    sinks.seed(spark, hits_path, hits_schema)

    d = read_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias(
            "text"
        ),
    )

    doc_stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 50 != 0)
    )
    sinks.run_available_now(
        doc_stream,
        make_decontam_epoch(
            hits_path,
            bench,
            window=window,
            stride=stride,
            length=length,
            gram_stride=gram_stride,
        ),
        sf_dir,
        ("documents",),
    )

    # explicit schema: a clean corpus leaves the sink empty — an
    # all-clear verdict, not an UNABLE_TO_INFER_SCHEMA crash
    hits = sinks.landed(spark, hits_path, hits_schema)
    k = F.split(F.col("ckey"), ":")
    return hits.select(
        k.getItem(0).cast("long").alias("doc_id"),
        k.getItem(1).cast("long").alias("chunk_idx"),
        "bench_id",
        "n_grams_hit",
    )
