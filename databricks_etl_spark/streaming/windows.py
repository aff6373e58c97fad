"""Event-time windowed aggregation (SURVEY.md §2.9).

The reference has no streaming at all; this surface is driven by the
north star + the ``events`` testdata table. Design: every windowed
aggregation is defined ONCE as a batch-checkable transformation
(tumbling / sliding / session), and the streaming variant applies the
identical expression over ``readStream`` with a watermark — Structured
Streaming's unified batch/stream semantics make the batch DuckDB
oracle a genuine check of the streaming logic.

Window starts are emitted as epoch seconds (windows are minute-aligned,
so this is lossless) — keeps cross-engine hashing away from timestamp
precision differences.

Scale notes: tumbling/sliding aggs shuffle on (window, key) — uniform
by construction; session windows shuffle on user key (skewed users are
split by AQE). Watermark bounds state for true streams.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.functions.scalars import decimal_sum
from databricks_etl_spark.sources.readers import scaled_partitions
from databricks_etl_spark.sources.schemas import SCHEMAS


def tumbling_counts(events: DataFrame, duration: str = "10 minutes") -> DataFrame:
    """Per-(window, event_type) count + value sum over tumbling
    event-time windows (``F.window``)."""
    return (
        events.groupBy(F.window("ts", duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value", "total_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame, duration: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding (hopping) windows: each event lands in duration/slide
    windows."""
    return (
        events.groupBy(F.window("ts", duration, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws_epoch"),
            "event_type",
            "n_events",
        )
    )


def session_windows(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows with a fixed inactivity gap
    (``F.session_window``): an event at exactly ``prev_ts + gap``
    still MERGES into the session (range [start, last_ts + gap] is
    boundary-inclusive); only a strictly larger gap splits."""
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value", "session_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("session_start_epoch"),
            "n_events",
            "session_value",
        )
    )


@contextmanager
def stream_shuffle(spark: SparkSession, sf_dir: str, tables=("events",)):
    """Scale-adaptive shuffle/state partitioning for a stream drain.

    A streaming aggregation materializes one state-store instance per
    shuffle partition, each paying task-launch, store-open and commit
    overhead every micro-batch — so the partition count must track the
    INPUT SIZE, not the core count (a few-MB availableNow drain at 32
    partitions spends ~6× longer in per-partition state machinery than
    in the aggregation itself; measured in OPTIMIZATION_r16.md).  This
    only ever LOWERS the session setting — sized at one partition per
    8 MB of input with a floor of 4 — so large inputs keep the
    cluster-configured value and the change is a no-op at scale.
    Restores the session setting on exit (drains run sequentially)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    n = scaled_partitions(spark, sf_dir, tuple(tables), floor=4)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet (file source). Schema must
    be explicit for streams; ns-timestamps arrive as nano-longs and are
    converted exactly like the batch reader."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    path = f"{sf_dir}/events.parquet"
    fields = []
    ns_cols = []
    try:
        arrow = pq.read_schema(path)
    except (FileNotFoundError, OSError):
        # empty ingestion day: no file yet — declare the canonical
        # schema and drain zero rows instead of crashing at plan time
        # (files that appear later still match: testdata is µs today)
        arrow = None
    for f_ in SCHEMAS["events"].fields:
        if arrow is not None and str(
            arrow.field(f_.name).type
        ).startswith("timestamp[ns"):
            ns_cols.append(f_.name)
            fields.append(T.StructField(f_.name, T.LongType(), True))
        else:
            fields.append(f_)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # streaming file source wants a directory: read the sf_dir with a
    # glob filter selecting just the events table
    df = (
        spark.readStream.schema(T.StructType(fields))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def run_windowed_stream(
    spark: SparkSession,
    sf_dir: str,
    agg_fn,
    *,
    watermark: str = "30 minutes",
    output_mode: str = "complete",
) -> DataFrame:
    """Run any of the windowed aggregations as a real stream (file
    source → watermark → agg_fn → memory sink, availableNow) and
    return the materialized result."""
    import uuid

    name = f"win_{uuid.uuid4().hex[:8]}"
    events = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    with stream_shuffle(spark, sf_dir):
        q = (
            agg_fn(events)
            .writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def run_tumbling_stream(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Execute the tumbling aggregation as a real Structured Streaming
    query (file source → watermark → windowed agg → memory sink) with
    ``availableNow`` so a bounded run drains the input and stops.

    Returns the materialized result as a batch DataFrame. With the
    watermark ≥ max event-time disorder, the result equals the batch
    :func:`tumbling_counts` — asserted in tests/test_streaming.py.
    """
    import uuid

    name = f"tumbling_{uuid.uuid4().hex[:8]}"
    events = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    agg = tumbling_counts(events, duration)
    with stream_shuffle(spark, sf_dir):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    *,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps the first event per key and
    drops later duplicates arriving within the watermark, after which
    the key's state is evicted — the at-least-once → effectively-once
    repair stage of a streaming ingest pipeline. (Plain streaming
    ``dropDuplicates`` would keep ALL keys in state forever; the
    watermark variant is the only shape that survives an unbounded
    stream.)

    Returns the materialized survivors (append mode, availableNow).
    The survivor row per key is arrival-order dependent, so tests
    compare against batch on key-set and count, not exact rows.
    """
    import uuid

    name = f"dedup_{uuid.uuid4().hex[:8]}"
    events = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    with stream_shuffle(spark, sf_dir):
        q = (
            events.dropDuplicatesWithinWatermark(list(keys))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (customer segment) — stateless in Structured Streaming
    (each micro-batch joins against the batch table; no watermark, no
    state store), so it composes with downstream windowed aggs freely.
    The static side follows normal join planning — no hard hint:
    the dimension scales with data, so each micro-batch's planner
    picks broadcast only while the stats-estimated size allows.

    Returns the materialized enriched rows (append mode, availableNow).
    Batch-equivalence is exact — asserted in tests.
    """
    import uuid

    from databricks_etl_spark.sources.readers import read_table

    name = f"enrich_{uuid.uuid4().hex[:8]}"
    events = stream_events(spark, sf_dir)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    with stream_shuffle(spark, sf_dir):
        q = (
            events.join(dim, "user_id")
            .select("event_id", "user_id", "event_type", "c_mktsegment")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def run_stream_stream_join(
    spark: SparkSession, sf_dir: str, *, horizon: str = "30 minutes"
) -> DataFrame:
    """Stream-stream interval join: clicks joined to same-user purchases
    landing within ``horizon`` after the click. Both sides carry
    watermarks and the join condition carries the event-time interval —
    the two ingredients Structured Streaming needs to bound join state
    (rows older than watermark + horizon are evicted).

    Returns materialized (user_id, click_id, purchase_id) pairs (append
    mode, availableNow). Equals the batch interval join exactly —
    asserted in tests.
    """
    import uuid

    name = f"ssj_{uuid.uuid4().hex[:8]}"
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", horizon)
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", horizon)
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("user_id", "click_id", "purchase_id")
    with stream_shuffle(spark, sf_dir):
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def run_stream_stream_left_outer_join(
    spark: SparkSession, sf_dir: str, *, horizon: str = "30 minutes"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark eviction:
    clicks joined to same-user purchases within ``horizon``; a click
    with no matching purchase emits a NULL-purchase row — but only
    once the watermark passes ``click_ts + horizon``, i.e. once the
    engine can PROVE no match can still arrive (the fundamental
    difference from batch outer joins: NULL emission is a
    watermark-eviction event, so the unmatched tail newer than the
    final watermark is withheld, not NULL-padded).

    State stays bounded exactly as in the inner variant; the outer
    side adds only the per-row "matched" bit. Matched rows equal the
    batch inner join exactly; the NULL-emission frontier is asserted
    against the final watermark in tests/test_streaming.py.
    """
    import uuid

    name = f"ssloj_{uuid.uuid4().hex[:8]}"
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", horizon)
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", horizon)
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "leftOuter",
    ).select("user_id", "click_id", "click_ts", "purchase_id")
    with stream_shuffle(spark, sf_dir):
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents parquet — the corpus-ingest
    stream for content-fingerprint dedup. Documents carry no event
    time, so a deterministic ingest timestamp is synthesized from
    doc_id (``timestamp_micros(doc_id + 1 day)``) — monotone in id,
    stable across engines, and good enough to anchor a watermark. The
    one-day offset keeps doc_id=0 strictly ABOVE the stream's initial
    watermark (epoch 0): at exactly epoch 0 the dedup operator treats
    the row as late and silently drops it."""
    df = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    return df.withColumn(
        "ingest_ts", F.timestamp_micros(F.col("doc_id") + F.lit(86_400_000_000))
    )


def run_streaming_fingerprint_dedup(
    spark: SparkSession,
    sf_dir: str,
    *,
    watermark: str = "1 hour",
) -> DataFrame:
    """True-stream content dedup: the q42 exact-dedup semantics as a
    Structured Streaming drain. Each arriving document is fingerprinted
    map-side (md5 of whitespace-normalized lowercased text — the
    ``operators.text.doc_fingerprint`` md5_fp lane; a pure projection,
    so it composes with append-mode dedup without any aggregation
    state), then ``dropDuplicatesWithinWatermark`` keeps the first
    arrival per fingerprint with state bounded by the watermark — the
    unbounded-corpus ingest shape: state holds only fingerprints seen
    within the horizon, not the whole history.

    Returns the materialized survivors (append mode, availableNow).
    WHICH duplicate survives is arrival-order dependent; the drained
    FINGERPRINT SET equals the batch distinct — hash-checked by q254.
    """
    import uuid

    name = f"fpdedup_{uuid.uuid4().hex[:8]}"
    docs = stream_documents(spark, sf_dir).withWatermark("ingest_ts", watermark)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = docs.select(
        "doc_id", "source", "ingest_ts", F.md5(norm).alias("md5_fp")
    )
    with stream_shuffle(spark, sf_dir, tables=("documents",)):
        q = (
            fp.dropDuplicatesWithinWatermark(["md5_fp"])
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def run_sliding_stream(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """The sliding (hopping) aggregation as a real Structured Streaming
    query — each event lands in duration/slide OVERLAPPING windows, the
    state-heavier sibling of the tumbling drain (state rows per key ×
    overlap factor). availableNow + complete mode drains the input;
    with the watermark ≥ max disorder the materialization equals batch
    :func:`sliding_counts` — q279's DuckDB oracle hash-checks it."""
    import uuid

    name = f"sliding_{uuid.uuid4().hex[:8]}"
    events = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    agg = sliding_counts(events, duration, slide)
    with stream_shuffle(spark, sf_dir):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
