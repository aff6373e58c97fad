"""Source/sink roundtrips (SURVEY.md §2.1 S4, S7) and approx-distinct
tolerance (A4/A10 100 TB default)."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from databricks_etl_spark.operators.profile import uniqueness
from databricks_etl_spark.sources.readers import load_latest, read_csv_table, read_table
from databricks_etl_spark.sources.schemas import SCHEMAS
from databricks_etl_spark.sources.writers import write_csv, write_parquet


def test_csv_sink_roundtrip(spark, smoke_sf_dir, tmp_path):
    """S7: overwrite-mode header CSV write (pre_process.py:304-306) and
    schema-preserving re-read."""
    nation = read_table(spark, smoke_sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    write_csv(nation, out)
    back = read_csv_table(spark, out, SCHEMAS["nation"], multi_line=False)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))
    # overwrite mode really overwrites
    write_csv(nation.limit(3), out)
    assert read_csv_table(spark, out, SCHEMAS["nation"], multi_line=False).count() == 3


def test_parquet_sink_partitioned(spark, smoke_sf_dir, tmp_path):
    orders = read_table(spark, smoke_sf_dir, "orders")
    out = str(tmp_path / "orders_pq")
    write_parquet(orders, out, partition_by=["o_orderstatus"])
    # partition dirs exist → partition pruning is possible on read
    assert any(e.startswith("o_orderstatus=") for e in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    pruned = back.filter(F.col("o_orderstatus") == "F")
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_load_latest_picks_newest_run(spark, smoke_sf_dir, tmp_path):
    """S4: the latest-part-file resolver (transform.py:36-51), rebuilt
    as newest-run-directory selection."""
    nation = read_table(spark, smoke_sf_dir, "nation")
    run1 = str(tmp_path / "run1")
    run2 = str(tmp_path / "run2")
    write_csv(nation.limit(5), run1)
    time.sleep(1.1)
    write_csv(nation.limit(10), run2)
    got = load_latest(spark, str(tmp_path))
    assert got.count() == 10


def test_approx_uniqueness_within_tolerance(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    exact = {r["column"]: r["pct_unique"] for r in uniqueness(o, ["o_orderkey", "o_custkey"]).collect()}
    approx = {
        r["column"]: r["pct_unique"]
        for r in uniqueness(o, ["o_orderkey", "o_custkey"], exact=False).collect()
    }
    for c in exact:
        assert abs(exact[c] - approx[c]) / max(exact[c], 1e-9) < 0.1


def test_jdbc_sink_roundtrip_derby(spark, smoke_sf_dir):
    """S8 (reference transform.py:260): real JDBC write + read-back via
    the Derby embedded driver bundled in Spark's jars/ (no external
    service; in local mode executors share the JVM so the in-memory DB
    is visible to the read). Skips only if no driver jar is present."""
    import pytest

    from databricks_etl_spark.sources.writers import write_jdbc

    nation = read_table(spark, smoke_sf_dir, "nation")
    url = "jdbc:derby:memory:s8db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        write_jdbc(
            nation, url, "nation_s8", driver=driver, numPartitions="2", batchsize="100"
        )
    except Exception as ex:  # pragma: no cover - only on stripped images
        if "No suitable driver" in str(ex) or "ClassNotFoundException" in str(ex):
            pytest.skip("no JDBC driver jar on the classpath")
        raise
    opts = {"url": url, "dbtable": "nation_s8", "driver": driver}
    back = spark.read.format("jdbc").options(**opts).load()
    assert sorted(map(tuple, back.select("n_nationkey", "n_name").collect())) == sorted(
        map(tuple, nation.select("n_nationkey", "n_name").collect())
    )
    # overwrite mode really replaces the table
    write_jdbc(nation.limit(3), url, "nation_s8", driver=driver)
    assert spark.read.format("jdbc").options(**opts).load().count() == 3


def test_lakehouse_sinks_gated(spark, smoke_sf_dir, tmp_path):
    """Delta/Iceberg sinks: write when the connector is present, raise a
    clear NotImplementedError when it is not (this container ships
    neither jar, so the gate is what executes here)."""
    from databricks_etl_spark.sources.writers import write_delta, write_iceberg

    nation = read_table(spark, smoke_sf_dir, "nation")
    for fmt, fn in [("delta", write_delta), ("iceberg", write_iceberg)]:
        out = str(tmp_path / f"nation_{fmt}")
        try:
            fn(nation, out)
        except NotImplementedError as ex:
            assert fmt in str(ex)
        else:  # connector available: verify round-trip
            assert spark.read.format(fmt).load(out).count() == nation.count()


def test_orc_sink_roundtrip(spark, smoke_sf_dir, tmp_path):
    from databricks_etl_spark.sources.writers import write_orc

    orders = read_table(spark, smoke_sf_dir, "orders")
    out = str(tmp_path / "orders_orc")
    write_orc(orders, out, partition_by=["o_orderstatus"])
    assert any(e.startswith("o_orderstatus=") for e in os.listdir(out))
    back = spark.read.orc(out).select(*orders.columns)  # partition col reorders
    assert back.schema["o_orderdate"].dataType == orders.schema["o_orderdate"].dataType
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orders.collect()))


def test_json_sink_roundtrip_with_schema(spark, smoke_sf_dir, tmp_path):
    """JSON round-trip is only faithful with an explicit read schema
    (ints and timestamps don't survive schemaless inference) — the
    writer docstring's contract, proven here."""
    from databricks_etl_spark.sources.writers import write_json

    nation = read_table(spark, smoke_sf_dir, "nation")
    out = str(tmp_path / "nation_json")
    write_json(nation, out)
    back = spark.read.schema(nation.schema).json(out)
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_events_ts_dtype_contract(spark, smoke_sf_dir):
    """Pin the events.ts type contract so a silent testdata
    regeneration (it has already flipped nanos→micros once between
    rounds) fails HERE, loudly, instead of deep inside one query.

    Contract: read_table always yields a usable timestamp column —
    either TIMESTAMP_NTZ (today's timestamp[us] parquet) or TIMESTAMP
    (if a future regeneration writes tz-aware); never bigint (the raw
    nanosAsLong fallback must have been converted) and never a type
    that breaks the gap_exceeds interval arithmetic every
    sessionization query relies on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from databricks_etl_spark.functions.scalars import gap_exceeds

    e = read_table(spark, smoke_sf_dir, "events")
    dtype = dict(e.dtypes)["ts"]
    assert dtype in ("timestamp_ntz", "timestamp"), (
        f"events.ts read as {dtype!r} — testdata regenerated with a new "
        "physical type? extend sources/readers.py conversion"
    )
    # the split predicate that broke in round 2 must analyze and run
    w = Window.partitionBy("user_id").orderBy("ts")
    n = (
        e.limit(1000)
        .select(gap_exceeds("ts", F.lag("ts").over(w), 300).alias("g"))
        .count()
    )
    assert n == 1000


def test_pyjsonl_writer_roundtrip_and_atomicity(spark, smoke_sf_dir, tmp_path):
    """Python DataSource WRITER (write side of q138's connector lane):
    exact round-trip through the jsonl sink, visible files only after
    the driver-side commit (two-phase protocol), _SUCCESS carries the
    row count, and overwrite mode replaces prior parts."""
    import glob
    import os

    from databricks_etl_spark.sources import pydatasource as PDS
    from databricks_etl_spark.sources.readers import read_table

    PDS.register(spark)
    out = str(tmp_path / "docs_jsonl")
    d = read_table(spark, smoke_sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    d.write.format("pyjsonl").option("path", out).mode("append").save()

    # commit protocol: only finalized parts + _SUCCESS, no temps
    assert not glob.glob(os.path.join(out, ".part-*.tmp"))
    parts = glob.glob(os.path.join(out, "part-*.jsonl"))
    assert parts
    with open(os.path.join(out, "_SUCCESS")) as f:
        assert int(f.read()) == d.count()

    back = spark.read.json(out)
    assert back.count() == d.count()
    a = sorted(map(tuple, d.collect()))
    b = sorted(
        (r.doc_id, r.lang, r.source, r.n_chars)
        for r in back.select("doc_id", "lang", "source", "n_chars").collect()
    )
    assert a == b

    # append into a NON-empty dir accumulates — per-job unique token in
    # final part names, so a second job cannot os.rename over the first
    # job's part-00000.jsonl (r5 ADVICE.md finding)
    extra = d.filter("doc_id % 2 = 1")
    extra.write.format("pyjsonl").option("path", out).mode("append").save()
    assert spark.read.json(out).count() == d.count() + extra.count()

    # overwrite replaces, not appends
    half = d.filter("doc_id % 2 = 0")
    half.write.format("pyjsonl").option("path", out).mode("overwrite").save()
    back2 = spark.read.json(out)
    assert back2.count() == half.count()


def test_pyjsonl_overwrite_janitor_is_age_gated(spark, smoke_sf_dir, tmp_path):
    """The overwrite-mode janitor sweeps crashed-job temp litter but
    must NOT race a live concurrent writer (r10 ADVICE): a foreign
    .tmp older than JANITOR_MIN_AGE_SEC is swept, a fresh one — which
    may be a concurrent job's in-flight write — survives the commit."""
    import os
    import time

    from databricks_etl_spark.sources import pydatasource as PDS
    from databricks_etl_spark.sources.readers import read_table

    PDS.register(spark)
    out = str(tmp_path / "janitor")
    os.makedirs(out)
    old = os.path.join(out, ".part-deadbeef0000-crashed.tmp")
    fresh = os.path.join(out, ".part-cafebabe1111-inflight.tmp")
    for p in (old, fresh):
        with open(p, "w") as f:
            f.write('{"doc_id": -1}\n')
    stale_mtime = time.time() - 2 * PDS.JsonLinesWriter.JANITOR_MIN_AGE_SEC
    os.utime(old, (stale_mtime, stale_mtime))

    d = read_table(spark, smoke_sf_dir, "documents").select("doc_id").limit(5)
    d.write.format("pyjsonl").option("path", out).mode("overwrite").save()

    assert not os.path.exists(old), "stale crashed-job temp must be swept"
    assert os.path.exists(fresh), "fresh (possibly live) temp must survive"
    # and the fresh temp is invisible to readers (not a part file)
    assert spark.read.json(out).count() == 5


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema evolution on read: a landing directory accumulates files
    written under an old (a, b) and a new (a, b, c) schema; reading
    with mergeSchema=true unions the schemas — old rows surface c as
    NULL, new rows keep their values, and nothing is dropped. This is
    the ingest contract for a 100 TB lake directory whose producers
    upgrade at different times."""
    out = str(tmp_path / "landing")
    spark.createDataFrame([(1, "x")], "a long, b string").write.mode(
        "append"
    ).parquet(out)
    spark.createDataFrame(
        [(2, "y", 9.5)], "a long, b string, c double"
    ).write.mode("append").parquet(out)

    back = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(back.columns) == {"a", "b", "c"}
    rows = {r.a: r for r in back.collect()}
    assert rows[1].c is None and rows[2].c == 9.5
    assert back.count() == 2


def test_jdbc_partitioned_read_derby(spark, smoke_sf_dir):
    """Partitioned JDBC READ against the Derby table the S8 sink
    writes: the scan must fan out into numPartitions range predicates
    (parallel connections, not one serial cursor) and a filter on the
    frame must reach the remote query as a pushed predicate."""
    import pytest

    from databricks_etl_spark.sources.readers import read_jdbc_partitioned
    from databricks_etl_spark.sources.writers import write_jdbc

    orders = read_table(spark, smoke_sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    url = "jdbc:derby:memory:s8readdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        write_jdbc(orders, url, "orders_s8", driver=driver)
    except Exception as ex:  # pragma: no cover - only on stripped images
        if "No suitable driver" in str(ex) or "ClassNotFoundException" in str(ex):
            pytest.skip("no JDBC driver jar on the classpath")
        raise

    lo = orders.agg({"o_orderkey": "min"}).first()[0]
    hi = orders.agg({"o_orderkey": "max"}).first()[0]
    back = read_jdbc_partitioned(
        spark, url, "orders_s8",
        partition_column="o_orderkey", lower_bound=lo, upper_bound=hi + 1,
        num_partitions=4, driver=driver,
    )
    # range-split scan: 4 input partitions, full row parity
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == orders.count()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orders.collect()))

    # predicate pushdown into the remote query: JDBCRelation shows the
    # filter in PushedFilters (not a post-scan Spark filter only)
    filtered = back.filter(F.col("o_custkey") == 1)
    plan = filtered._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "o_custkey" in plan.split("PushedFilters")[1][:200]


def test_scaled_partitions_sizes_parquet_directory_by_its_files(spark, tmp_path):
    """A Spark-written table directory is sized by its data files, not
    by the directory inode (a few KB, which pinned every count to the
    floor): the same bytes as a directory and as one file give one
    partition count."""
    from databricks_etl_spark.sources.readers import scaled_partitions

    table_dir = tmp_path / "as_dir.parquet"
    spark.range(20000).selectExpr(
        "id", "sha2(CAST(id AS STRING), 256) AS h"
    ).repartition(3).write.parquet(str(table_dir))
    data = b"".join(p.read_bytes() for p in sorted(table_dir.glob("part-*")))
    (tmp_path / "as_file.parquet").write_bytes(data)

    # scale the data bytes to 2.5 partitions' worth: ceil-div asks for 3
    fraction = 2.5 * 8 * 1024 * 1024 / len(data)
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    counts = [
        scaled_partitions(
            spark, str(tmp_path), (t,), fraction=fraction, floor=1
        )
        for t in ("as_dir", "as_file")
    ]
    assert counts == [min(3, session)] * 2
