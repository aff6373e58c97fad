"""Sinks (SURVEY.md §2.1 S7–S8).

CSV sink mirrors the reference's overwrite-mode header write
(``pre_process.py:304-306``); parquet is the engine-preferred sink;
JDBC mirrors ``transform.py:260`` (works against any JDBC URL whose
driver jar is on the classpath — stubbed-friendly for local runs).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame

_SCRATCH: dict[str, str] = {}


def scratch_dir(prefix: str, key: str = "") -> str:
    """Per-process scratch directory, stable per ``(prefix, key)``.

    Queries that materialize an intermediate layout (Z-order write,
    foreachBatch sink) must return a LAZY DataFrame over the written
    path, so the path can't be removed before the caller collects.
    Instead of leaking one ``mkdtemp`` per invocation, repeated calls
    reuse the same directory (callers overwrite, so reruns replace
    rather than accumulate) and the whole tree is removed at
    interpreter exit. ``key`` separates callers whose payloads differ
    per input (e.g. per ``sf_dir``)."""
    k = f"{prefix}|{key}"
    if k not in _SCRATCH:
        path = tempfile.mkdtemp(prefix=prefix)
        _SCRATCH[k] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return _SCRATCH[k]


def fresh_scratch_dir(prefix: str, key: str = "") -> str:
    """:func:`scratch_dir`, emptied first: a query whose scratch layout
    must start clean on every call (stale epochs or batches from a
    previous run would otherwise be read back) takes its path here."""
    path = scratch_dir(prefix, key)
    shutil.rmtree(path, ignore_errors=True)
    return path


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Overwrite-mode CSV directory write with header (S7)."""
    df.write.csv(path, header=True, mode=mode)


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "overwrite", **options) -> None:
    """JDBC table sink (S8, ``transform.py:260``).

    Executor-parallel writes; pass ``numPartitions``/``batchsize`` in
    ``options`` to bound connection fan-out on a large cluster.
    """
    df.write.options(**options).jdbc(url=url, table=table, mode=mode)


def _write_table_format(df: DataFrame, fmt: str, path: str, mode: str,
                        partition_by: list[str] | None) -> None:
    """Shared path for lakehouse table formats whose connector jars are
    optional at runtime: attempt the write, and translate the Spark
    "unknown data source" failure into ``NotImplementedError`` so
    callers can distinguish "connector absent" from a real write error.
    """
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.save(path)
    except Exception as ex:  # py4j-wrapped AnalysisException
        # Match ONLY the Spark missing-data-source signatures; a broad
        # `fmt in msg` match would misclassify genuine write failures
        # (almost every real Delta error mentions "delta") as
        # connector-absent once the connector IS installed.
        msg = str(ex)
        if "Failed to find data source" in msg or "DATA_SOURCE_NOT_FOUND" in msg:
            raise NotImplementedError(
                f"{fmt} connector not on the classpath; add the {fmt} Spark "
                "package to enable this sink (parquet sink is the local default)"
            ) from ex
        raise


def write_delta(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """Delta Lake table sink — ACID upsertable storage, the natural
    production target for the EP3 publish step on a lakehouse. Gated:
    raises ``NotImplementedError`` when delta-spark isn't installed
    (the local test container ships parquet only)."""
    _write_table_format(df, "delta", path, mode, partition_by)


def write_iceberg(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """Apache Iceberg table sink, same gating as :func:`write_delta`."""
    _write_table_format(df, "iceberg", path, mode, partition_by)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    *,
    path: str | None = None,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) managed/external table sink — the
    co-location primitive for 100 TB joins: two tables bucketed by
    the same key into the same bucket count join WITHOUT any
    Exchange (the shuffle happened once, at write time, and is
    amortized over every subsequent join/aggregate on that key).
    ``sort_cols`` additionally pre-sorts within buckets so the
    sort-merge join skips its sort. Asserted plan-level in
    tests/test_bucketing.py.

    Spark-specific: bucketing metadata lives in the catalog, so this
    writes via ``saveAsTable`` (``path`` makes it external); plain
    ``.parquet(path)`` cannot carry bucket info.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_orc(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """ORC directory sink (built-in columnar alternative to parquet —
    same predicate-pushdown/column-pruning story; useful when the
    downstream warehouse is ORC-native)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_json(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """JSON-lines directory sink — the interchange format for
    downstream consumers without a parquet reader. Schemaless on
    disk: re-reads need an explicit schema for round-trip fidelity
    (JSON has no int/long or date/timestamp distinction)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)
