"""Driver-mimicking oracle parity: every registered query with an
oracle must match DuckDB on row count, column names, and values
(order-insensitive) at the driver's correctness scale factor.

This is a strictly *harsher* version of the driver's value-hash check:
values are compared exactly (after canonical row/column ordering), so a
pass here implies a hash match there.
"""

from __future__ import annotations

import hashlib
import math
import os

import pandas as pd
import pytest

from databricks_etl_spark.plans.registry import (
    BUILD_ROUND,
    _DRIVER_VERIFIED,
    _FOLDED_THIS_ROUND,
    QUERIES,
    _load,
)

_load()

WITH_ORACLE = sorted(k for k, v in QUERIES.items() if v.oracle is not None)
ROWS_ONLY = sorted(k for k, v in QUERIES.items() if v.oracle is None)

# ---------------------------------------------------------------------------
# Tiered gate (r13 verdict #3): driver-verified lanes have a green
# CORRECTNESS_rN hash AND a full-suite history, so the ITERATION run
# samples ~25% of them deterministically (rotating with the round
# number so four rounds cover every lane) while never-verified lanes
# always run.  The ROUND-CLOSE gate sets SPARK_GRAFT_PARITY_FULL=1 and
# runs 100% — sampling bounds wall-clock growth, not coverage.
# ---------------------------------------------------------------------------

_PARITY_FULL = os.environ.get("SPARK_GRAFT_PARITY_FULL") == "1"
# round number is the tracked rollover constant (VERDICT r15 #2: the
# on-disk artifact glob made a fresh clone sample a different verified
# subset than the working tree whenever the latest artifact pair was
# not yet committed)
_ROUND = BUILD_ROUND
# greens folded without a BUILD_ROUND bump join the sampled tier at the
# next bump, so a mid-round fold never shrinks the iteration run
_SAMPLED_TIER = _DRIVER_VERIFIED - _FOLDED_THIS_ROUND


def _sampled_in(name: str) -> bool:
    """Deterministic ~25% rotating sample: md5 nibble of round:name."""
    return int(hashlib.md5(f"{_ROUND}:{name}".encode()).hexdigest()[0], 16) < 4


def _tiered(name: str):
    if _PARITY_FULL or name not in _SAMPLED_TIER or _sampled_in(name):
        return pytest.param(name)
    return pytest.param(
        name,
        marks=pytest.mark.skip(
            reason="verified tier sampled out this round; "
            "SPARK_GRAFT_PARITY_FULL=1 runs 100% (round-close gate)"
        ),
    )


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by value — the driver's compare is
    order-insensitive with name-sorted columns."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pdf[c].dtype == object:
            # lists/arrays/decimals → canonical strings for sortability
            pdf[c] = pdf[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort", na_position="last")
    return pdf.reset_index(drop=True)


def assert_scalar_schema(df, name: str) -> None:
    """Driver-canonicalizability guard: the driver sorts/hashes query
    output with pandas, which cannot factorize list/map/struct cells
    (q55's r5 driver record crashed on a raw ``array<double>`` column).
    Every registered query — oracled or rows-only — must emit only
    scalar (atomic) columns."""
    from pyspark.sql.types import AtomicType, NullType

    bad = [
        f.name
        for f in df.schema.fields
        if not isinstance(f.dataType, (AtomicType, NullType))
    ]
    assert not bad, (
        f"{name}: non-scalar output columns {bad} — the driver canonicalizer "
        "cannot hash array/map/struct cells; project them to scalars"
    )


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str) -> None:
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column names differ: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row counts differ: {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None or (isinstance(x, float) and math.isnan(x)):
                ok = y is None or (isinstance(y, float) and math.isnan(y))
            elif isinstance(x, float) and isinstance(y, float):
                # Exact equality AND matching zero sign: the driver hashes
                # raw bytes, so -0.0 vs +0.0 (Python ==-equal) is a driver
                # hash mismatch (q276's r6 failure class).
                ok = x == y and math.copysign(1.0, x) == math.copysign(1.0, y)
            else:
                ok = x == y
            assert ok, f"{name}: col {c} row {i}: spark={x!r} duck={y!r}"


@pytest.mark.parametrize("name", [_tiered(n) for n in WITH_ORACLE])
def test_oracle_parity(name, spark, duck, sf_dir):
    qd = QUERIES[name]
    df = qd.fn(spark, sf_dir)
    assert_scalar_schema(df, name)
    spark_pdf = df.toPandas()
    duck_pdf = duck.execute(qd.oracle).fetchdf()
    assert_frames_match(spark_pdf, duck_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(name, spark, sf_dir):
    qd = QUERIES[name]
    df = qd.fn(spark, sf_dir)
    assert_scalar_schema(df, name)
    assert df.count() >= 0


def test_entry_smoke(spark, smoke_sf_dir):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"n_name", "revenue", "n_items"} == set(df.columns)


def test_tiered_gate_mechanism():
    """Pins the verified-tier sampling contract: never-verified lanes
    are never sampled out, the per-round sample stays a real fraction
    (neither ~0 nor ~everything), and the md5 rotation covers every
    verified lane within 32 rounds — sampling bounds wall-clock, not
    eventual coverage.  The round-close gate is exempt by env var."""
    verified = [n for n in WITH_ORACLE if n in _DRIVER_VERIFIED]
    assert verified, "ledger empty — registry fold regressed"

    def in_round(name: str, rnd: int) -> bool:
        return int(hashlib.md5(f"{rnd}:{name}".encode()).hexdigest()[0], 16) < 4

    share = sum(in_round(n, _ROUND) for n in verified) / len(verified)
    assert 0.10 < share < 0.50, f"sample share {share:.3f} drifted"
    never = [
        n
        for n in verified
        if not any(in_round(n, r) for r in range(_ROUND, _ROUND + 32))
    ]
    assert not never, f"lanes never sampled within 32 rounds: {never}"
    # full mode: every oracled lane runs (no skip marks at all)
    if _PARITY_FULL:
        assert all(not p.marks for p in (_tiered(n) for n in WITH_ORACLE))
    # never-verified lanes, and lanes folded this round without a bump,
    # always run regardless of mode
    assert all(
        not _tiered(n).marks for n in WITH_ORACLE if n not in _SAMPLED_TIER
    )


def test_zero_sign_mismatch_is_caught():
    """Regression for q276's r6 driver failure: -0.0 vs +0.0 compares
    Python-== equal but hashes differently driver-side; the harness must
    treat it as a mismatch so the class is caught locally."""
    a = pd.DataFrame({"v": [0.0]})
    b = pd.DataFrame({"v": [-0.0]})
    with pytest.raises(AssertionError):
        assert_frames_match(a, b, "zero-sign sentinel")
    assert_frames_match(a, a.copy(), "zero-sign identical")


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert q, "queries() must not be empty"
    assert set(o) <= set(q), "every oracle key must be a query key"
