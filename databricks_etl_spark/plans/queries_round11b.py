r"""Round-11b queries: the optimizer-statistics family (stats
collection, histogram selectivity estimation, join-cardinality
q-error, stats-driven plan decisions) and the privacy-audit family
(k-anonymity, generalization ladder, l-diversity, fail-closed gate).

No reference counterpart: the reference notebooks (pre_analysis.py /
pre_process.py / transform.py) ship no optimizer statistics and no
privacy auditing; these extend the engine's credibility surface the
way a real lakehouse engine publishes ANALYZE-style column stats and
a data-governance pipeline publishes re-identification-risk audits.

These lanes registered ``defer=True`` during round 11 (the round-11
driver window was exactly full at q01 + 49, so they queued for the
next round's window instead of displacing the verdict-requested
streaming twins q385/q387/q390). At round-12 rollover the flags were
cleared: registration order (this module imports before any round-12
module) now puts them at the front of the round-12 window, per the
registry's verify-oldest-claims-first discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.operators.quantile_bucket import exact_ntile
from databricks_etl_spark.plans.registry import query
from databricks_etl_spark.sources.readers import read_table
from databricks_etl_spark.streaming import sinks

# q434 embeds q170's oracle SQL via the registry, so a DIRECT import of
# this module must register queries_olap first (round-11 precedent)
import databricks_etl_spark.plans.queries_olap  # noqa: E402,F401  isort: skip

# ---------------------------------------------------------------------------
# q433 — table/column statistics collection (the ANALYZE TABLE surface)
# ---------------------------------------------------------------------------

# One spec drives BOTH engines: (table, numeric columns to profile).
_Q433_COLS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice"],
    "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
    "customer": ["c_custkey", "c_nationkey", "c_acctbal"],
    "part": ["p_partkey", "p_size", "p_retailprice"],
    "supplier": ["s_suppkey", "s_nationkey", "s_acctbal"],
}


def _q433_oracle() -> str:
    parts = []
    for t, cols in _Q433_COLS.items():
        for c in cols:
            parts.append(f"""
                SELECT '{t}' AS table_name, '{c}' AS column_name,
                       CAST(COUNT(*) AS BIGINT) AS n_rows,
                       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
                       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
                       CAST(MIN({c}) AS DOUBLE) AS min_val,
                       CAST(MAX({c}) AS DOUBLE) AS max_val
                FROM {t}""")
    return " UNION ALL ".join(parts)


@query("q433_table_stats_collection", oracle=_q433_oracle())
def q433_table_stats_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-statistics collection — the engine's ``ANALYZE TABLE``
    surface: per profiled column, row count, exact NDV, null count and
    min/max, one output row per (table, column). These are exactly the
    stats a cost-based optimizer consumes; q434 (selectivity) and q435
    (join cardinality) estimate FROM them and audit the estimates
    against actuals, closing the stats → estimate → audit loop.

    Scale shape: one aggregation pass per table (partial + final, no
    joins); the multiple exact ``countDistinct`` columns expand the
    pass k-fold — the audit-grain exact baseline. At 100 TB the NDV
    column swaps to ``approx_count_distinct`` (one pass, no expand;
    the q143 HLL ladder is the error-bounded production path) with the
    rest of the plan unchanged. The per-table result is ONE row; the
    17-row output is a union of constant-width projections of five
    localCheckpoint'd 1-row aggregates, so no per-column table rescan.
    """
    out = []
    for t, cols in _Q433_COLS.items():
        df = read_table(spark, sf_dir, t).select(*cols)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [
                F.countDistinct(c).alias(f"{c}__ndv"),
                F.count(c).alias(f"{c}__nn"),
                F.min(F.col(c).cast("double")).alias(f"{c}__min"),
                F.max(F.col(c).cast("double")).alias(f"{c}__max"),
            ]
        # 1-row aggregate, projected once per column below — checkpoint
        # so the five consumers do not each re-run the table pass
        row = df.agg(*aggs).localCheckpoint(eager=False)
        for c in cols:
            out.append(
                row.select(
                    F.lit(t).alias("table_name"),
                    F.lit(c).alias("column_name"),
                    F.col("__n").alias("n_rows"),
                    F.col(f"{c}__ndv").alias("n_distinct"),
                    (F.col("__n") - F.col(f"{c}__nn")).alias("n_null"),
                    F.col(f"{c}__min").alias("min_val"),
                    F.col(f"{c}__max").alias("max_val"),
                )
            )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# q434 — histogram selectivity estimation audit (estimate vs actual)
# ---------------------------------------------------------------------------

# Range predicates on l_extendedprice (full data range ~[900, 105000]
# at every SF): a low band, two mid bands, an open upper tail (hi past
# the max exercises clamping) and a narrow intra-bucket sliver (pure
# interpolation, no full bucket — the estimator leans entirely on the
# uniform-within-bucket assumption there).
_Q434_PREDS: list[tuple[int, float, float]] = [
    (1, 0.0, 10000.0),
    (2, 10000.0, 30000.0),
    (3, 30000.0, 70000.0),
    (4, 70000.0, 200000.0),
    (5, 50000.0, 52000.0),
]


def _q434_frac_sql(lo: str, hi: str, blo: str, bhi: str) -> str:
    """Uniform-within-bucket overlap fraction of predicate [lo, hi]
    with bucket [blo, bhi] — the classic equi-depth interpolation."""
    return f"""CASE
        WHEN {bhi} > {blo} THEN
            GREATEST(0.0, LEAST(1.0,
                (LEAST({hi}, {bhi}) - GREATEST({lo}, {blo}))
                    / ({bhi} - {blo})))
        WHEN {blo} >= {lo} AND {blo} <= {hi} THEN 1.0
        ELSE 0.0 END"""


def _q434_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    hist = QUERIES["q170_equidepth_histogram"].oracle
    vals = ", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _Q434_PREDS)
    frac = _q434_frac_sql("pr.lo", "pr.hi", "h.lo", "h.hi")
    return f"""
        WITH hist AS MATERIALIZED ({hist}),
        pr(pred_id, lo, hi) AS (VALUES {vals}),
        est AS (
            SELECT pr.pred_id,
                   SUM(CAST(h.n_rows * ({frac}) AS DECIMAL(28,6))) AS est_d
            FROM pr CROSS JOIN hist h
            GROUP BY pr.pred_id
        ),
        act AS (
            SELECT pr.pred_id,
                   SUM(CASE WHEN l.l_extendedprice >= pr.lo
                             AND l.l_extendedprice <= pr.hi
                        THEN 1 ELSE 0 END) AS act_rows
            FROM pr CROSS JOIN lineitem l
            GROUP BY pr.pred_id
        )
        SELECT pr.pred_id, pr.lo, pr.hi,
               round(CAST(est.est_d AS DOUBLE), 4) AS est_rows,
               CAST(act.act_rows AS BIGINT) AS actual_rows,
               round(GREATEST(
                   round(CAST(est.est_d AS DOUBLE), 4)
                       / CAST(act.act_rows AS DOUBLE),
                   CAST(act.act_rows AS DOUBLE)
                       / round(CAST(est.est_d AS DOUBLE), 4)), 6) AS q_error
        FROM pr
        JOIN est ON pr.pred_id = est.pred_id
        JOIN act ON pr.pred_id = act.pred_id
    """


@query("q434_selectivity_estimation_audit", oracle=_q434_oracle())
def q434_selectivity_estimation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Histogram-based selectivity estimation, AUDITED: estimate each
    range predicate's cardinality from q170's published equi-depth
    histogram (uniform-within-bucket interpolation — the estimator
    inside every cost-based optimizer), then measure the actual count
    and report the q-error (max of over/under-estimation factor). The
    narrow-sliver predicate (#5) rests entirely on the within-bucket
    uniformity assumption (no fully-covered bucket) — on a skewed
    column that is where a 10-bucket histogram degrades; the oracle
    embeds q170's histogram SQL verbatim so the estimate cannot drift
    from the published stats.

    Scale shape: the estimator runs on the HISTOGRAM (10 rows × 5
    predicates, broadcast cross join + decimal rollup) — free at any
    corpus size; the actuals are ONE conditional-aggregation pass over
    the fact table (no per-predicate rescan). Histogram construction
    is q170's two-phase distributed rank (exact ntile semantics, no
    SinglePartition sort)."""
    from databricks_etl_spark.plans.queries_olap import (
        q170_equidepth_histogram,
    )

    hist = q170_equidepth_histogram(spark, sf_dir)
    pr = spark.createDataFrame(
        _Q434_PREDS, "pred_id int, lo double, hi double"
    )
    frac = F.expr(_q434_frac_sql("lo", "hi", "b_lo", "b_hi"))
    est = (
        hist.select(
            F.col("n_rows").alias("b_n"),
            F.col("lo").alias("b_lo"),
            F.col("hi").alias("b_hi"),
        )
        .crossJoin(F.broadcast(pr))
        .select("pred_id", (F.col("b_n") * frac).alias("term"))
        .groupBy("pred_id")
        .agg(F.sum(F.col("term").cast("decimal(28,6)")).alias("est_d"))
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    act = (
        li.crossJoin(F.broadcast(pr))
        .select(
            "pred_id",
            F.when(
                (F.col("l_extendedprice") >= F.col("lo"))
                & (F.col("l_extendedprice") <= F.col("hi")),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("pred_id")
        .agg(F.sum("hit").cast("long").alias("actual_rows"))
    )
    est_rows = F.round(F.col("est_d").cast("double"), 4)
    act_d = F.col("actual_rows").cast("double")
    return (
        pr.join(est, "pred_id")
        .join(act, "pred_id")
        .select(
            "pred_id",
            "lo",
            "hi",
            est_rows.alias("est_rows"),
            "actual_rows",
            F.round(
                F.greatest(est_rows / act_d, act_d / est_rows), 6
            ).alias("q_error"),
        )
    )


# ---------------------------------------------------------------------------
# q435 — join-cardinality estimation q-error (independence assumption)
# ---------------------------------------------------------------------------

# (edge label, left table, left key, right table, right key)
_Q435_EDGES: list[tuple[str, str, str, str, str]] = [
    ("customer-orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part-lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier-lineitem", "supplier", "s_suppkey", "lineitem", "l_suppkey"),
]


def _q435_oracle() -> str:
    parts = []
    for edge, lt, lk, rt, rk in _Q435_EDGES:
        est = """CAST(s.n_left AS DOUBLE) * CAST(s.n_right AS DOUBLE)
                 / CAST(GREATEST(s.ndv_left, s.ndv_right) AS DOUBLE)"""
        parts.append(f"""
            SELECT '{edge}' AS edge,
                   s.n_left, s.n_right, s.ndv_left, s.ndv_right,
                   round({est}, 4) AS est_rows,
                   a.actual_rows,
                   round(GREATEST(
                       round({est}, 4) / CAST(a.actual_rows AS DOUBLE),
                       CAST(a.actual_rows AS DOUBLE) / round({est}, 4)),
                       6) AS q_error
            FROM (
                SELECT
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM {lt}) AS n_left,
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM {rt}) AS n_right,
                    (SELECT CAST(COUNT(DISTINCT {lk}) AS BIGINT)
                     FROM {lt}) AS ndv_left,
                    (SELECT CAST(COUNT(DISTINCT {rk}) AS BIGINT)
                     FROM {rt}) AS ndv_right
            ) s CROSS JOIN (
                SELECT CAST(SUM(lc.c * rc.c) AS BIGINT) AS actual_rows
                FROM (SELECT {lk} AS k, COUNT(*) AS c
                      FROM {lt} WHERE {lk} IS NOT NULL GROUP BY 1) lc
                JOIN (SELECT {rk} AS k, COUNT(*) AS c
                      FROM {rt} WHERE {rk} IS NOT NULL GROUP BY 1) rc
                ON lc.k = rc.k
            ) a""")
    return " UNION ALL ".join(parts)


@query("q435_join_cardinality_qerror", oracle=_q435_oracle())
def q435_join_cardinality_qerror(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-cardinality estimation under the textbook independence
    assumption — ``|R ⋈ S| ≈ |R|·|S| / max(ndv(R.k), ndv(S.k))`` —
    audited against the TRUE join size for every FK edge of the
    schema, reported as a q-error. On this corpus's clean uniform FK
    edges the estimate is exact (q_error = 1.0) — the audit's value is
    the METRIC: on skewed or partially-matched keys the same rollup
    exposes the estimator's characteristic overcount, and the q-error
    is what a planner would feed back into join reordering.

    Scale shape: the true join size is computed WITHOUT materializing
    the join — per-key counts on each side (partial+final agg), an
    equi-join of the two count relations (pre-aggregated: one row per
    key, strictly smaller than the raw sides), then an exact integer
    product-sum. That is the 100 TB form: the shuffle keys match the
    join's own shuffle but move aggregated rows, and no row expansion
    ever happens. Stats rows are 1-row aggregates crossed together."""
    out = []
    for edge, lt, lk, rt, rk in _Q435_EDGES:
        left = read_table(spark, sf_dir, lt).select(lk)
        right = read_table(spark, sf_dir, rt).select(rk)
        ls = left.agg(
            F.count(F.lit(1)).alias("n_left"),
            F.countDistinct(lk).alias("ndv_left"),
        )
        rs = right.agg(
            F.count(F.lit(1)).alias("n_right"),
            F.countDistinct(rk).alias("ndv_right"),
        )
        lc = (
            left.filter(F.col(lk).isNotNull())
            .groupBy(F.col(lk).alias("k"))
            .agg(F.count(F.lit(1)).alias("lc"))
        )
        rc = (
            right.filter(F.col(rk).isNotNull())
            .groupBy(F.col(rk).alias("k"))
            .agg(F.count(F.lit(1)).alias("rc"))
        )
        act = (
            lc.join(rc, "k")
            .agg(
                F.sum(F.col("lc") * F.col("rc"))
                .cast("long")
                .alias("actual_rows")
            )
        )
        est = (
            F.col("n_left").cast("double")
            * F.col("n_right").cast("double")
            / F.greatest("ndv_left", "ndv_right").cast("double")
        )
        est_r = F.round(est, 4)
        act_d = F.col("actual_rows").cast("double")
        out.append(
            ls.crossJoin(rs)
            .crossJoin(act)
            .select(
                F.lit(edge).alias("edge"),
                "n_left",
                "n_right",
                "ndv_left",
                "ndv_right",
                est_r.alias("est_rows"),
                "actual_rows",
                F.round(
                    F.greatest(est_r / act_d, act_d / est_r), 6
                ).alias("q_error"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# q436 — stats-driven broadcast planning decision (the stats → plan loop)
# ---------------------------------------------------------------------------

# join edges reuse q435's spec; candidate autoBroadcast-style thresholds
_Q436_THRESHOLDS = [65536, 1048576, 10485760]  # 64 KiB / 1 MiB / 10 MiB
_Q436_NUM_WIDTH = 8  # bytes per profiled numeric column (the width model)


def _q436_oracle() -> str:
    edges = ", ".join(
        f"('{e}', '{lt}', '{rt}')" for e, lt, _, rt, _ in _Q435_EDGES
    )
    ths = ", ".join(f"({t})" for t in _Q436_THRESHOLDS)
    return f"""
        WITH st AS MATERIALIZED ({_q433_oracle()}),
        tb AS (
            SELECT table_name,
                   MAX(n_rows) * {_Q436_NUM_WIDTH} * COUNT(*) AS est_bytes
            FROM st GROUP BY table_name
        ),
        ed(edge, lt, rt) AS (VALUES {edges}),
        th(threshold_bytes) AS (VALUES {ths})
        SELECT ed.edge,
               CAST(th.threshold_bytes AS BIGINT) AS threshold_bytes,
               CASE WHEN l.est_bytes <= r.est_bytes
                    THEN ed.lt ELSE ed.rt END AS build_side,
               CAST(LEAST(l.est_bytes, r.est_bytes) AS BIGINT)
                   AS est_build_bytes,
               CASE WHEN LEAST(l.est_bytes, r.est_bytes)
                         <= th.threshold_bytes
                    THEN 'broadcast' ELSE 'shuffle' END AS strategy
        FROM ed
        JOIN tb l ON l.table_name = ed.lt
        JOIN tb r ON r.table_name = ed.rt
        CROSS JOIN th
    """


@query("q436_broadcast_plan_decision", oracle=_q436_oracle())
def q436_broadcast_plan_decision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closing the stats → PLAN loop: from q433's published column
    stats alone (row count × a fixed per-numeric-column width model),
    size every join edge's build side and decide broadcast vs shuffle
    for each candidate threshold — exactly the decision Spark's own
    ``autoBroadcastJoinThreshold`` makes from catalog stats, made
    auditable. One row per (edge, threshold); the oracle embeds q433's
    stats SQL verbatim so the decision table cannot drift from the
    published stats. A plan-shape test cross-checks the model against
    Spark's REAL planner: the edge this lane marks broadcast-able at
    10 MiB plans as BroadcastHashJoin under the default threshold.

    Scale shape: decisions run on the STATS relation (17 rows → 5
    per-table sizes, broadcast-joined to a 4-edge × 3-threshold grid)
    — free at any corpus size; the stats pass itself is q433's."""
    st = q433_table_stats_collection(spark, sf_dir)
    tb = st.groupBy("table_name").agg(
        (
            F.max("n_rows") * _Q436_NUM_WIDTH * F.count(F.lit(1))
        ).alias("est_bytes")
    )
    ed = spark.createDataFrame(
        [(e, lt, rt) for e, lt, _, rt, _ in _Q435_EDGES],
        "edge string, lt string, rt string",
    )
    th = spark.createDataFrame(
        [(t,) for t in _Q436_THRESHOLDS], "threshold_bytes long"
    )
    l = tb.select(
        F.col("table_name").alias("lt"), F.col("est_bytes").alias("lb")
    )
    r = tb.select(
        F.col("table_name").alias("rt"), F.col("est_bytes").alias("rb")
    )
    build = F.least("lb", "rb")
    return (
        ed.join(F.broadcast(l), "lt")
        .join(F.broadcast(r), "rt")
        .crossJoin(F.broadcast(th))
        .select(
            "edge",
            "threshold_bytes",
            F.when(F.col("lb") <= F.col("rb"), F.col("lt"))
            .otherwise(F.col("rt"))
            .alias("build_side"),
            build.cast("long").alias("est_build_bytes"),
            F.when(build <= F.col("threshold_bytes"), "broadcast")
            .otherwise("shuffle")
            .alias("strategy"),
        )
    )


# ---------------------------------------------------------------------------
# q437 — stats staleness audit (drift since the last ANALYZE)
# ---------------------------------------------------------------------------

# Deterministic late-batch simulation: the "last ANALYZE" saw rows with
# key % _Q437_MOD < _Q437_MOD - 1 (~90%); the full table is current.
_Q437_MOD = 10
_Q437_GROWTH_TOL = 0.05  # stale when rows or NDV grew past 5%

# (table, split key, audited columns)
_Q437_SPEC: list[tuple[str, str, list[str]]] = [
    ("orders", "o_orderkey", ["o_orderkey", "o_custkey", "o_totalprice"]),
    ("lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice"]),
]


def _q437_sql(mod: int = _Q437_MOD, tol: float = _Q437_GROWTH_TOL) -> str:
    parts = []
    for t, k, cols in _Q437_SPEC:
        old = f"({k} % {mod}) < {mod - 1}"
        for c in cols:
            parts.append(f"""
                SELECT '{t}' AS table_name, '{c}' AS column_name,
                       CAST(SUM(CASE WHEN {old} THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_rows_old,
                       CAST(COUNT(*) AS BIGINT) AS n_rows_new,
                       round((CAST(COUNT(*) AS DOUBLE)
                              - SUM(CASE WHEN {old} THEN 1 ELSE 0 END))
                             / SUM(CASE WHEN {old} THEN 1 ELSE 0 END), 6)
                           AS row_growth,
                       round((CAST(COUNT(DISTINCT {c}) AS DOUBLE)
                              - COUNT(DISTINCT CASE WHEN {old}
                                               THEN {c} END))
                             / COUNT(DISTINCT CASE WHEN {old}
                                              THEN {c} END), 6)
                           AS ndv_growth,
                       (CAST(MAX({c}) AS DOUBLE)
                            > CAST(MAX(CASE WHEN {old} THEN {c} END)
                                   AS DOUBLE)
                        OR CAST(MIN({c}) AS DOUBLE)
                            < CAST(MIN(CASE WHEN {old} THEN {c} END)
                                   AS DOUBLE)) AS range_expanded,
                       (round((CAST(COUNT(*) AS DOUBLE)
                               - SUM(CASE WHEN {old} THEN 1 ELSE 0 END))
                              / SUM(CASE WHEN {old} THEN 1 ELSE 0 END), 6)
                            > {tol}
                        OR round((CAST(COUNT(DISTINCT {c}) AS DOUBLE)
                                  - COUNT(DISTINCT CASE WHEN {old}
                                                   THEN {c} END))
                                 / COUNT(DISTINCT CASE WHEN {old}
                                                  THEN {c} END), 6)
                            > {tol}
                        OR CAST(MAX({c}) AS DOUBLE)
                            > CAST(MAX(CASE WHEN {old} THEN {c} END)
                                   AS DOUBLE)
                        OR CAST(MIN({c}) AS DOUBLE)
                            < CAST(MIN(CASE WHEN {old} THEN {c} END)
                                   AS DOUBLE)) AS stale
                FROM {t}""")
    return " UNION ALL ".join(parts)


def _q437_stats_drift(
    spark: SparkSession,
    sf_dir: str,
    mod: int = _Q437_MOD,
    tol: float = _Q437_GROWTH_TOL,
) -> DataFrame:
    out = []
    for t, k, cols in _Q437_SPEC:
        df = read_table(spark, sf_dir, t).select(k, *dict.fromkeys(cols))
        old = (F.col(k) % mod) < (mod - 1)
        aggs = [
            F.sum(F.when(old, 1).otherwise(0)).cast("long").alias("__no"),
            F.count(F.lit(1)).alias("__nn"),
        ]
        for c in cols:
            cd = F.col(c).cast("double")
            aggs += [
                F.countDistinct(F.when(old, F.col(c))).alias(f"{c}__do"),
                F.countDistinct(c).alias(f"{c}__dn"),
                F.min(F.when(old, cd)).alias(f"{c}__mino"),
                F.max(F.when(old, cd)).alias(f"{c}__maxo"),
                F.min(cd).alias(f"{c}__minn"),
                F.max(cd).alias(f"{c}__maxn"),
            ]
        row = df.agg(*aggs).localCheckpoint(eager=False)
        for c in cols:
            rg = F.round(
                (F.col("__nn").cast("double") - F.col("__no"))
                / F.col("__no"),
                6,
            )
            ng = F.round(
                (F.col(f"{c}__dn").cast("double") - F.col(f"{c}__do"))
                / F.col(f"{c}__do"),
                6,
            )
            rexp = (F.col(f"{c}__maxn") > F.col(f"{c}__maxo")) | (
                F.col(f"{c}__minn") < F.col(f"{c}__mino")
            )
            out.append(
                row.select(
                    F.lit(t).alias("table_name"),
                    F.lit(c).alias("column_name"),
                    F.col("__no").alias("n_rows_old"),
                    F.col("__nn").alias("n_rows_new"),
                    rg.alias("row_growth"),
                    ng.alias("ndv_growth"),
                    rexp.alias("range_expanded"),
                    ((rg > tol) | (ng > tol) | rexp).alias("stale"),
                )
            )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


@query("q437_stats_staleness_audit", oracle=_q437_sql())
def q437_stats_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats STALENESS audit — how far has the table drifted since the
    last ANALYZE? A deterministic late-batch split (key % 10 < 9 = the
    rows the old stats saw; the full table = current) yields per-column
    row growth, NDV growth and range expansion, and a fail-closed
    ``stale`` flag when growth passes tolerance or the min/max range
    moved (stale ranges silently break partition pruning and the q434
    estimator — this lane is why engines re-ANALYZE). Kernel takes
    (mod, tol) kwargs; the planted-violation test flips every flag with
    tol=0 and clears them with tol large, and byte-identity at the
    defaults is pinned.

    Scale shape: ONE conditional-aggregation pass per table (old and
    new stats fused into the same partial+final agg — no second scan,
    no join); per-column outputs are projections of a localCheckpoint'd
    1-row aggregate, exactly q433's shape."""
    return _q437_stats_drift(spark, sf_dir)


# ---------------------------------------------------------------------------
# q438 — k-anonymity audit (re-identification risk of the QI release)
# ---------------------------------------------------------------------------

# Quasi-identifier spec: (include nation?, acctbal band width). Level 0
# is the finest release a marketing export would plausibly contain.
_Q438_K_GRID = [2, 5, 10, 20]
# Widths form a REFINEMENT chain (500 | 2000 | 10000) and level 2 drops
# nation: each step strictly merges level-below groups, so group sizes
# only grow and rows_below_5 is provably non-increasing down the ladder.
_PRIV_LEVELS: list[tuple[int, bool, int]] = [
    (0, True, 500),
    (1, True, 2000),
    (2, False, 2000),
    (3, False, 10000),
]
_Q441_RELEASE_LEVEL = 2  # the level the privacy gate actually releases


def _priv_qi_sql(use_nation: bool, width: int) -> str:
    nat = "c_nationkey" if use_nation else "-1"
    return f"""
        SELECT {nat} AS qi_nation, c_mktsegment AS qi_segment,
               CAST(floor(c_acctbal / {width}) AS BIGINT) AS qi_band,
               COUNT(*) AS c
        FROM customer
        GROUP BY 1, 2, 3"""


def _priv_qi(df: DataFrame, use_nation: bool, width: int) -> DataFrame:
    nat = F.col("c_nationkey") if use_nation else F.lit(-1)
    return df.groupBy(
        nat.alias("qi_nation"),
        F.col("c_mktsegment").alias("qi_segment"),
        F.floor(F.col("c_acctbal") / width).cast("long").alias("qi_band"),
    ).agg(F.count(F.lit(1)).alias("c"))


def _q438_oracle() -> str:
    ks = ", ".join(f"({k})" for k in _Q438_K_GRID)
    return f"""
        WITH g AS MATERIALIZED ({_priv_qi_sql(True, 500)}),
        kk(k) AS (VALUES {ks})
        SELECT kk.k,
               CAST(SUM(g.c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(MIN(g.c) AS BIGINT) AS min_group_size,
               CAST(SUM(CASE WHEN g.c < kk.k THEN g.c ELSE 0 END)
                    AS BIGINT) AS rows_below_k,
               round(CAST(SUM(CASE WHEN g.c < kk.k THEN g.c ELSE 0 END)
                          AS DOUBLE)
                     / CAST(SUM(g.c) AS DOUBLE), 6) AS share_below_k
        FROM kk CROSS JOIN g
        GROUP BY kk.k
    """


@query("q438_k_anonymity_audit", oracle=_q438_oracle())
def q438_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the finest plausible release of customer
    quasi-identifiers (nation, market segment, account-balance band):
    for each candidate k, how many rows sit in QI groups smaller than
    k — the classic re-identification risk measure (Sweeney). The
    k-sweep runs on the GROUPED relation, so raising k only re-ranks
    the same bounded histogram; q439 generalizes the QI until the risk
    collapses, and q441 gates a release on it.

    Scale shape: one grouped count over the QI key (partial+final
    agg), then a broadcast |k-grid| × |groups| rollup — the group
    relation is bounded by the QI cardinality (|nations| × |segments|
    × |bands|), not the row count, so the sweep is free at 100 TB."""
    g = _priv_qi(
        read_table(spark, sf_dir, "customer"), True, 500
    ).localCheckpoint(eager=False)
    kk = spark.createDataFrame([(k,) for k in _Q438_K_GRID], "k int")
    below = F.sum(F.when(F.col("c") < F.col("k"), F.col("c")).otherwise(0))
    return (
        g.crossJoin(F.broadcast(kk))
        .groupBy("k")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.min("c").cast("long").alias("min_group_size"),
            below.cast("long").alias("rows_below_k"),
            F.round(
                below.cast("double") / F.sum("c").cast("double"), 6
            ).alias("share_below_k"),
        )
    )


# ---------------------------------------------------------------------------
# q439 — generalization ladder (privacy-utility tradeoff curve)
# ---------------------------------------------------------------------------


def _q439_oracle() -> str:
    parts = []
    for lvl, nat, width in _PRIV_LEVELS:
        parts.append(f"""
            SELECT {lvl} AS level,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(MIN(c) AS BIGINT) AS min_group_size,
                   round(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6)
                       AS avg_group_size,
                   CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END)
                        AS BIGINT) AS rows_below_5,
                   round(CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END)
                              AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
                       AS share_below_5,
                   (SUM(CASE WHEN c < 5 THEN c ELSE 0 END) = 0)
                       AS anonymous_k5
            FROM ({_priv_qi_sql(nat, width)}) g""")
    return " UNION ALL ".join(parts)


@query("q439_generalization_ladder", oracle=_q439_oracle())
def q439_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-anonymization LADDER: re-measure q438's risk as the QI is
    progressively generalized (coarser balance bands, then nation
    dropped) — the privacy-utility tradeoff curve a data-governance
    pipeline publishes to pick the release granularity. Utility falls
    with n_groups (fewer distinguishable cohorts); risk falls with
    rows_below_5. The ``anonymous_k5`` column marks the first level
    that is fully 5-anonymous — the release candidate q441 gates on.

    Scale shape: one grouped count per level over the same table scan
    shape (4 bounded passes; the group relations are QI-cardinality-
    bounded), each followed by a 1-row rollup — no joins, no windows,
    no data-sized shuffle beyond the grouped counts themselves."""
    cust = read_table(spark, sf_dir, "customer")
    out = []
    for lvl, nat, width in _PRIV_LEVELS:
        g = _priv_qi(cust, nat, width)
        below = F.sum(F.when(F.col("c") < 5, F.col("c")).otherwise(0))
        out.append(
            g.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.min("c").cast("long").alias("min_group_size"),
                F.round(
                    F.sum("c").cast("double") / F.count(F.lit(1)), 6
                ).alias("avg_group_size"),
                below.cast("long").alias("rows_below_5"),
                F.round(
                    below.cast("double") / F.sum("c").cast("double"), 6
                ).alias("share_below_5"),
                (below == 0).alias("anonymous_k5"),
            ).select(F.lit(lvl).alias("level"), "*")
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# q440 — l-diversity audit (attribute disclosure, not just identity)
# ---------------------------------------------------------------------------

# QI levels for the sensitive-attribute audit; the sensitive value is
# the account-balance band (fixed 2750-wide quartile-ish bins over the
# [-1000, 10000] data range) — NOT part of these QIs.
_Q440_LEVELS: list[tuple[int, str]] = [
    (0, "nation+segment"),
    (1, "nation"),
    (2, "segment"),
]
_Q440_SENS_SQL = "CAST(floor((c_acctbal + 1000) / 2750) AS BIGINT)"


def _q440_qi_cols(level: int) -> list[str]:
    return {
        0: ["c_nationkey", "c_mktsegment"],
        1: ["c_nationkey"],
        2: ["c_mktsegment"],
    }[level]


def _q440_oracle() -> str:
    parts = []
    for lvl, label in _Q440_LEVELS:
        qi = ", ".join(_q440_qi_cols(lvl))
        parts.append(f"""
            SELECT {lvl} AS level, '{label}' AS qi,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(MIN(l) AS BIGINT) AS min_l,
                   CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS homogeneous_groups,
                   CAST(SUM(CASE WHEN l < 2 THEN c ELSE 0 END)
                        AS BIGINT) AS rows_in_low_l,
                   (MIN(l) >= 2) AS diverse_l2
            FROM (
                SELECT COUNT(DISTINCT {_Q440_SENS_SQL}) AS l,
                       COUNT(*) AS c
                FROM customer GROUP BY {qi}
            ) g""")
    return " UNION ALL ".join(parts)


@query("q440_l_diversity_audit", oracle=_q440_oracle())
def q440_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's blind spot is a group that is
    large but HOMOGENEOUS in the sensitive attribute (everyone in the
    cohort has the same balance band: group size protects identity,
    not the attribute). Per QI level: the minimum number of distinct
    sensitive values any group carries, how many groups are fully
    homogeneous, and the rows exposed in them; ``diverse_l2`` is the
    Machanavajjhala l>=2 bar q441 gates on.

    Scale shape: per level, one grouped distinct-count over the QI key
    (the sensitive domain is 5 fixed bins, so the distinct-agg state
    is bounded) followed by a 1-row rollup — QI-cardinality-bounded,
    like q438."""
    cust = read_table(spark, sf_dir, "customer")
    sens = F.floor((F.col("c_acctbal") + 1000) / 2750).cast("long")
    out = []
    for lvl, label in _Q440_LEVELS:
        g = cust.groupBy(*_q440_qi_cols(lvl)).agg(
            F.countDistinct(sens).alias("l"),
            F.count(F.lit(1)).alias("c"),
        )
        out.append(
            g.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.min("l").cast("long").alias("min_l"),
                F.sum(F.when(F.col("l") == 1, 1).otherwise(0))
                .cast("long")
                .alias("homogeneous_groups"),
                F.sum(F.when(F.col("l") < 2, F.col("c")).otherwise(0))
                .cast("long")
                .alias("rows_in_low_l"),
                (F.min("l") >= 2).alias("diverse_l2"),
            ).select(
                F.lit(lvl).alias("level"), F.lit(label).alias("qi"), "*"
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# q441 — privacy release gate (fail-closed, composes q438/q439/q440/q141)
# ---------------------------------------------------------------------------

_Q441_SHARE_TOL = 0.05  # max tolerated share of rows below k=5
_Q441_MIN_L = 2  # Machanavajjhala bar


def _q441_oracle(
    share_tol: float = _Q441_SHARE_TOL, min_l: int = _Q441_MIN_L
) -> str:
    from databricks_etl_spark.plans.queries_llmprep import _EMAIL

    lvl = dict((l, (n, w)) for l, n, w in _PRIV_LEVELS)[_Q441_RELEASE_LEVEL]
    return f"""
        WITH g AS (
            SELECT CASE WHEN COUNT(*) > 0 THEN
                       CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END)
                            AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                   END AS share_below_5,
                   CAST(SUM(c) AS BIGINT) AS n_customers
            FROM ({_priv_qi_sql(lvl[0], lvl[1])}) q
        ),
        ld AS (
            SELECT MIN(l) AS min_l FROM (
                SELECT COUNT(DISTINCT {_Q440_SENS_SQL}) AS l
                FROM customer GROUP BY c_mktsegment
            ) x
        ),
        em AS (
            SELECT CAST(SUM(CASE WHEN len(regexp_extract_all(
                            text, '{_EMAIL}')) > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
                   COUNT(*) AS n_docs
            FROM documents
        )
        SELECT COALESCE(g.n_customers, 0) AS n_customers,
               round(g.share_below_5, 6) AS share_below_5,
               ld.min_l,
               em.docs_with_email,
               CASE WHEN g.n_customers > 0
                    THEN g.share_below_5 <= {share_tol} END
                   AS check_k_anonymity,
               CASE WHEN g.n_customers > 0
                    THEN ld.min_l >= {min_l} END AS check_l_diversity,
               CASE WHEN em.n_docs > 0
                    THEN em.docs_with_email = 0 END AS check_no_pii,
               CASE WHEN (g.n_customers > 0
                          AND g.share_below_5 <= {share_tol})
                     AND ld.min_l >= {min_l}
                     AND (em.n_docs > 0 AND em.docs_with_email = 0)
                    THEN 'PASS' ELSE 'HOLD' END AS verdict
        FROM g CROSS JOIN ld CROSS JOIN em
    """


def _q441_gate(
    spark: SparkSession,
    customers: DataFrame,
    docs: DataFrame,
    share_tol: float = _Q441_SHARE_TOL,
    min_l: int = _Q441_MIN_L,
) -> DataFrame:
    from databricks_etl_spark.plans.queries_llmprep import _EMAIL

    nat, width = dict((l, (n, w)) for l, n, w in _PRIV_LEVELS)[
        _Q441_RELEASE_LEVEL
    ]
    below = F.sum(F.when(F.col("c") < 5, F.col("c")).otherwise(0))
    g = _priv_qi(customers, nat, width).agg(
        F.when(
            F.count(F.lit(1)) > 0,
            below.cast("double") / F.sum("c").cast("double"),
        ).alias("share_below_5"),
        F.coalesce(F.sum("c").cast("long"), F.lit(0)).alias("n_customers"),
    )
    sens = F.floor((F.col("c_acctbal") + 1000) / 2750).cast("long")
    ld = (
        customers.groupBy("c_mktsegment")
        .agg(F.countDistinct(sens).alias("l"))
        .agg(F.min("l").cast("long").alias("min_l"))
    )
    em = docs.agg(
        F.sum(
            F.when(
                F.size(F.regexp_extract_all("text", F.lit(_EMAIL))) > 0, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("docs_with_email"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    ck = F.when(
        F.col("n_customers") > 0, F.col("share_below_5") <= share_tol
    )
    cl = F.when(F.col("n_customers") > 0, F.col("min_l") >= min_l)
    cp = F.when(F.col("n_docs") > 0, F.col("docs_with_email") == 0)
    return (
        g.crossJoin(ld)
        .crossJoin(em)
        .select(
            "n_customers",
            F.round("share_below_5", 6).alias("share_below_5"),
            "min_l",
            "docs_with_email",
            ck.alias("check_k_anonymity"),
            cl.alias("check_l_diversity"),
            cp.alias("check_no_pii"),
            F.when(ck & cl & cp, "PASS").otherwise("HOLD").alias("verdict"),
        )
    )


@query("q441_privacy_release_gate", oracle=_q441_oracle())
def q441_privacy_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fail-closed PRIVACY release gate — the one-row verdict on top of
    the privacy family: the released QI level (q439's level 2) must
    leave at most 5% of rows below k=5 (q438's measure), every
    segment cohort must carry >=2 distinct sensitive values (q440's
    l-diversity bar), and the document corpus must contain zero
    unredacted e-mail addresses (q141's detector). Any check NULL (an
    EMPTY input — the audit never ran) or false holds the release:
    CASE's NULL-propagation makes missing evidence a HOLD, not a PASS
    (the greatest(NULL,0) gotcha class, handled by COUNT guards). At
    sf0.01 the gate PASSes; at sf0.001 the same thresholds HOLD (the
    release level is not yet 5-anonymous at that corpus size) — the
    gate moves with the data, like q430.

    Scale shape: three 1-row aggregates (QI-bounded group rollup,
    5-segment distinct rollup, one regexp pass over documents) crossed
    together — no data-sized join anywhere."""
    return _q441_gate(
        spark,
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "documents").select("text"),
    )


# ---------------------------------------------------------------------------
# q442 — boolean conjunctive retrieval over the inverted index
# ---------------------------------------------------------------------------

# (query_id, terms): conjunctions over the corpus vocabulary; query 5
# carries a term that appears nowhere, so its result set is EMPTY and
# the left-join zero-hit path is exercised on the registered output.
_Q442_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["spark", "join"]),
    (2, ["window", "sort", "hash"]),
    (3, ["vector", "stream", "filter", "batch"]),
    (4, ["scan", "merge", "query", "group", "key"]),
    (5, ["spark", "zzz_unseen_term"]),
]


def _q442_oracle() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _Q442_QUERIES for t in terms
    )
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS w
            FROM documents
        ),
        q(query_id, term) AS (VALUES {vals}),
        qn AS (
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_terms
            FROM q GROUP BY query_id
        ),
        m AS (
            SELECT q.query_id, t.doc_id,
                   COUNT(DISTINCT t.w) AS matched
            FROM q JOIN toks t ON t.w = q.term
            GROUP BY q.query_id, t.doc_id
        ),
        h AS (
            SELECT m.query_id,
                   CAST(COUNT(*) AS BIGINT) AS n_hits,
                   MIN(m.doc_id) AS first_doc
            FROM m JOIN qn ON m.query_id = qn.query_id
            WHERE m.matched = qn.n_terms
            GROUP BY m.query_id
        ),
        n AS (SELECT COUNT(*) AS total FROM documents)
        SELECT qn.query_id, qn.n_terms,
               COALESCE(h.n_hits, 0) AS n_hits,
               round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                     / n.total, 6) AS hit_share,
               COALESCE(h.first_doc, -1) AS first_doc
        FROM qn LEFT JOIN h ON qn.query_id = h.query_id
        CROSS JOIN n
    """


@query("q442_boolean_retrieval", oracle=_q442_oracle())
def q442_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive boolean retrieval (AND of terms) over the corpus
    inverted index — the lexical sibling of the ANN serving stack and
    the primitive under BM25's candidate generation: a document
    matches when its posting appears under EVERY query term, evaluated
    as posting-list intersection by counting distinct matched terms
    per (query, doc) and keeping docs where the count equals the
    query's term count. Query 5 carries an out-of-vocabulary term, so
    its conjunction is empty by construction — the zero-hit row
    (n_hits=0, first_doc=-1) proves the left-join path rather than
    silently dropping the query.

    Scale shape: the token stream is cut to the QUERY VOCABULARY by a
    broadcast semi-join BEFORE any shuffle (q263's discipline — the
    posting build never materializes postings for terms no query
    uses); the intersection is one grouped count on (query_id,
    doc_id), bounded by Σ|postings(term)|, never an all-pairs or a
    per-term self-join chain."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("w"),
    ).distinct()
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in _Q442_QUERIES for t in terms],
        "query_id int, term string",
    )
    qn = q.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms")
    )
    m = (
        toks.join(F.broadcast(q), toks.w == q.term)
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("w").alias("matched"))
    )
    h = (
        m.join(F.broadcast(qn), "query_id")
        .filter(F.col("matched") == F.col("n_terms"))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min("doc_id").alias("first_doc"),
        )
    )
    n = docs.agg(F.count(F.lit(1)).alias("total"))
    return (
        qn.join(h, "query_id", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "query_id",
            "n_terms",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("total"),
                6,
            ).alias("hit_share"),
            F.coalesce(F.col("first_doc"), F.lit(-1)).alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# q443/q444 — time travel: versioned action log, as-of reads, vacuum
# ---------------------------------------------------------------------------

# Deterministic Delta-log-style history derived from orders: monthly
# ingest files (file_id = month key, rows = orders that month), then
#   v1: initial ingest (every file with rank % 3 != 0)
#   v2: backfill        (the rank % 3 == 0 files)
#   v3: compaction      (removes the two oldest files, adds one merged
#                        file carrying their combined rows — ROW-
#                        PRESERVING by construction)
#   v4: retention delete (removes the rank-3 file — rows leave)
_Q443_VERSIONS = [1, 2, 3, 4]
_Q444_RETENTION_GRID = [0, 1, 2, 3]


def _version_log_sql(p: str = "") -> str:
    """The action log as a DuckDB CTE body ({p}files + {p}acts). The
    ``p`` prefix exists because DuckDB HOISTS materialized CTEs: two
    components embedding this log inside one statement (q448) need
    disjoint names or the binder reports a duplicate alias."""
    return f"""
        {p}files AS MATERIALIZED (
            SELECT file_id, rws,
                   row_number() OVER (ORDER BY file_id) AS rk
            FROM (
                SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate)
                            AS BIGINT) AS file_id,
                       CAST(COUNT(*) AS BIGINT) AS rws
                FROM orders GROUP BY 1
            ) m
        ),
        {p}acts AS MATERIALIZED (
            SELECT 1 AS version, 'add' AS action, file_id, rws
            FROM {p}files WHERE rk % 3 <> 0
            UNION ALL
            SELECT 2, 'add', file_id, rws FROM {p}files WHERE rk % 3 = 0
            UNION ALL
            SELECT 3, 'remove', file_id, rws FROM {p}files WHERE rk <= 2
            UNION ALL
            SELECT 3, 'add', CAST(-1 AS BIGINT),
                   (SELECT CAST(SUM(rws) AS BIGINT) FROM {p}files
                    WHERE rk <= 2)
            UNION ALL
            SELECT 4, 'remove', file_id, rws FROM {p}files WHERE rk = 3
        )"""


# the action rows _version_log yields, as landed by the CDC sinks
_ACTIONS = "version int, action string, file_id long, rws long"


def _version_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(version, action, file_id, rws) — the Spark twin of the log."""
    from pyspark.sql import Window

    months = (
        read_table(spark, sf_dir, "orders")
        .select(
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            )
            .cast("long")
            .alias("file_id")
        )
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).cast("long").alias("rws"))
    )
    files = months.withColumn(
        "rk", F.row_number().over(Window.orderBy("file_id"))
    ).localCheckpoint(eager=False)  # five consumers below; rank is tiny (months)
    compacted_rows = files.filter(F.col("rk") <= 2).agg(
        F.sum("rws").cast("long").alias("rws")
    )
    v1 = files.filter(F.col("rk") % 3 != 0).select(
        F.lit(1).alias("version"), F.lit("add").alias("action"),
        "file_id", "rws",
    )
    v2 = files.filter(F.col("rk") % 3 == 0).select(
        F.lit(2).alias("version"), F.lit("add").alias("action"),
        "file_id", "rws",
    )
    v3r = files.filter(F.col("rk") <= 2).select(
        F.lit(3).alias("version"), F.lit("remove").alias("action"),
        "file_id", "rws",
    )
    v3a = compacted_rows.select(
        F.lit(3).alias("version"), F.lit("add").alias("action"),
        F.lit(-1).cast("long").alias("file_id"), "rws",
    )
    v4 = files.filter(F.col("rk") == 3).select(
        F.lit(4).alias("version"), F.lit("remove").alias("action"),
        "file_id", "rws",
    )
    return v1.unionByName(v2).unionByName(v3r).unionByName(v3a).unionByName(v4)


def _q443_oracle(p: str = "") -> str:
    vs = ", ".join(f"({v})" for v in _Q443_VERSIONS)
    return f"""
        WITH {_version_log_sql(p)},
        vg(version_at) AS (VALUES {vs}),
        live AS (
            SELECT vg.version_at, a.file_id, a.rws
            FROM vg JOIN {p}acts a
              ON a.action = 'add' AND a.version <= vg.version_at
            WHERE NOT EXISTS (
                SELECT 1 FROM {p}acts r
                WHERE r.action = 'remove'
                  AND r.version <= vg.version_at
                  AND r.file_id = a.file_id
            )
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders)
        SELECT live.version_at,
               CAST(COUNT(*) AS BIGINT) AS n_live_files,
               CAST(SUM(live.rws) AS BIGINT) AS live_rows,
               CAST(SUM(live.rws) - tot.n AS BIGINT)
                   AS rows_delta_vs_current
        FROM live CROSS JOIN tot
        GROUP BY live.version_at, tot.n
    """


@query("q443_time_travel_reads", oracle=_q443_oracle())
def q443_time_travel_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a versioned table log — reconstruct the LIVE
    file set AS OF every version from an add/remove action log (the
    Delta/Iceberg snapshot semantics, stated as pure relational
    algebra: adds up to v, anti-joined against removes up to v). The
    history plants the two invariants that make snapshot isolation
    auditable: v3's compaction is ROW-PRESERVING (live_rows unchanged,
    file count drops) and v4's retention delete is not
    (rows_delta_vs_current goes negative) — both pinned by test.

    Scale shape: the log is file-grain metadata (bounded by file
    count, never data rows — exactly how a real table format scales:
    the 100 TB table's log is MBs); reconstruction is a broadcast
    version-grid join + anti-join on (version, file_id), and row
    totals ride the log's own rws column, so no data re-scan per
    version."""
    log = _version_log(spark, sf_dir).localCheckpoint(eager=False)
    vg = spark.createDataFrame(
        [(v,) for v in _Q443_VERSIONS], "version_at int"
    )
    adds = log.filter(F.col("action") == "add")
    rems = log.filter(F.col("action") == "remove").select(
        "version", "file_id"
    )
    adds_v = F.broadcast(vg).crossJoin(adds).filter(
        F.col("version") <= F.col("version_at")
    )
    rems_v = (
        F.broadcast(vg)
        .crossJoin(rems)
        .filter(F.col("version") <= F.col("version_at"))
        .select("version_at", "file_id")
    )
    live = adds_v.join(rems_v, ["version_at", "file_id"], "left_anti")
    tot = (
        read_table(spark, sf_dir, "orders")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        live.groupBy("version_at")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_live_files"),
            F.sum("rws").cast("long").alias("live_rows"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "version_at",
            "n_live_files",
            "live_rows",
            (F.col("live_rows") - F.col("n"))
            .cast("long")
            .alias("rows_delta_vs_current"),
        )
    )


_Q444_HEAD = 4  # head version of the log above


def _q444_oracle(p: str = "") -> str:
    rs = ", ".join(f"({r})" for r in _Q444_RETENTION_GRID)
    return f"""
        WITH {_version_log_sql(p)},
        rg(retention_versions) AS (VALUES {rs}),
        rem AS (SELECT version, file_id, rws FROM {p}acts
                WHERE action = 'remove')
        SELECT rg.retention_versions,
               CAST(SUM(CASE WHEN rem.version
                                  <= {_Q444_HEAD} - rg.retention_versions
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS reclaimable_files,
               CAST(SUM(CASE WHEN rem.version
                                  <= {_Q444_HEAD} - rg.retention_versions
                             THEN rem.rws ELSE 0 END) AS BIGINT)
                   AS reclaimable_rows,
               CAST(SUM(CASE WHEN rem.version
                                  > {_Q444_HEAD} - rg.retention_versions
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS retained_tombstones
        FROM rg CROSS JOIN rem
        GROUP BY rg.retention_versions
    """


@query("q444_vacuum_retention_audit", oracle=_q444_oracle())
def q444_vacuum_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM planning over the q443 log: a removed file's bytes are
    reclaimable only once every snapshot that could still read it has
    aged out — i.e. when its remove landed at or before head−R for a
    retention window of R versions. The sweep prices the time-travel
    guarantee: R=0 reclaims every tombstone (and forfeits history),
    each extra retained version converts reclaimable rows back into
    tombstoned-but-held storage. Vacuum can NEVER touch a live file —
    it plans exclusively over the remove half of the log (pinned by
    test against q443's live sets).

    Scale shape: file-grain metadata only (the remove log × a 4-row
    broadcast retention grid); at 100 TB this is the same MB-scale
    log scan a real VACUUM dry-run does."""
    log = _version_log(spark, sf_dir)
    rem = log.filter(F.col("action") == "remove")
    rg = spark.createDataFrame(
        [(r,) for r in _Q444_RETENTION_GRID], "retention_versions int"
    )
    cutoff = F.lit(_Q444_HEAD) - F.col("retention_versions")
    reclaim = F.col("version") <= cutoff
    return (
        rem.crossJoin(F.broadcast(rg))
        .groupBy("retention_versions")
        .agg(
            F.sum(F.when(reclaim, 1).otherwise(0))
            .cast("long")
            .alias("reclaimable_files"),
            F.sum(F.when(reclaim, F.col("rws")).otherwise(0))
            .cast("long")
            .alias("reclaimable_rows"),
            F.sum(F.when(~reclaim, 1).otherwise(0))
            .cast("long")
            .alias("retained_tombstones"),
        )
    )


# ---------------------------------------------------------------------------
# q445 — conjunctive selectivity audit (the independence-assumption trap)
# ---------------------------------------------------------------------------

# Predicate pairs (col_a, lo_a, hi_a, col_b, lo_b, hi_b). Pair 2 puts
# BOTH predicates on the same column with overlapping ranges — the
# planted correlation trap where multiplying marginal selectivities
# must overshoot badly (the estimate a histogram-only optimizer makes).
_Q445_PAIRS: list[tuple[int, str, float, float, str, float, float]] = [
    (1, "l_extendedprice", 10000.0, 30000.0, "l_quantity", 10.0, 25.0),
    (2, "l_extendedprice", 10000.0, 30000.0,
     "l_extendedprice", 20000.0, 40000.0),
    (3, "l_extendedprice", 0.0, 50000.0, "l_quantity", 1.0, 50.0),
]
_Q445_BUCKETS = 10


def _hist_sql(col: str) -> str:
    """Equi-depth histogram CTE body for ``col`` of lineitem — q170's
    construction generalized to any numeric column (same deterministic
    (value, orderkey, linenumber) tiebreak)."""
    return f"""
        SELECT CAST(bucket AS BIGINT) AS bucket,
               COUNT(*) AS n_rows,
               MIN(v) AS lo, MAX(v) AS hi
        FROM (
            SELECT {col} AS v,
                   ntile({_Q445_BUCKETS}) OVER (
                       ORDER BY {col}, l_orderkey, l_linenumber) AS bucket
            FROM lineitem
        ) b GROUP BY bucket"""


def _hist(df: DataFrame, col: str) -> DataFrame:
    """Exact equi-depth histogram via the two-phase distributed rank
    (:func:`exact_ntile`) — bit-identical to the oracle's global
    ``ntile`` but with no SinglePartition sort (the only ordered
    window runs over partition ids, pinned in test_plan_audit)."""
    binned = exact_ntile(
        df.select(F.col(col).alias("v"), "l_orderkey", "l_linenumber"),
        ["v", "l_orderkey", "l_linenumber"],
        _Q445_BUCKETS,
        out_col="bucket",
    )
    return binned.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )


def _q445_oracle() -> str:
    # one estimated-rows CTE per (pair, side), from that side's histogram
    frac = _q434_frac_sql("{lo}", "{hi}", "h.lo", "h.hi")
    ests, selects = [], []
    for pid, ca, la, ha, cb, lb, hb in _Q445_PAIRS:
        for side, (c, lo, hi) in (("a", (ca, la, ha)), ("b", (cb, lb, hb))):
            ests.append(f"""
        e{pid}{side} AS (
            SELECT SUM(CAST(h.n_rows * ({frac.format(lo=lo, hi=hi)})
                            AS DECIMAL(28,6))) AS est
            FROM h_{c} h
        )""")
        selects.append(f"""
            SELECT {pid} AS pair_id,
                   round(CAST(a.est AS DOUBLE) / n.n, 6) AS est_sel_a,
                   round(CAST(b.est AS DOUBLE) / n.n, 6) AS est_sel_b,
                   round(CAST(a.est AS DOUBLE) / n.n
                         * CAST(b.est AS DOUBLE) / n.n * n.n, 4)
                       AS est_rows,
                   (SELECT CAST(SUM(CASE WHEN {ca} >= {la} AND {ca} <= {ha}
                                          AND {cb} >= {lb} AND {cb} <= {hb}
                                     THEN 1 ELSE 0 END) AS BIGINT)
                    FROM lineitem) AS actual_rows,
                   {str(ca == cb).upper()} AS same_column
            FROM e{pid}a a CROSS JOIN e{pid}b b CROSS JOIN n""")
    hists = ", ".join(
        f"h_{c} AS MATERIALIZED ({_hist_sql(c)})"
        for c in sorted({p[1] for p in _Q445_PAIRS}
                        | {p[4] for p in _Q445_PAIRS})
    )
    body = " UNION ALL ".join(selects)
    return f"""
        WITH {hists},
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lineitem),
        {", ".join(ests)},
        res AS ({body})
        SELECT pair_id, est_sel_a, est_sel_b, est_rows, actual_rows,
               round(GREATEST(
                   est_rows / CAST(actual_rows AS DOUBLE),
                   CAST(actual_rows AS DOUBLE) / est_rows), 6) AS q_error,
               same_column
        FROM res
    """


@query("q445_conjunction_selectivity_audit", oracle=_q445_oracle())
def q445_conjunction_selectivity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Where q434's estimator BREAKS: conjunctive selectivity under the
    attribute-independence assumption (sel(A ∧ B) ≈ sel(A)·sel(B) —
    what every histogram-only optimizer computes). Pair 2 plants the
    trap: both predicates on the SAME column with overlapping ranges
    (fully positively correlated), so the product UNDERSHOOTS the true
    overlap selectivity ~2.6x — the pair's q_error dwarfs the
    cross-column pairs' and the ``same_column`` flag names the cause. This is the audit
    that motivates multi-column stats; the honest report is the
    q-error, not a patched estimate.

    Scale shape: marginal estimates run on the two 10-row histograms;
    the actuals are ONE conditional-aggregation pass over lineitem for
    all pairs (the oracle states it per-pair for clarity; Spark fuses
    them); histogram construction is the two-phase distributed rank
    (``_hist`` → :func:`exact_ntile`), no SinglePartition sort."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber"
    )
    cols = sorted({p[1] for p in _Q445_PAIRS} | {p[4] for p in _Q445_PAIRS})
    hists = {c: _hist(li, c).localCheckpoint(eager=False) for c in cols}
    n = float(li.count())

    def est(c: str, lo: float, hi: float):
        frac = F.expr(
            _q434_frac_sql(str(lo), str(hi), "lo", "hi")
        )
        return (
            hists[c]
            .select((F.col("n_rows") * frac).alias("term"))
            .agg(F.sum(F.col("term").cast("decimal(28,6)")).alias("est"))
        )

    out = []
    for pid, ca, la, ha, cb, lb, hb in _Q445_PAIRS:
        ea = est(ca, la, ha).select(F.col("est").alias("ea"))
        eb = est(cb, lb, hb).select(F.col("est").alias("eb"))
        act = li.agg(
            F.sum(
                F.when(
                    (F.col(ca) >= la) & (F.col(ca) <= ha)
                    & (F.col(cb) >= lb) & (F.col(cb) <= hb),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("actual_rows")
        )
        sel_a = F.round(F.col("ea").cast("double") / n, 6)
        sel_b = F.round(F.col("eb").cast("double") / n, 6)
        est_rows = F.round(
            F.col("ea").cast("double") / n
            * F.col("eb").cast("double") / n * n,
            4,
        )
        out.append(
            ea.crossJoin(eb)
            .crossJoin(act)
            .select(
                F.lit(pid).alias("pair_id"),
                sel_a.alias("est_sel_a"),
                sel_b.alias("est_sel_b"),
                est_rows.alias("est_rows"),
                "actual_rows",
                F.round(
                    F.greatest(
                        est_rows / F.col("actual_rows").cast("double"),
                        F.col("actual_rows").cast("double") / est_rows,
                    ),
                    6,
                ).alias("q_error"),
                F.lit(ca == cb).alias("same_column"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# q446 — optimistic-concurrency commit conflict audit
# ---------------------------------------------------------------------------

# Four concurrent transactions against the q443 table, write sets in
# file_ids: two compactions overlapping on the rank-2 file (the
# planted write-write conflict), an append (fresh file id, conflicts
# with nothing) and a retention delete on an untouched file.
_Q446_TXNS: dict[int, str] = {
    1: "rk IN (1, 2)",      # compaction A
    2: "rk IN (2, 3)",      # compaction B — overlaps A on rank 2
    3: None,                # append (file_id -10), no existing writes
    4: "rk = 5",            # retention delete
}
_Q446_PAIRS = [(a, b) for a in _Q446_TXNS for b in _Q446_TXNS if a < b]


def _q446_oracle(p: str = "") -> str:
    tx = []
    for t, pred in _Q446_TXNS.items():
        if pred is None:
            tx.append(f"SELECT {t} AS txn, CAST(-10 AS BIGINT) AS file_id")
        else:
            tx.append(
                f"SELECT {t} AS txn, file_id FROM {p}files WHERE {pred}"
            )
    pairs = ", ".join(f"({a}, {b})" for a, b in _Q446_PAIRS)
    return f"""
        WITH {_version_log_sql(p)},
        {p}tx AS MATERIALIZED ({" UNION ALL ".join(tx)}),
        pg(txn_a, txn_b) AS (VALUES {pairs}),
        ww AS (
            SELECT a.txn AS txn_a, b.txn AS txn_b,
                   CAST(COUNT(*) AS BIGINT) AS shared_writes
            FROM {p}tx a JOIN {p}tx b
              ON a.file_id = b.file_id AND a.txn < b.txn
            GROUP BY 1, 2
        )
        SELECT pg.txn_a, pg.txn_b,
               COALESCE(ww.shared_writes, 0) AS shared_writes,
               (COALESCE(ww.shared_writes, 0) > 0) AS conflict,
               CASE WHEN COALESCE(ww.shared_writes, 0) > 0
                    THEN pg.txn_b ELSE -1 END AS aborted_txn
        FROM pg LEFT JOIN ww
          ON pg.txn_a = ww.txn_a AND pg.txn_b = ww.txn_b
    """


@query("q446_commit_conflict_audit", oracle=_q446_oracle())
def q446_commit_conflict_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency control at the table-format layer: every
    pair of concurrent transactions is checked for WRITE-WRITE overlap
    of their file sets — the Delta/Iceberg commit-conflict rule (two
    compactions rewriting the same file cannot both commit; first
    committer wins, the later transaction aborts and retries). The
    planted overlap (both compactions claim the rank-2 file) is the
    only conflicting pair; the append's fresh file id conflicts with
    nothing — pinned by test. ``aborted_txn`` is the loser under
    commit-timestamp order (= the higher txn id here), -1 when the
    pair serializes cleanly.

    Scale shape: conflict detection is a self-equi-join of the txn
    write-set relation on file_id — file-grain metadata (a real
    commit check reads two log entries, never data), then a broadcast
    6-row pair grid for the verdict rows."""
    from databricks_etl_spark.plans.queries_round11b import _version_log

    files = (
        _version_log(spark, sf_dir)  # recompute is metadata-cheap
        .filter((F.col("action") == "add") & (F.col("version") <= 2))
        .select("file_id")
    )
    from pyspark.sql import Window

    rk = files.withColumn(
        "rk", F.row_number().over(Window.orderBy("file_id"))
    ).localCheckpoint(eager=False)
    tx_parts = []
    for t, pred in _Q446_TXNS.items():
        if pred is None:
            tx_parts.append(
                rk.limit(1).select(
                    F.lit(t).alias("txn"),
                    F.lit(-10).cast("long").alias("file_id"),
                )
            )
        else:
            tx_parts.append(
                rk.filter(F.expr(pred)).select(
                    F.lit(t).alias("txn"), "file_id"
                )
            )
    tx = tx_parts[0]
    for df in tx_parts[1:]:
        tx = tx.unionByName(df)
    tx = tx.localCheckpoint(eager=False)
    a = tx.select(F.col("txn").alias("txn_a"), "file_id")
    b = tx.select(F.col("txn").alias("txn_b"), "file_id")
    ww = (
        a.join(b, "file_id")
        .filter(F.col("txn_a") < F.col("txn_b"))
        .groupBy("txn_a", "txn_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_writes"))
    )
    pg = spark.createDataFrame(_Q446_PAIRS, "txn_a int, txn_b int")
    shared = F.coalesce(F.col("shared_writes"), F.lit(0))
    return pg.join(ww, ["txn_a", "txn_b"], "left").select(
        "txn_a",
        "txn_b",
        shared.alias("shared_writes"),
        (shared > 0).alias("conflict"),
        F.when(shared > 0, F.col("txn_b")).otherwise(-1).alias("aborted_txn"),
    )


# ---------------------------------------------------------------------------
# q447 — STREAMING table statistics (q433's ANALYZE surface at ingest)
# ---------------------------------------------------------------------------


def _q447_oracle() -> str:
    parts = []
    for name, expr in [
        ("event_id", "event_id"),
        ("user_id", "user_id"),
        ("value", "value"),
        ("ts_epoch", "CAST(floor(epoch(ts)) AS BIGINT)"),
    ]:
        parts.append(f"""
            SELECT '{name}' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) - COUNT({expr}) AS BIGINT) AS n_null,
                   CAST(MIN({expr}) AS DOUBLE) AS min_val,
                   CAST(MAX({expr}) AS DOUBLE) AS max_val
            FROM events""")
    return " UNION ALL ".join(parts)


@query("q447_streaming_table_stats", oracle=_q447_oracle())
def q447_streaming_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q433's ANALYZE stats maintained AT INGEST — the Delta
    add-file-stats discipline as a streaming lane: every micro-batch
    lands one per-column stats partial (count / non-null / min / max,
    all fully associative) in the epoch-idempotent sink
    (``streaming/tablestats.py``), and the drain folds file stats to
    table stats (sum/sum/min/max) — hash-proven against the direct
    batch SQL over the same events. NDV is deliberately NOT here:
    distinct counts don't survive the partial/merge split; exact NDV
    stays batch (q433) and the mergeable approximation is the q143
    HLL ladder — the lane's value is stating exactly which optimizer
    stats stream and which cannot.

    Scale shape: state is |columns| rows per epoch, independent of
    event volume; the drain reads the MB-scale partials log, never
    the data — a 100 TB table's planner stats stay current for the
    cost of one 4-row write per micro-batch. Slicing invariance and
    epoch replay are pinned by test (q421's discipline)."""
    from databricks_etl_spark.streaming.tablestats import (
        run_streaming_table_stats,
    )

    return run_streaming_table_stats(spark, sf_dir)


# ---------------------------------------------------------------------------
# q448 — table health datasheet (the round-11b families in one card)
# ---------------------------------------------------------------------------


def _q448_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    o = {k: QUERIES[k].oracle for k in (
        "q433_table_stats_collection",
        "q434_selectivity_estimation_audit",
        "q435_join_cardinality_qerror",
        "q436_broadcast_plan_decision",
        "q437_stats_staleness_audit",
        "q445_conjunction_selectivity_audit",
    )}
    # the three version-log lanes re-derive through their kernel
    # builders with DISJOINT CTE prefixes: DuckDB hoists materialized
    # CTEs, so verbatim embeds of three components sharing files/acts
    # (or an outer alias shadowing q436's inner st) are binder errors
    return f"""
        WITH c433 AS MATERIALIZED ({o["q433_table_stats_collection"]}),
        c434 AS MATERIALIZED ({o["q434_selectivity_estimation_audit"]}),
        c435 AS MATERIALIZED ({o["q435_join_cardinality_qerror"]}),
        c436 AS MATERIALIZED ({o["q436_broadcast_plan_decision"]}),
        c437 AS MATERIALIZED ({o["q437_stats_staleness_audit"]}),
        c443 AS MATERIALIZED ({_q443_oracle("tt_")}),
        c444 AS MATERIALIZED ({_q444_oracle("vc_")}),
        c445 AS MATERIALIZED ({o["q445_conjunction_selectivity_audit"]}),
        c446 AS MATERIALIZED ({_q446_oracle("cc_")})
        SELECT
            (SELECT CAST(COUNT(DISTINCT table_name) AS BIGINT) FROM c433)
                AS n_tables,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM c433)
                AS n_profiled_columns,
            (SELECT CAST(SUM(CASE WHEN stale THEN 1 ELSE 0 END) AS BIGINT)
             FROM c437) AS stale_columns,
            (SELECT MAX(q_error) FROM c434) AS worst_selectivity_qerror,
            (SELECT MAX(q_error) FROM c435) AS worst_join_qerror,
            (SELECT CAST(SUM(CASE WHEN strategy = 'broadcast'
                                  THEN 1 ELSE 0 END) AS BIGINT)
             FROM c436 WHERE threshold_bytes = 10485760)
                AS broadcastable_edges_default,
            (SELECT CAST(SUM(CASE WHEN same_column AND q_error > 1.5
                                  THEN 1 ELSE 0 END) AS BIGINT)
             FROM c445) AS correlated_pairs_flagged,
            (SELECT n_live_files FROM c443 WHERE version_at = 4)
                AS live_files_at_head,
            (SELECT reclaimable_files FROM c444
             WHERE retention_versions = 1) AS reclaimable_files_r1,
            (SELECT CAST(SUM(CASE WHEN conflict THEN 1 ELSE 0 END)
                         AS BIGINT) FROM c446) AS commit_conflicts
    """


@query("q448_table_health_datasheet", oracle=_q448_oracle())
def q448_table_health_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round's families folded into ONE release card (q393/q426's
    datasheet discipline for the warehouse itself): stats coverage and
    staleness, estimator quality (worst selectivity / join /
    correlation q-errors), planner posture (broadcast-able edges at
    the default threshold), and table-format health (live files at
    head, vacuum backlog, commit conflicts). Every number is lifted
    from its component lane — the oracle embeds the nine component
    SQLs verbatim, and the consistency test pins each card column to
    the component's own aggregate, so the card may summarize but can
    never re-derive differently.

    Scale shape: each component is already metadata-bounded or
    single-pass (their own docstrings); the card is ten 1-row
    aggregates crossed together."""
    st = q433_table_stats_collection(spark, sf_dir)
    se = q434_selectivity_estimation_audit(spark, sf_dir)
    jq = q435_join_cardinality_qerror(spark, sf_dir)
    bd = q436_broadcast_plan_decision(spark, sf_dir)
    sa = _q437_stats_drift(spark, sf_dir)
    tt = q443_time_travel_reads(spark, sf_dir)
    vc = q444_vacuum_retention_audit(spark, sf_dir)
    cp = q445_conjunction_selectivity_audit(spark, sf_dir)
    cc = q446_commit_conflict_audit(spark, sf_dir)
    parts = [
        st.agg(
            F.countDistinct("table_name").alias("n_tables"),
            F.count(F.lit(1)).alias("n_profiled_columns"),
        ),
        sa.agg(
            F.sum(F.when(F.col("stale"), 1).otherwise(0))
            .cast("long")
            .alias("stale_columns")
        ),
        se.agg(F.max("q_error").alias("worst_selectivity_qerror")),
        jq.agg(F.max("q_error").alias("worst_join_qerror")),
        bd.filter(F.col("threshold_bytes") == 10485760).agg(
            F.sum(F.when(F.col("strategy") == "broadcast", 1).otherwise(0))
            .cast("long")
            .alias("broadcastable_edges_default")
        ),
        cp.agg(
            F.sum(
                F.when(F.col("same_column") & (F.col("q_error") > 1.5), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("correlated_pairs_flagged")
        ),
        tt.filter(F.col("version_at") == 4).select(
            F.col("n_live_files").alias("live_files_at_head")
        ),
        vc.filter(F.col("retention_versions") == 1).select(
            F.col("reclaimable_files").alias("reclaimable_files_r1")
        ),
        cc.agg(
            F.sum(F.when(F.col("conflict"), 1).otherwise(0))
            .cast("long")
            .alias("commit_conflicts")
        ),
    ]
    res = parts[0]
    for df in parts[1:]:
        res = res.crossJoin(df)
    return res


# ---------------------------------------------------------------------------
# q449 — t-closeness audit (completes the privacy triad)
# ---------------------------------------------------------------------------

_Q449_T = 0.25  # total-variation threshold


def _q449_oracle() -> str:
    parts = []
    for lvl, label in _Q440_LEVELS:
        qi = ", ".join(_q440_qi_cols(lvl))
        qi_g = " , ".join(f"g.{c}" for c in _q440_qi_cols(lvl))
        on = " AND ".join(
            f"gs.{c} = g.{c}" for c in _q440_qi_cols(lvl)
        )
        parts.append(f"""
            SELECT {lvl} AS level, '{label}' AS qi,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   round(MAX(tvd), 6) AS max_tvd,
                   round(CAST(SUM(CASE WHEN tvd > {_Q449_T}
                                       THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(*), 6) AS share_groups_above_t,
                   CAST(SUM(CASE WHEN tvd > {_Q449_T} THEN ng ELSE 0 END)
                        AS BIGINT) AS rows_in_violating_groups
            FROM (
                SELECT {qi_g}, g.ng,
                       CAST(SUM(ABS(COALESCE(gs.c, 0) * t.n
                                    - gl.gc * g.ng)) AS DOUBLE)
                           / (2.0 * g.ng * t.n) AS tvd
                FROM (
                    SELECT {qi}, COUNT(*) AS ng
                    FROM customer GROUP BY {qi}
                ) g
                CROSS JOIN (
                    SELECT {_Q440_SENS_SQL} AS s, COUNT(*) AS gc
                    FROM customer GROUP BY 1
                ) gl
                CROSS JOIN (SELECT COUNT(*) AS n FROM customer) t
                LEFT JOIN (
                    SELECT {qi}, {_Q440_SENS_SQL} AS s, COUNT(*) AS c
                    FROM customer GROUP BY {qi}, {_Q440_SENS_SQL}
                ) gs ON {on} AND gs.s = gl.s
                GROUP BY {qi_g}, g.ng, t.n
            ) x""")
    return " UNION ALL ".join(parts)


@query("q449_t_closeness_audit", oracle=_q449_oracle())
def q449_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness — the third privacy bar after q438 (identity) and
    q440 (attribute homogeneity): a cohort can be large AND diverse
    yet still leak by having a sensitive-value DISTRIBUTION far from
    the population's (skewness attack). Per QI level: the maximum
    total-variation distance between any group's sensitive
    distribution and the global one, and the groups/rows above
    t={_Q449_T}. The TVD numerator is computed in EXACT integer
    arithmetic (|c_gs·N − C_s·n_g| summed as BIGINTs, one float
    division at the end) — no cross-partition float sums to
    stabilize, the cleanest determinism argument available.

    Scale shape: per level, one (QI × sensitive) grouped count, a
    broadcast 5-bin sensitive-domain completion (missing cells MUST
    count — an absent sensitive value is distance, not zero work),
    and a QI-bounded rollup."""
    cust = read_table(spark, sf_dir, "customer")
    sens = F.floor((F.col("c_acctbal") + 1000) / 2750).cast("long")
    n_total = cust.agg(F.count(F.lit(1)).alias("n"))
    glob = cust.groupBy(sens.alias("s")).agg(
        F.count(F.lit(1)).alias("gc")
    )
    out = []
    for lvl, label in _Q440_LEVELS:
        qi = _q440_qi_cols(lvl)
        g = cust.groupBy(*qi).agg(F.count(F.lit(1)).alias("ng"))
        gs = cust.groupBy(*qi, sens.alias("s")).agg(
            F.count(F.lit(1)).alias("c")
        )
        cells = (
            g.crossJoin(F.broadcast(glob))
            .crossJoin(F.broadcast(n_total))
            .join(gs, [*qi, "s"], "left")
        )
        tvd_rows = cells.groupBy(*qi, "ng", "n").agg(
            (
                F.sum(
                    F.abs(
                        F.coalesce(F.col("c"), F.lit(0)) * F.col("n")
                        - F.col("gc") * F.col("ng")
                    )
                ).cast("double")
                / (2.0 * F.col("ng") * F.col("n"))
            ).alias("tvd")
        )
        out.append(
            tvd_rows.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.round(F.max("tvd"), 6).alias("max_tvd"),
                F.round(
                    F.sum(F.when(F.col("tvd") > _Q449_T, 1).otherwise(0))
                    .cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("share_groups_above_t"),
                F.sum(
                    F.when(F.col("tvd") > _Q449_T, F.col("ng")).otherwise(0)
                )
                .cast("long")
                .alias("rows_in_violating_groups"),
            ).select(
                F.lit(lvl).alias("level"), F.lit(label).alias("qi"), "*"
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# q450 — RESTORE plan: the commit that rolls head back to version v
# ---------------------------------------------------------------------------


def _q450_oracle() -> str:
    vs = ", ".join(f"({v})" for v in _Q443_VERSIONS)
    return f"""
        WITH {_version_log_sql()},
        vg(version_at) AS (VALUES {vs}),
        live AS MATERIALIZED (
            SELECT vg.version_at, a.file_id, a.rws
            FROM vg JOIN acts a
              ON a.action = 'add' AND a.version <= vg.version_at
            WHERE NOT EXISTS (
                SELECT 1 FROM acts r
                WHERE r.action = 'remove'
                  AND r.version <= vg.version_at
                  AND r.file_id = a.file_id
            )
        ),
        h AS (SELECT file_id, rws FROM live WHERE version_at = {_Q444_HEAD}),
        re AS (
            SELECT l.version_at,
                   CAST(COUNT(*) AS BIGINT) AS n_readds
            FROM live l LEFT JOIN h ON l.file_id = h.file_id
            WHERE h.file_id IS NULL AND l.version_at < {_Q444_HEAD}
            GROUP BY l.version_at
        ),
        rm AS (
            SELECT v.version_at,
                   CAST(COUNT(*) AS BIGINT) AS n_removes
            FROM vg v CROSS JOIN h
            WHERE v.version_at < {_Q444_HEAD}
              AND NOT EXISTS (
                SELECT 1 FROM live l
                WHERE l.version_at = v.version_at
                  AND l.file_id = h.file_id
            )
            GROUP BY v.version_at
        ),
        rr AS (
            SELECT version_at,
                   CAST(SUM(rws) AS BIGINT) AS restored_rows
            FROM live GROUP BY version_at
        )
        SELECT v.version_at,
               COALESCE(re.n_readds, 0) AS n_readds,
               COALESCE(rm.n_removes, 0) AS n_removes,
               rr.restored_rows,
               CAST(rr.restored_rows
                    - (SELECT SUM(rws) FROM h) AS BIGINT)
                   AS rows_delta_vs_head
        FROM vg v
        JOIN rr ON rr.version_at = v.version_at
        LEFT JOIN re ON re.version_at = v.version_at
        LEFT JOIN rm ON rm.version_at = v.version_at
        WHERE v.version_at < {_Q444_HEAD}
    """


def _live_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(version_at, file_id, rws): q443's as-of live sets for every
    version — shared by the restore planner and its invariant test."""
    log = _version_log(spark, sf_dir).localCheckpoint(eager=False)
    vg = spark.createDataFrame(
        [(v,) for v in _Q443_VERSIONS], "version_at int"
    )
    adds = log.filter(F.col("action") == "add")
    rems = log.filter(F.col("action") == "remove").select(
        "version", "file_id"
    )
    adds_v = F.broadcast(vg).crossJoin(adds).filter(
        F.col("version") <= F.col("version_at")
    )
    rems_v = (
        F.broadcast(vg)
        .crossJoin(rems)
        .filter(F.col("version") <= F.col("version_at"))
        .select("version_at", "file_id")
    )
    return adds_v.join(
        rems_v, ["version_at", "file_id"], "left_anti"
    ).select("version_at", "file_id", "rws")


@query("q450_restore_plan", oracle=_q450_oracle())
def q450_restore_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE TO VERSION v, planned: rolling head back to v is
    itself a new commit whose action set is computable from the live
    sets alone — re-add what v had and head lost, remove what head
    gained since v (Delta RESTORE's exact semantics: history is never
    rewritten, the rollback is forward motion). Per target version:
    the re-add/remove counts (the commit's size — the blast radius of
    a rollback) and the restored row total, which must equal q443's
    live_rows at v (the invariant test applies the planned actions to
    head's live set and reproduces live(v) exactly).

    Scale shape: two set differences on the file-grain live relation
    (left-anti joins on file_id), version grid broadcast — metadata
    cost, like every lane on this log."""
    live = _live_sets(spark, sf_dir).localCheckpoint(eager=False)
    head = live.filter(F.col("version_at") == _Q444_HEAD).select(
        "file_id", "rws"
    )
    past = live.filter(F.col("version_at") < _Q444_HEAD)
    vg = spark.createDataFrame(
        [(v,) for v in _Q443_VERSIONS if v < _Q444_HEAD], "version_at int"
    )
    re = (
        past.join(head.select("file_id"), "file_id", "left_anti")
        .groupBy("version_at")
        .agg(F.count(F.lit(1)).cast("long").alias("n_readds"))
    )
    rm = (
        F.broadcast(vg)
        .crossJoin(head.select("file_id"))
        .join(
            past.select("version_at", "file_id"),
            ["version_at", "file_id"],
            "left_anti",
        )
        .groupBy("version_at")
        .agg(F.count(F.lit(1)).cast("long").alias("n_removes"))
    )
    rr = past.groupBy("version_at").agg(
        F.sum("rws").cast("long").alias("restored_rows")
    )
    hrows = head.agg(F.sum("rws").alias("hr"))
    return (
        vg.join(rr, "version_at")
        .join(re, "version_at", "left")
        .join(rm, "version_at", "left")
        .crossJoin(F.broadcast(hrows))
        .select(
            "version_at",
            F.coalesce(F.col("n_readds"), F.lit(0)).alias("n_readds"),
            F.coalesce(F.col("n_removes"), F.lit(0)).alias("n_removes"),
            "restored_rows",
            (F.col("restored_rows") - F.col("hr"))
            .cast("long")
            .alias("rows_delta_vs_head"),
        )
    )


# ---------------------------------------------------------------------------
# q451 — governance gate: the warehouse-release verdict (gate of gates)
# ---------------------------------------------------------------------------

_Q451_MAX_TVD = 0.5  # t-closeness bar at the l-diversity QI level


def _q451_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    priv = QUERIES["q441_privacy_release_gate"].oracle
    tcl = QUERIES["q449_t_closeness_audit"].oracle
    stale = QUERIES["q437_stats_staleness_audit"].oracle
    return f"""
        WITH g441 AS MATERIALIZED ({priv}),
        g449 AS MATERIALIZED ({tcl}),
        g437 AS MATERIALIZED ({stale}),
        g446 AS MATERIALIZED ({_q446_oracle("gg_")})
        SELECT g441.verdict AS privacy_verdict,
               (SELECT max_tvd FROM g449 WHERE level = 2) AS max_tvd,
               (SELECT CAST(SUM(CASE WHEN stale THEN 1 ELSE 0 END)
                            AS BIGINT) FROM g437) AS stale_columns,
               (SELECT CAST(SUM(CASE WHEN conflict THEN 1 ELSE 0 END)
                            AS BIGINT) FROM g446) AS open_conflicts,
               (g441.verdict = 'PASS') AS check_privacy,
               (SELECT max_tvd FROM g449 WHERE level = 2)
                   <= {_Q451_MAX_TVD} AS check_t_closeness,
               (SELECT CAST(SUM(CASE WHEN conflict AND aborted_txn = -1
                                     THEN 1 ELSE 0 END) AS BIGINT)
                FROM g446) = 0 AS check_conflicts_resolved,
               CASE WHEN g441.verdict = 'PASS'
                     AND (SELECT max_tvd FROM g449 WHERE level = 2)
                         <= {_Q451_MAX_TVD}
                     AND (SELECT CAST(SUM(CASE WHEN conflict
                                                AND aborted_txn = -1
                                               THEN 1 ELSE 0 END)
                                      AS BIGINT) FROM g446) = 0
                    THEN 'GO' ELSE 'NO_GO' END AS verdict
        FROM g441
    """


@query("q451_governance_gate", oracle=_q451_oracle())
def q451_governance_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse GOVERNANCE verdict — q430's gate-of-gates pattern
    for the round's families: the q441 privacy gate must PASS, the
    released QI level must be t-close (q449, TVD <= {_Q451_MAX_TVD}),
    and every detected commit conflict must carry a designated loser
    (q446 — a conflict WITHOUT a resolution is the dangerous state;
    the conflicts themselves are facts of concurrent operation, so the
    gate checks resolution completeness, never conflict absence).
    Stats staleness rides along as a reported (not gating) column —
    stale stats degrade plans, not compliance. Component oracles are
    embedded verbatim (the conflict lane through its kernel builder
    with a disjoint CTE prefix — the q448 hoisting constraint), so the
    verdict cannot drift from the measurements. Inherits q441's scale
    split: GO at sf0.01, NO_GO at sf0.001 (privacy is the check that
    fires), pinned by test.

    Scale shape: three 1-row gate aggregates and one 3-row audit
    lookup, crossed — every input already metadata- or QI-bounded."""
    priv = q441_privacy_release_gate(spark, sf_dir).select(
        F.col("verdict").alias("privacy_verdict")
    )
    tc = (
        q449_t_closeness_audit(spark, sf_dir)
        .filter(F.col("level") == 2)
        .select("max_tvd")
    )
    sa = _q437_stats_drift(spark, sf_dir).agg(
        F.sum(F.when(F.col("stale"), 1).otherwise(0))
        .cast("long")
        .alias("stale_columns")
    )
    cf = q446_commit_conflict_audit(spark, sf_dir).agg(
        F.sum(F.when(F.col("conflict"), 1).otherwise(0))
        .cast("long")
        .alias("open_conflicts"),
        F.sum(
            F.when(F.col("conflict") & (F.col("aborted_txn") == -1), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("__unresolved"),
    )
    ck_p = F.col("privacy_verdict") == "PASS"
    ck_t = F.col("max_tvd") <= _Q451_MAX_TVD
    ck_c = F.col("__unresolved") == 0
    return (
        priv.crossJoin(tc)
        .crossJoin(sa)
        .crossJoin(cf)
        .select(
            "privacy_verdict",
            "max_tvd",
            "stale_columns",
            "open_conflicts",
            ck_p.alias("check_privacy"),
            ck_t.alias("check_t_closeness"),
            ck_c.alias("check_conflicts_resolved"),
            F.when(ck_p & ck_t & ck_c, "GO")
            .otherwise("NO_GO")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# q452 — DP-calibrated noise release audit (privacy-utility curve)
# ---------------------------------------------------------------------------

# (epsilon label used in the hash payload, epsilon value). Labels keep
# float formatting out of the hash; the numeric value prices the noise.
_Q452_EPS: list[tuple[str, float]] = [("e01", 0.1), ("e1", 1.0),
                                      ("e10", 10.0)]
_Q452_HEX = 12  # md5 nibbles per draw (48 bits) — the q344 idiom


def _q452_u_sql(payload: str) -> str:
    """First 12 md5 nibbles of ``payload`` → uniform in (0,1): the
    q344 instr-nibble decode, +0.5 so u is never exactly 0, 0.5 or 1
    (the Laplace inverse-CDF singularities)."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5({payload}), {k}, 1)) - 1)"
        f" * {16 ** (_Q452_HEX - k)}"
        for k in range(1, _Q452_HEX + 1)
    )
    return f"((({terms}) + 0.5) / {16 ** _Q452_HEX})"


def _q452_u_col(payload: F.Column) -> F.Column:
    from functools import reduce

    h = F.md5(payload)
    val = reduce(
        lambda a, b: a + b,
        [
            (
                F.instr(F.lit("0123456789abcdef"), F.substring(h, k, 1))
                - 1
            ).cast("long")
            * F.lit(16 ** (_Q452_HEX - k)).cast("long")
            for k in range(1, _Q452_HEX + 1)
        ],
    )
    return (val.cast("double") + 0.5) / float(16 ** _Q452_HEX)


def _q452_oracle() -> str:
    vals = ", ".join(f"('{l}', {e})" for l, e in _Q452_EPS)
    u = _q452_u_sql(
        "'dp:' || eg.lbl || ':' || CAST(c.c_nationkey AS VARCHAR)"
    )
    return f"""
        WITH rel AS (
            SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM customer GROUP BY 1
        ),
        eg(lbl, eps) AS (VALUES {vals}),
        noised AS (
            SELECT eg.lbl, eg.eps, c.cnt,
                   -(1.0 / eg.eps)
                       * CASE WHEN {u} >= 0.5 THEN 1.0 ELSE -1.0 END
                       * ln(1.0 - 2.0 * ABS({u} - 0.5)) AS noise
            FROM eg CROSS JOIN rel c
        )
        SELECT eps,
               round(1.0 / eps, 6) AS b,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               round(MAX(ABS(noise)), 6) AS max_abs_err,
               round(CAST(SUM(CAST(ABS(noise) AS DECIMAL(28,9)))
                          AS DOUBLE) / COUNT(*), 6) AS mean_abs_err,
               round(MAX(ABS(noise) / cnt), 6) AS max_rel_err
        FROM noised
        GROUP BY eps
    """


@query("q452_dp_noise_release_audit", oracle=_q452_oracle())
def q452_dp_noise_release_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The privacy-utility curve of a differentially-private-CALIBRATED
    count release: per-nation customer counts with Laplace(1/eps)
    noise (sensitivity 1 for a counting query), swept over eps — what
    a DP release costs in max/mean absolute and worst relative error.
    HONEST framing: the noise here is a DETERMINISTIC hash-uniform
    surrogate (md5 nibbles → inverse CDF) so both engines draw the
    same values and the lane is hash-verifiable; a production DP
    release swaps the surrogate for a CSPRNG — the CALIBRATION (scale
    b = sensitivity/eps) and the audit arithmetic are exactly what
    ships. Cross-engine ln() is bit-identical (README determinism
    rules); the +0.5 nibble offset keeps u off the inverse-CDF
    singularities at 0, 1/2 and 1.

    Scale shape: the released relation is GROUP-BY-bounded (25
    nations), the eps grid broadcast — noise injection and the audit
    are free at any corpus size; the only data-sized work is the
    grouped count itself."""
    rel = (
        read_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    eg = spark.createDataFrame(_Q452_EPS, "lbl string, eps double")
    u = _q452_u_col(
        F.concat(
            F.lit("dp:"), F.col("lbl"), F.lit(":"),
            F.col("c_nationkey").cast("string"),
        )
    )
    noise = (
        (-1.0 / F.col("eps"))
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return (
        rel.crossJoin(F.broadcast(eg))
        .select("eps", "cnt", noise.alias("noise"))
        .groupBy("eps")
        .agg(
            F.round(1.0 / F.col("eps"), 6).alias("b"),
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.max(F.abs(F.col("noise"))), 6).alias("max_abs_err"),
            F.round(
                F.sum(F.abs(F.col("noise")).cast("decimal(28,9)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_abs_err"),
            F.round(
                F.max(F.abs(F.col("noise")) / F.col("cnt")), 6
            ).alias("max_rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# q453 — STREAMING CDC apply: the version log consumed at commit time
# ---------------------------------------------------------------------------


def _q453_oracle() -> str:
    return f"""
        WITH {_version_log_sql()}
        SELECT a.file_id, a.rws
        FROM acts a
        WHERE a.action = 'add'
          AND NOT EXISTS (
            SELECT 1 FROM acts r
            WHERE r.action = 'remove' AND r.file_id = a.file_id
          )
        ORDER BY a.file_id
    """


@query("q453_streaming_cdc_apply", oracle=_q453_oracle())
def q453_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q443 action log consumed AS A STREAM — CDC apply at commit
    time: each micro-batch delivers one or more committed versions'
    add/remove actions, the epoch-idempotent sink accumulates them
    (dynamic partition overwrite by epoch — a replayed commit
    overwrites its own partition), and the drain resolves the live
    set exactly as the batch reconstruction does (adds anti-joined
    against removes — tombstones are data, so the fold is
    associative across epochs by construction: an add and its remove
    meet at drain time no matter which epoch delivered each). The
    drained live set is hash-proven equal to the batch head snapshot;
    slicing invariance and replay are pinned like q447's.

    Scale shape: per epoch the sink writes only that commit's actions
    (file-grain metadata); the drain is one anti-join over the
    accumulated log — the exact cost profile of a table-format
    checkpoint build."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    log = _version_log(spark, sf_dir)
    partials_path = fresh_scratch_dir("cdc_partials_", key=sf_dir)
    sinks.seed(spark, partials_path, _ACTIONS)
    # versions arrive as commit-grain micro-batches: epoch e delivers
    # version e+1's actions (a deterministic stand-in for the stream
    # source — the ingest/drain machinery is the real surface)
    ingest = sinks.epoch_idempotent_sink(partials_path)
    for epoch, version in enumerate(_Q443_VERSIONS):
        ingest(log.filter(F.col("version") == version), epoch)
    return _drain_cdc_live(spark, partials_path)


def _drain_cdc_live(spark: SparkSession, partials_path: str) -> DataFrame:
    acts = sinks.landed(spark, partials_path, _ACTIONS)
    adds = acts.filter(F.col("action") == "add").select("file_id", "rws")
    rems = acts.filter(F.col("action") == "remove").select("file_id")
    return adds.join(rems, "file_id", "left_anti").orderBy("file_id")


# ---------------------------------------------------------------------------
# q454 — workload-aware sort-key selection (zone-map pricing of layouts)
# ---------------------------------------------------------------------------

_Q454_FILES = 20  # equal-row files per layout (row groups in sort order)
_Q454_SORT_KEYS = ["l_shipday", "l_extendedprice", "l_partkey"]
# workload: (pred_id, column, lo, hi) — date-dominated, the realistic
# mix (most lakehouse scans carry a time filter): four narrow ship-day
# windows, one price band, one part range. The imbalance is the point:
# sort-key choice only matters when the workload leans on a column.
_Q454_WORKLOAD: list[tuple[int, str, float, float]] = [
    (1, "l_shipday", 9500.0, 9600.0),
    (2, "l_shipday", 9800.0, 9900.0),
    (3, "l_shipday", 10300.0, 10500.0),
    (4, "l_shipday", 11000.0, 11200.0),
    (5, "l_extendedprice", 10000.0, 30000.0),
    (6, "l_partkey", 0.0, 200.0),
]


def _q454_oracle() -> str:
    preds = ", ".join(
        f"({i}, '{c}', {lo}, {hi})" for i, c, lo, hi in _Q454_WORKLOAD
    )
    zones = []
    for sk in _Q454_SORT_KEYS:
        zones.append(f"""
            SELECT '{sk}' AS layout, f.fid,
                   MIN(f.l_shipday) AS mn_l_shipday,
                   MAX(f.l_shipday) AS mx_l_shipday,
                   MIN(f.l_extendedprice) AS mn_l_extendedprice,
                   MAX(f.l_extendedprice) AS mx_l_extendedprice,
                   MIN(f.l_partkey) AS mn_l_partkey,
                   MAX(f.l_partkey) AS mx_l_partkey
            FROM (
                SELECT li.*, ntile({_Q454_FILES}) OVER (
                    ORDER BY li.{sk}, li.l_orderkey, li.l_linenumber
                ) AS fid
                FROM li
            ) f GROUP BY f.fid""")
    hit = " ".join(
        f"""WHEN p.col = '{c}' THEN
                (z.mn_{c} <= p.hi AND z.mx_{c} >= p.lo)"""
        for c in _Q454_SORT_KEYS
    )
    return f"""
        WITH li AS MATERIALIZED (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(l_shipdate AS DATE)) AS DOUBLE)
                       AS l_shipday,
                   l_extendedprice,
                   CAST(l_partkey AS DOUBLE) AS l_partkey,
                   l_orderkey, l_linenumber
            FROM lineitem
        ),
        zones AS MATERIALIZED ({" UNION ALL ".join(zones)}),
        preds(pid, col, lo, hi) AS (VALUES {preds}),
        scans AS (
            SELECT z.layout,
                   CAST(SUM(CASE {hit} ELSE NULL END::INT) AS BIGINT)
                       AS files_scanned,
                   CAST(COUNT(*) AS BIGINT) AS file_pred_pairs
            FROM zones z CROSS JOIN preds p
            GROUP BY z.layout
        )
        SELECT layout, files_scanned,
               CAST({_Q454_FILES} AS BIGINT) AS n_files,
               round(CAST(files_scanned AS DOUBLE) / file_pred_pairs, 6)
                   AS scan_share,
               files_scanned = (SELECT MIN(files_scanned) FROM scans)
                   AS best
        FROM scans
    """


@query("q454_sort_key_selection", oracle=_q454_oracle())
def q454_sort_key_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload-aware SORT-KEY selection — the decision behind Delta
    OPTIMIZE ZORDER/sort orders, priced with the exact arithmetic data
    skipping uses: lay the fact table out {_Q454_FILES} equal-row
    files in each candidate sort order, publish per-file zone maps
    (min/max per predicate column), and charge each workload predicate
    the files whose zones overlap its range. The layout sorted on a
    column skips aggressively for THAT column's predicates and not at
    all for the others — the output prices that tradeoff over the
    whole workload and flags the minimum-scan layout. One row per
    candidate layout.

    Scale shape: zone maps are |files| rows per layout (metadata — at
    100 TB zone maps live in the table format's stats, and this lane
    is a pure log computation); pricing is a broadcast
    |files| × |workload| rollup. Layout construction is the two-phase
    distributed rank (:func:`exact_ntile` — range-partition, per-
    partition sorts, broadcast offsets): exact ntile semantics, no
    SinglePartition sort, one per candidate key."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("double")
        .alias("l_shipday"),
        "l_extendedprice",
        F.col("l_partkey").cast("double").alias("l_partkey"),
        "l_orderkey",
        "l_linenumber",
    ).localCheckpoint(eager=False)
    preds = spark.createDataFrame(
        _Q454_WORKLOAD, "pid int, col string, lo double, hi double"
    )
    zones = []
    for sk in _Q454_SORT_KEYS:
        aggs = []
        for c in _Q454_SORT_KEYS:
            aggs += [
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
            ]
        zones.append(
            exact_ntile(
                li,
                [sk, "l_orderkey", "l_linenumber"],
                _Q454_FILES,
                out_col="fid",
            )
            .groupBy("fid")
            .agg(*aggs)
            .select(F.lit(sk).alias("layout"), "*")
        )
    z = zones[0]
    for df in zones[1:]:
        z = z.unionByName(df)
    hit = None
    for c in _Q454_SORT_KEYS:
        cond = (F.col(f"mn_{c}") <= F.col("hi")) & (
            F.col(f"mx_{c}") >= F.col("lo")
        )
        branch = F.when(F.col("col") == c, cond.cast("int"))
        hit = branch if hit is None else hit.when(F.col("col") == c, cond.cast("int"))
    scans = (
        z.crossJoin(F.broadcast(preds))
        .select("layout", hit.alias("hit"))
        .groupBy("layout")
        .agg(
            F.sum("hit").cast("long").alias("files_scanned"),
            F.count(F.lit(1)).alias("file_pred_pairs"),
        )
    ).localCheckpoint(eager=False)
    best = scans.agg(F.min("files_scanned").alias("mn"))
    return scans.crossJoin(F.broadcast(best)).select(
        "layout",
        "files_scanned",
        F.lit(_Q454_FILES).cast("long").alias("n_files"),
        F.round(
            F.col("files_scanned").cast("double") / F.col("file_pred_pairs"),
            6,
        ).alias("scan_share"),
        (F.col("files_scanned") == F.col("mn")).alias("best"),
    )


# ---------------------------------------------------------------------------
# q455 — column encoding advisor (dictionary vs plain, priced from stats)
# ---------------------------------------------------------------------------

_Q455_WIDTH = 8  # plain-encoded bytes per value (the q436 width model)


def _q455_oracle() -> str:
    return f"""
        WITH est_st AS MATERIALIZED ({_q433_oracle()})
        SELECT table_name, column_name, n_rows, n_distinct,
               n_rows * {_Q455_WIDTH} AS plain_bytes,
               n_distinct * {_Q455_WIDTH}
                   + (n_rows * GREATEST(1, CAST(ceil(log2(
                          GREATEST(n_distinct, 2))) AS BIGINT)) + 7) // 8
                   AS dict_bytes,
               CASE WHEN n_distinct * {_Q455_WIDTH}
                         + (n_rows * GREATEST(1, CAST(ceil(log2(
                                GREATEST(n_distinct, 2))) AS BIGINT)) + 7)
                           // 8
                         < n_rows * {_Q455_WIDTH}
                    THEN 'dictionary' ELSE 'plain' END AS recommendation,
               round(1.0 - CAST(n_distinct * {_Q455_WIDTH}
                          + (n_rows * GREATEST(1, CAST(ceil(log2(
                                 GREATEST(n_distinct, 2))) AS BIGINT)) + 7)
                            // 8 AS DOUBLE)
                     / (n_rows * {_Q455_WIDTH}), 6) AS savings_share
        FROM est_st
    """


@query("q455_encoding_advisor", oracle=_q455_oracle())
def q455_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column ENCODING advisor — the storage decision a columnar
    writer makes from exactly q433's stats: dictionary encoding costs
    the dictionary (ndv × width) plus ceil(log2(ndv)) bits per row;
    plain costs width bytes per row. Low-cardinality columns
    (nationkey: 25 values over 1500 rows) compress ~10×; near-unique
    keys (orderkey) must stay plain — the advisor prices both in exact
    integer arithmetic ((n·bits+7) // 8 — no float rounding in the
    byte count; log2 is exact on the power-of-two boundaries that
    matter for bit widths) and recommends per column. The oracle
    embeds q433's stats SQL verbatim.

    Scale shape: runs entirely on the 17-row stats relation — free;
    the stats pass is q433's."""
    st = q433_table_stats_collection(spark, sf_dir)
    bits = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.log2(F.greatest(F.col("n_distinct"), F.lit(2)))).cast(
            "long"
        ),
    )
    plain = F.col("n_rows") * _Q455_WIDTH
    dict_b = F.col("n_distinct") * _Q455_WIDTH + F.expr(
        f"(n_rows * GREATEST(CAST(1 AS BIGINT), CAST(ceil(log2("
        f"GREATEST(n_distinct, 2))) AS BIGINT)) + 7) DIV 8"
    )
    return st.select(
        "table_name",
        "column_name",
        "n_rows",
        "n_distinct",
        plain.alias("plain_bytes"),
        dict_b.alias("dict_bytes"),
        F.when(dict_b < plain, "dictionary")
        .otherwise("plain")
        .alias("recommendation"),
        F.round(
            1.0 - dict_b.cast("double") / plain.cast("double"), 6
        ).alias("savings_share"),
    )


# ---------------------------------------------------------------------------
# q456 — joint-histogram estimation (the q445 trap, fixed)
# ---------------------------------------------------------------------------

_Q456_GRID = 10  # buckets per dimension (10x10 joint grid)
# predicate pairs on x = l_extendedprice and y = revenue =
# l_extendedprice * (1 - l_discount); y <= x by construction, so the
# pair is strongly positively correlated — independence must miss.
# (pair_id, x_lo, x_hi, y_lo, y_hi)
_Q456_PAIRS: list[tuple[int, float, float, float, float]] = [
    (1, 70000.0, 105000.0, 60000.0, 105000.0),  # correlated band
    (2, 10000.0, 30000.0, 25000.0, 105000.0),   # near-contradiction
    (3, 10000.0, 30000.0, 0.0, 105000.0),       # control: y always true
]


def _q456_oracle() -> str:
    pairs = ", ".join(
        f"({i}, {xl}, {xh}, {yl}, {yh})"
        for i, xl, xh, yl, yh in _Q456_PAIRS
    )
    fx = _q434_frac_sql("p.x_lo", "p.x_hi", "c.mnx", "c.mxx")
    fy = _q434_frac_sql("p.y_lo", "p.y_hi", "c.mny", "c.mxy")
    mx = _q434_frac_sql("p.x_lo", "p.x_hi", "hx.lo", "hx.hi")
    my = _q434_frac_sql("p.y_lo", "p.y_hi", "hy.lo", "hy.hi")
    return f"""
        WITH xy AS MATERIALIZED (
            SELECT l_extendedprice AS x,
                   l_extendedprice * (1 - l_discount) AS y,
                   l_orderkey, l_linenumber
            FROM lineitem
        ),
        bb AS MATERIALIZED (
            SELECT x, y,
                   ntile({_Q456_GRID}) OVER (
                       ORDER BY x, l_orderkey, l_linenumber) AS bx,
                   ntile({_Q456_GRID}) OVER (
                       ORDER BY y, l_orderkey, l_linenumber) AS by
            FROM xy
        ),
        cells AS MATERIALIZED (
            SELECT bx, by, COUNT(*) AS cnt,
                   MIN(x) AS mnx, MAX(x) AS mxx,
                   MIN(y) AS mny, MAX(y) AS mxy
            FROM bb GROUP BY bx, by
        ),
        hx AS MATERIALIZED (
            SELECT bx, COUNT(*) AS cnt, MIN(x) AS lo, MAX(x) AS hi
            FROM bb GROUP BY bx
        ),
        hy AS MATERIALIZED (
            SELECT by, COUNT(*) AS cnt, MIN(y) AS lo, MAX(y) AS hi
            FROM bb GROUP BY by
        ),
        p(pair_id, x_lo, x_hi, y_lo, y_hi) AS (VALUES {pairs}),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM xy),
        ind AS (
            SELECT p.pair_id,
                   (SELECT CAST(SUM(CAST(hx.cnt * ({mx})
                                         AS DECIMAL(28,6))) AS DOUBLE)
                    FROM hx) / n.n
                   * (SELECT CAST(SUM(CAST(hy.cnt * ({my})
                                           AS DECIMAL(28,6))) AS DOUBLE)
                      FROM hy) / n.n
                   * n.n AS est
            FROM p CROSS JOIN n
        ),
        jnt AS (
            SELECT p.pair_id,
                   CAST(SUM(CAST(c.cnt * ({fx}) * ({fy})
                                 AS DECIMAL(28,6))) AS DOUBLE) AS est
            FROM p CROSS JOIN cells c
            GROUP BY p.pair_id
        ),
        act AS (
            SELECT p.pair_id,
                   CAST(SUM(CASE WHEN xy.x >= p.x_lo AND xy.x <= p.x_hi
                                  AND xy.y >= p.y_lo AND xy.y <= p.y_hi
                            THEN 1 ELSE 0 END) AS BIGINT) AS actual_rows
            FROM p CROSS JOIN xy
            GROUP BY p.pair_id
        )
        SELECT p.pair_id,
               round(ind.est, 4) AS est_indep,
               round(jnt.est, 4) AS est_joint,
               act.actual_rows,
               round(GREATEST(round(ind.est, 4)
                                  / CAST(act.actual_rows AS DOUBLE),
                              CAST(act.actual_rows AS DOUBLE)
                                  / round(ind.est, 4)), 6)
                   AS q_error_indep,
               round(GREATEST(round(jnt.est, 4)
                                  / CAST(act.actual_rows AS DOUBLE),
                              CAST(act.actual_rows AS DOUBLE)
                                  / round(jnt.est, 4)), 6)
                   AS q_error_joint
        FROM p
        JOIN ind ON p.pair_id = ind.pair_id
        JOIN jnt ON p.pair_id = jnt.pair_id
        JOIN act ON p.pair_id = act.pair_id
    """


@query("q456_joint_histogram_estimation", oracle=_q456_oracle())
def q456_joint_histogram_estimation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The q445 correlation trap, FIXED with multi-column statistics:
    a 10×10 joint histogram (per-cell count + per-cell bounds on both
    dimensions) estimates conjunctions over the correlated pair
    (price, revenue = price·(1−discount)) where revenue ≤ price by
    construction. Per pair: the independence estimate from the two
    marginals, the joint-grid estimate (Σ cells cnt·fx·fy — uniform
    within CELL, the only independence left), the actual, and both
    q-errors. On the correlated band and the near-contradiction pair
    the joint estimate must beat independence (pinned by test); on
    the always-true-y control both agree — multi-column stats cost
    |grid| cells and buy exactly the correlated cases.

    Scale shape: grid construction is two exact two-phase ranks
    (:func:`exact_ntile` — no SinglePartition sort) and one 100-cell
    grouped count; estimation is broadcast |pairs| × |cells| decimal
    rollups; actuals are one fused conditional pass."""
    li = read_table(spark, sf_dir, "lineitem")
    xy = li.select(
        F.col("l_extendedprice").alias("x"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y"),
        "l_orderkey",
        "l_linenumber",
    ).localCheckpoint(eager=False)
    bb = exact_ntile(
        exact_ntile(
            xy,
            ["x", "l_orderkey", "l_linenumber"],
            _Q456_GRID,
            out_col="bx",
        ),
        ["y", "l_orderkey", "l_linenumber"],
        _Q456_GRID,
        out_col="by",
    ).select("x", "y", "bx", "by").localCheckpoint(eager=False)
    cells = bb.groupBy("bx", "by").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("x").alias("mnx"),
        F.max("x").alias("mxx"),
        F.min("y").alias("mny"),
        F.max("y").alias("mxy"),
    )
    hx = bb.groupBy("bx").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
    )
    hy = bb.groupBy("by").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("y").alias("lo"),
        F.max("y").alias("hi"),
    )
    p = spark.createDataFrame(
        _Q456_PAIRS,
        "pair_id int, x_lo double, x_hi double, y_lo double, y_hi double",
    )
    n = float(xy.count())
    fx = F.expr(_q434_frac_sql("x_lo", "x_hi", "mnx", "mxx"))
    fy = F.expr(_q434_frac_sql("y_lo", "y_hi", "mny", "mxy"))
    mxf = F.expr(_q434_frac_sql("x_lo", "x_hi", "lo", "hi"))
    myf = F.expr(_q434_frac_sql("y_lo", "y_hi", "lo", "hi"))
    ex = (
        hx.crossJoin(F.broadcast(p))
        .select("pair_id", (F.col("cnt") * mxf).alias("t"))
        .groupBy("pair_id")
        .agg(F.sum(F.col("t").cast("decimal(28,6)")).alias("sx"))
    )
    ey = (
        hy.crossJoin(F.broadcast(p))
        .select("pair_id", (F.col("cnt") * myf).alias("t"))
        .groupBy("pair_id")
        .agg(F.sum(F.col("t").cast("decimal(28,6)")).alias("sy"))
    )
    jnt = (
        cells.crossJoin(F.broadcast(p))
        .select("pair_id", (F.col("cnt") * fx * fy).alias("t"))
        .groupBy("pair_id")
        .agg(F.sum(F.col("t").cast("decimal(28,6)")).alias("sj"))
    )
    act = (
        xy.crossJoin(F.broadcast(p))
        .select(
            "pair_id",
            F.when(
                (F.col("x") >= F.col("x_lo")) & (F.col("x") <= F.col("x_hi"))
                & (F.col("y") >= F.col("y_lo"))
                & (F.col("y") <= F.col("y_hi")),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("pair_id")
        .agg(F.sum("hit").cast("long").alias("actual_rows"))
    )
    ind_est = F.col("sx").cast("double") / n * (
        F.col("sy").cast("double") / n
    ) * n
    e_i = F.round(ind_est, 4)
    e_j = F.round(F.col("sj").cast("double"), 4)
    a_d = F.col("actual_rows").cast("double")
    return (
        p.select("pair_id")
        .join(ex, "pair_id")
        .join(ey, "pair_id")
        .join(jnt, "pair_id")
        .join(act, "pair_id")
        .select(
            "pair_id",
            e_i.alias("est_indep"),
            e_j.alias("est_joint"),
            "actual_rows",
            F.round(F.greatest(e_i / a_d, a_d / e_i), 6).alias(
                "q_error_indep"
            ),
            F.round(F.greatest(e_j / a_d, a_d / e_j), 6).alias(
                "q_error_joint"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q457 — join-order selection (the C_out cost model over q433's stats)
# ---------------------------------------------------------------------------

# Two variants of the customer–orders–lineitem chain: unfiltered, and
# with a 1/5 segment filter on customer (filters are what make order
# choice matter — the filtered dimension should join FIRST).
_Q457_SEGMENT = "BUILDING"


def _q457_variant_sql(label: str, cust_pred: str) -> str:
    """One variant's two left-deep orders, costed and measured.

    Estimator (textbook independence, q435's formula composed):
      |A ⋈k B| = |A|·|B| / max(ndv_k(A), ndv_k(B));
      ndv on an intermediate = min(base ndv, |intermediate|).
    Cost = C_out = est(intermediate) + est(final).
    Actuals: per-key count product-sums (q435's join-free form); the
    3-way actual walks orders once against both count relations."""
    return f"""
        SELECT '{label}' AS variant, o.ord AS join_order,
               round(o.est_int, 4) AS est_intermediate,
               round(o.est_int + o.est_fin, 4) AS est_total_cout,
               a.act_int AS actual_intermediate,
               a.act_fin AS actual_final
        FROM (
            WITH s AS (
                SELECT
                    (SELECT CAST(COUNT(*) AS DOUBLE) FROM customer
                     WHERE {cust_pred}) AS n_c,
                    (SELECT CAST(COUNT(DISTINCT c_custkey) AS DOUBLE)
                     FROM customer WHERE {cust_pred}) AS d_c,
                    (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders) AS n_o,
                    (SELECT CAST(COUNT(DISTINCT o_custkey) AS DOUBLE)
                     FROM orders) AS d_oc,
                    (SELECT CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
                     FROM orders) AS d_ok,
                    (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem) AS n_l,
                    (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE)
                     FROM lineitem) AS d_lk
            )
            SELECT 'co_l' AS ord,
                   n_c * n_o / GREATEST(d_c, d_oc) AS est_int,
                   (n_c * n_o / GREATEST(d_c, d_oc)) * n_l
                       / GREATEST(LEAST(d_ok,
                             n_c * n_o / GREATEST(d_c, d_oc)), d_lk)
                       AS est_fin
            FROM s
            UNION ALL
            SELECT 'ol_c',
                   n_o * n_l / GREATEST(d_ok, d_lk),
                   (n_o * n_l / GREATEST(d_ok, d_lk)) * n_c
                       / GREATEST(LEAST(d_oc,
                             n_o * n_l / GREATEST(d_ok, d_lk)), d_c)
            FROM s
        ) o CROSS JOIN (
            WITH cc AS (
                SELECT c_custkey AS k, COUNT(*) AS c FROM customer
                WHERE {cust_pred} GROUP BY 1
            ),
            lc AS (
                SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem
                GROUP BY 1
            )
            SELECT
                (SELECT CAST(SUM(cc.c) AS BIGINT) FROM orders o2
                 JOIN cc ON o2.o_custkey = cc.k) AS co_int,
                (SELECT CAST(SUM(lc.c) AS BIGINT) FROM orders o2
                 JOIN lc ON o2.o_orderkey = lc.k) AS ol_int,
                (SELECT CAST(SUM(cc.c * lc.c) AS BIGINT) FROM orders o2
                 JOIN cc ON o2.o_custkey = cc.k
                 JOIN lc ON o2.o_orderkey = lc.k) AS fin
        ) t(co_int, ol_int, fin)
        CROSS JOIN LATERAL (
            SELECT CASE WHEN o.ord = 'co_l' THEN t.co_int
                        ELSE t.ol_int END AS act_int,
                   t.fin AS act_fin
        ) a
    """


def _q457_oracle() -> str:
    full = _q457_variant_sql("full", "TRUE")
    filt = _q457_variant_sql(
        "filtered", f"c_mktsegment = '{_Q457_SEGMENT}'"
    )
    return f"""
        WITH raw AS MATERIALIZED ({full} UNION ALL {filt})
        SELECT variant, join_order, est_intermediate, est_total_cout,
               actual_intermediate, actual_final,
               est_total_cout = MIN(est_total_cout)
                   OVER (PARTITION BY variant) AS best_estimated,
               actual_intermediate = MIN(actual_intermediate)
                   OVER (PARTITION BY variant) AS best_actual
        FROM raw
    """


@query(
    "q457_join_order_selection",
    # rotated INTO the bench set r12 (replacing q158): the round-11b
    # optimizer-stats family's representative for regression tracking
    bench=True,
    oracle=_q457_oracle(),
)
def q457_join_order_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-ORDER selection — the decision the whole optimizer-stats
    family exists to feed: cost both left-deep orders of the
    customer–orders–lineitem chain with the C_out model (sum of
    estimated intermediate and final sizes, q435's independence
    formula composed with ndv-capping on intermediates), and measure
    the TRUE intermediate/final sizes with the per-key product-sum
    (never materializing any join). Both variants prefer the
    dimension-first order (the fact table should enter last); the
    1/5-segment filter widens the C_out gap from 1.6x to 4.7x — the
    filtered dimension must join FIRST, and the estimator's choice
    agrees with the measured one in both variants
    (``best_estimated == best_actual``, pinned by test). This is the audit behind letting Catalyst reorder
    joins: the stats the engine publishes are sufficient to make the
    right call on this schema.

    Scale shape: estimates run on 1-row stat aggregates; actuals are
    per-key count relations joined to orders (pre-aggregated, no
    expansion — q435's discipline, composed once more)."""
    # r16 OPT (guide §1.2/§2.3): the old loop recomputed every
    # variant-independent piece per variant — orders/lineitem stat
    # aggregates (with their countDistinct Expand passes), the lineitem
    # per-orderkey counts, and the orders⋈lc walk ran TWICE, behind six
    # eager localCheckpoint barriers.  Now lineitem is scanned ONCE
    # (lc), orders ONCE (olc = orders ⟕ lc, which preserves exactly one
    # row per order, so every orders-side stat — n_o, d_oc, d_ok, and
    # the variant-independent ol_int — is derivable from it without a
    # second scan), n_l/d_lk fall out of lc as SUM/COUNT (no
    # countDistinct Expand over the fact table at all), and the
    # est-side 1-row stats produce both join orders via one inline()
    # instead of a checkpointed double-select.  Values are identical:
    # every stat is the same integer, cast double at the same point.
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
    lc = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    olc = (
        orders.join(lc, orders.o_orderkey == lc.k, "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.coalesce(F.col("c"), F.lit(0)).alias("lcn"),
        )
        .localCheckpoint(eager=False)
    )
    gs = (
        olc.agg(
            F.count(F.lit(1)).cast("double").alias("n_o"),
            F.countDistinct("o_custkey").cast("double").alias("d_oc"),
            F.countDistinct("o_orderkey").cast("double").alias("d_ok"),
            F.sum("lcn").cast("long").alias("ol_int"),
        )
        .crossJoin(
            lc.agg(
                F.sum("c").cast("double").alias("n_l"),
                F.count(F.lit(1)).cast("double").alias("d_lk"),
            )
        )
        .localCheckpoint(eager=False)
    )
    out = []
    for label, pred in [
        ("full", F.lit(True)),
        ("filtered", F.col("c_mktsegment") == _Q457_SEGMENT),
    ]:
        cc = (
            read_table(spark, sf_dir, "customer")
            .filter(pred)
            .groupBy(F.col("c_custkey").alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=False)
        )
        s = cc.agg(
            F.sum("c").cast("double").alias("n_c"),
            F.count(F.lit(1)).cast("double").alias("d_c"),
        ).crossJoin(gs)
        co_int = F.col("n_c") * F.col("n_o") / F.greatest("d_c", "d_oc")
        co_fin = co_int * F.col("n_l") / F.greatest(
            F.least(F.col("d_ok"), co_int), F.col("d_lk")
        )
        ol_int = F.col("n_o") * F.col("n_l") / F.greatest("d_ok", "d_lk")
        ol_fin = ol_int * F.col("n_c") / F.greatest(
            F.least(F.col("d_oc"), ol_int), F.col("d_c")
        )
        est = s.select(
            F.col("ol_int").alias("g_ol_int"),
            F.inline(
                F.array(
                    F.struct(
                        F.lit("co_l").alias("join_order"),
                        co_int.alias("est_int"),
                        co_fin.alias("est_fin"),
                    ),
                    F.struct(
                        F.lit("ol_c").alias("join_order"),
                        ol_int.alias("est_int"),
                        ol_fin.alias("est_fin"),
                    ),
                )
            ),
        )
        act = (
            olc.join(cc, olc.o_custkey == cc.k, "left")
            .select(F.coalesce(F.col("c"), F.lit(0)).alias("cc"), "lcn")
            .agg(
                F.sum("cc").cast("long").alias("co_int"),
                F.sum(F.col("cc") * F.col("lcn"))
                .cast("long")
                .alias("fin"),
            )
        )
        rows = est.crossJoin(F.broadcast(act)).select(
            F.lit(label).alias("variant"),
            "join_order",
            F.round(F.col("est_int"), 4).alias("est_intermediate"),
            F.round(F.col("est_int") + F.col("est_fin"), 4).alias(
                "est_total_cout"
            ),
            F.when(F.col("join_order") == "co_l", F.col("co_int"))
            .otherwise(F.col("g_ol_int"))
            .alias("actual_intermediate"),
            F.col("fin").alias("actual_final"),
        )
        out.append(rows)
    raw = out[0].unionByName(out[1])
    from pyspark.sql import Window

    wv = Window.partitionBy("variant")
    return raw.select(
        "*",
        (F.col("est_total_cout") == F.min("est_total_cout").over(wv)).alias(
            "best_estimated"
        ),
        (
            F.col("actual_intermediate")
            == F.min("actual_intermediate").over(wv)
        ).alias("best_actual"),
    )


# ---------------------------------------------------------------------------
# q458 — per-file Bloom pricing for point lookups (zones can't help)
# ---------------------------------------------------------------------------

_Q458_K = 3  # hash functions per key
# ~3k distinct orderkeys per file x 3 bits: the sweep brackets the
# m ≈ 10n rule of thumb (saturated -> ~1% FPR -> negligible)
_Q458_M_GRID = [8192, 32768, 131072]  # bits per file filter
# probe orderkeys < 1500 so they exist at every test SF
_Q458_PROBES = [7, 123, 256, 389, 512, 645, 778, 901, 1034, 1467]
_Q458_NIB = 8  # md5 nibbles per hash (32 bits, then mod m)


def _q458_bit_sql(j: int, key: str, m: int) -> str:
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5('bl:{j}:' || "
        f"CAST({key} AS VARCHAR)), {k}, 1)) - 1) * {16 ** (_Q458_NIB - k)}"
        for k in range(1, _Q458_NIB + 1)
    )
    return f"(({terms}) % {m})"


def _q458_bit_col(j: int, key: str, m: int) -> F.Column:
    # r17 (guide §1.2 driver-side build cost): compiled from ONE SQL
    # string instead of ~45 py4j Column calls per (hash, m) site — 18
    # sites per invocation. Same left-associative sum of the same
    # BIGINT terms (integer arithmetic, order-exact either way); the
    # explicit CASTs mirror the old .cast("long") so no INT overflow
    # under ANSI (15 * 16^7 > 2^31).
    h = f"md5('bl:{j}:' || CAST({key} AS STRING))"
    terms = " + ".join(
        f"(CAST(instr('0123456789abcdef', substr({h}, {k}, 1)) - 1"
        f" AS BIGINT) * CAST({16 ** (_Q458_NIB - k)} AS BIGINT))"
        for k in range(1, _Q458_NIB + 1)
    )
    return F.expr(f"({terms}) % {m}")


def _q458_oracle() -> str:
    probes = ", ".join(f"({p})" for p in _Q458_PROBES)
    per_m = []
    for m in _Q458_M_GRID:
        fbits = " UNION ALL ".join(
            f"SELECT fid, {_q458_bit_sql(j, 'l_orderkey', m)} AS bit FROM fl"
            for j in range(1, _Q458_K + 1)
        )
        qbits = " UNION ALL ".join(
            f"SELECT pk, {_q458_bit_sql(j, 'pk', m)} AS bit FROM pr"
            for j in range(1, _Q458_K + 1)
        )
        per_m.append(f"""
            SELECT {m} AS m_bits,
                   round(CAST((SELECT COUNT(*) FROM (
                       SELECT qb.pk, fb.fid
                       FROM (SELECT DISTINCT pk, bit FROM ({qbits}) x) qb
                       JOIN (SELECT DISTINCT fid, bit FROM ({fbits}) y) fb
                         ON qb.bit = fb.bit
                       GROUP BY qb.pk, fb.fid
                       HAVING COUNT(*) = (SELECT COUNT(DISTINCT bit)
                                          FROM ({qbits}) z WHERE z.pk = qb.pk)
                   ) pos) AS DOUBLE) / {len(_Q458_PROBES)}, 6)
                       AS avg_files_probed""")
    body = " UNION ALL ".join(per_m)
    return f"""
        WITH fl AS MATERIALIZED (
            SELECT l_orderkey,
                   ntile(20) OVER (ORDER BY l_shipdate, l_orderkey,
                                   l_linenumber) AS fid
            FROM lineitem
        ),
        pr(pk) AS (VALUES {probes}),
        tr AS (
            SELECT round(CAST(COUNT(*) AS DOUBLE)
                         / {len(_Q458_PROBES)}, 6) AS avg_true
            FROM (SELECT DISTINCT p.pk, f.fid
                  FROM pr p JOIN fl f ON f.l_orderkey = p.pk) t
        )
        SELECT u.m_bits, u.avg_files_probed, tr.avg_true,
               round((u.avg_files_probed - tr.avg_true)
                     / (20 - tr.avg_true), 6) AS measured_fpr
        FROM ({body}) u CROSS JOIN tr
    """


@query("q458_bloom_point_lookup_pricing", oracle=_q458_oracle())
def q458_bloom_point_lookup_pricing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q454's blind spot, priced: zone maps skip RANGE scans on the
    sort column but are useless for POINT lookups on a high-cardinality
    column the layout doesn't cluster tightly — the tool there is a
    per-file BLOOM filter (an order's lines land in 1-2 ship-date
    files, but the file's orderkey ZONE spans thousands of keys). Build one per
    file ({_Q458_K} md5 hashes, the deterministic q186 family), sweep
    bits-per-filter, and measure what each size buys on a 10-key
    lookup workload: average files probed (bloom-positive), average
    files truly containing the key, and the realized false-positive
    rate. Blooms admit no false negatives by construction (a
    containing file sets every probed bit — the test pins positive ⊇
    true per key); more bits monotonically buy fewer wasted probes.

    Scale shape: the filter relation is |files| × ≤m DISTINCT
    (fid, bit) rows — file-grain metadata exactly like real puffin/
    bloom sidecars; probing is a broadcast bit join + per-(key, file)
    counting; the only data pass builds the filters (one scan, file
    assignment via the two-phase :func:`exact_ntile` — no
    SinglePartition sort)."""
    li = read_table(spark, sf_dir, "lineitem")
    fl = (
        exact_ntile(
            li.select("l_orderkey", "l_shipdate", "l_linenumber"),
            ["l_shipdate", "l_orderkey", "l_linenumber"],
            20,
            out_col="fid",
        )
        .select("l_orderkey", "fid")
        .localCheckpoint(eager=False)
    )
    pr = spark.createDataFrame(
        [(p,) for p in _Q458_PROBES], "pk long"
    )
    true_files = (
        fl.join(F.broadcast(pr), fl.l_orderkey == pr.pk)
        .select("pk", "fid")
        .distinct()
    )
    tr = true_files.agg(
        F.round(
            F.count(F.lit(1)).cast("double") / len(_Q458_PROBES), 6
        ).alias("avg_true")
    ).localCheckpoint(eager=False)
    out = []
    for m in _Q458_M_GRID:
        # r17 (guide §1.2): the K per-hash relations come from ONE
        # explode(array(bit_1..bit_K)) projection instead of a K-way
        # unionByName — same rows (order irrelevant: both sides feed
        # distinct/grouped counting), one analysis pass instead of
        # re-resolving the union tree per hash.
        f_bits = F.array(
            *[_q458_bit_col(j, "l_orderkey", m) for j in range(1, _Q458_K + 1)]
        )
        q_bits = F.array(
            *[_q458_bit_col(j, "pk", m) for j in range(1, _Q458_K + 1)]
        )
        fb = fl.select("fid", F.explode(f_bits).alias("bit")).distinct()
        qb = (
            pr.select("pk", F.explode(q_bits).alias("bit"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        need = qb.groupBy("pk").agg(F.count(F.lit(1)).alias("need"))
        pos = (
            qb.join(fb, "bit")
            .groupBy("pk", "fid")
            .agg(F.count(F.lit(1)).alias("got"))
            .join(F.broadcast(need), "pk")
            .filter(F.col("got") == F.col("need"))
        )
        out.append(
            pos.agg(
                F.round(
                    F.count(F.lit(1)).cast("double") / len(_Q458_PROBES),
                    6,
                ).alias("avg_files_probed")
            ).select(F.lit(m).cast("long").alias("m_bits"), "*")
        )
    u = out[0]
    for df in out[1:]:
        u = u.unionByName(df)
    return u.crossJoin(F.broadcast(tr)).select(
        "m_bits",
        "avg_files_probed",
        "avg_true",
        F.round(
            (F.col("avg_files_probed") - F.col("avg_true"))
            / (20 - F.col("avg_true")),
            6,
        ).alias("measured_fpr"),
    )


# ---------------------------------------------------------------------------
# q459 — storage advisor datasheet (the q454/q455/q458 decisions, one card)
# ---------------------------------------------------------------------------

_Q459_FPR_TOL = 0.02  # bloom sizing rule: smallest m with FPR <= 2%


def _q459_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    o454 = QUERIES["q454_sort_key_selection"].oracle
    o455 = QUERIES["q455_encoding_advisor"].oracle
    o458 = QUERIES["q458_bloom_point_lookup_pricing"].oracle
    return f"""
        WITH s454 AS MATERIALIZED ({o454}),
        s455 AS MATERIALIZED ({o455}),
        s458 AS MATERIALIZED ({o458})
        SELECT
            (SELECT layout FROM s454 WHERE best) AS sort_key,
            (SELECT scan_share FROM s454 WHERE best) AS sorted_scan_share,
            (SELECT MIN(m_bits) FROM s458
             WHERE measured_fpr <= {_Q459_FPR_TOL}) AS bloom_bits,
            (SELECT measured_fpr FROM s458
             WHERE m_bits = (SELECT MIN(m_bits) FROM s458
                             WHERE measured_fpr <= {_Q459_FPR_TOL}))
                AS bloom_fpr,
            (SELECT CAST(SUM(CASE WHEN recommendation = 'dictionary'
                                  THEN 1 ELSE 0 END) AS BIGINT)
             FROM s455) AS dict_columns,
            (SELECT CAST(SUM(CASE WHEN recommendation = 'dictionary'
                                  THEN plain_bytes - dict_bytes
                             ELSE 0 END) AS BIGINT) FROM s455)
                AS bytes_saved,
            (SELECT round(CAST(SUM(CASE WHEN recommendation = 'dictionary'
                                        THEN plain_bytes - dict_bytes
                                   ELSE 0 END) AS DOUBLE)
                          / SUM(plain_bytes), 6) FROM s455)
                AS savings_share
    """


@query("q459_storage_advisor_datasheet", oracle=_q459_oracle())
def q459_storage_advisor_datasheet(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The storage-advisor card — q448's datasheet discipline for the
    physical-design family: the winning sort key and what it buys
    (q454), the smallest Bloom filter clearing a {_Q459_FPR_TOL:.0%}
    FPR budget and the rate it actually delivers (q458 — a
    fail-closed NULL if no swept size clears it), and the
    dictionary-encoding plan with its exact byte savings (q455). One
    row; component oracles embedded verbatim; every column pinned to
    its component lane by test.

    Scale shape: three component relations (3 + 17 + 3 rows) reduced
    by bounded lookups — the components carry all the data-sized
    work, each already audited for it."""
    s454 = q454_sort_key_selection(spark, sf_dir).localCheckpoint(eager=False)
    s455 = q455_encoding_advisor(spark, sf_dir).localCheckpoint(eager=False)
    s458 = q458_bloom_point_lookup_pricing(spark, sf_dir).localCheckpoint(eager=False)
    best = s454.filter(F.col("best")).select(
        F.col("layout").alias("sort_key"),
        F.col("scan_share").alias("sorted_scan_share"),
    )
    ok = s458.filter(F.col("measured_fpr") <= _Q459_FPR_TOL)
    bm = ok.agg(F.min("m_bits").alias("bloom_bits"))
    bf = (
        bm.join(s458, bm.bloom_bits == s458.m_bits, "left")
        .select("bloom_bits", F.col("measured_fpr").alias("bloom_fpr"))
    )
    enc = s455.agg(
        F.sum(
            F.when(F.col("recommendation") == "dictionary", 1).otherwise(0)
        )
        .cast("long")
        .alias("dict_columns"),
        F.sum(
            F.when(
                F.col("recommendation") == "dictionary",
                F.col("plain_bytes") - F.col("dict_bytes"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("bytes_saved"),
        F.round(
            F.sum(
                F.when(
                    F.col("recommendation") == "dictionary",
                    F.col("plain_bytes") - F.col("dict_bytes"),
                ).otherwise(0)
            ).cast("double")
            / F.sum("plain_bytes"),
            6,
        ).alias("savings_share"),
    )
    return best.crossJoin(bf).crossJoin(enc).select(
        "sort_key",
        "sorted_scan_share",
        "bloom_bits",
        "bloom_fpr",
        "dict_columns",
        "bytes_saved",
        "savings_share",
    )


# ---------------------------------------------------------------------------
# q460 — schema evolution: mergeSchema read over really-written files
# ---------------------------------------------------------------------------


def _q460_oracle() -> str:
    return """
        SELECT 1 AS batch,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_null_priority,
               CAST(0 AS BIGINT) AS distinct_priorities,
               round(1.0, 6) AS null_share
        FROM orders WHERE o_orderkey % 3 <> 0
        UNION ALL
        SELECT 2,
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
               round(CAST(COUNT(*) - COUNT(o_orderpriority) AS DOUBLE)
                     / COUNT(*), 6)
        FROM orders WHERE o_orderkey % 3 = 0
    """


@query("q460_schema_evolution_read", oracle=_q460_oracle())
def q460_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION, physically exercised (the q344 sink-then-prove
    discipline): batch 1 is REALLY WRITTEN to parquet without the
    ``o_orderpriority`` column (the pre-evolution files), batch 2 with
    it; the lane re-reads the directory through Spark's
    ``mergeSchema`` reader and audits what column-ADDITION evolution
    must deliver — old files surface the new column as NULL (never a
    default smuggled in, never a read error), new files keep their
    values. The oracle states the merge semantics relationally over
    the source table, so hash-green means the bytes-on-disk read
    produced exactly the declared semantics. Additive evolution only:
    type WIDENING is deliberately out — parquet mergeSchema rejects
    conflicting physical types, and that rejection is the correct
    behavior to leave observable.

    Scale shape: the audit is one grouped pass over the merged read;
    evolution cost at 100 TB is zero rewrite (old files are never
    touched — the reader reconciles), which is the point."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    orders = read_table(spark, sf_dir, "orders")
    path = fresh_scratch_dir("schema_evo_", key=sf_dir)
    (
        orders.filter(F.col("o_orderkey") % 3 != 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(f"{path}/batch=1")
    )
    (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice",
                "o_orderpriority")
        .write.mode("overwrite")
        .parquet(f"{path}/batch=2")
    )
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        merged.groupBy(F.col("batch").cast("int").alias("batch"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count("o_orderpriority"))
            .cast("long")
            .alias("n_null_priority"),
            F.countDistinct("o_orderpriority").alias(
                "distinct_priorities"
            ),
            F.round(
                (F.count(F.lit(1)) - F.count("o_orderpriority"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("null_share"),
        )
    )


# ---------------------------------------------------------------------------
# q461 — write-audit-publish: staged data is invisible until gated in
# ---------------------------------------------------------------------------

_Q461_MIN_ROWS = 1  # staged-batch floor (freshness guard)


def _q461_oracle() -> str:
    return """
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderkey % 10 = 9) AS staged_rows,
            CAST(0 AS BIGINT) AS null_keys,
            TRUE AS gate_pass,
            TRUE AS published,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderkey % 10 <> 9) AS visible_before,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS visible_after
    """


def _q461_wap(
    spark: SparkSession, sf_dir: str, min_rows: int = _Q461_MIN_ROWS
) -> DataFrame:
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    orders = read_table(spark, sf_dir, "orders")
    root = fresh_scratch_dir("wap_", key=f"{sf_dir}|{min_rows}")
    base_dir, stage_dir = f"{root}/published", f"{root}/staged"
    orders.filter(F.col("o_orderkey") % 10 != 9).write.mode(
        "overwrite"
    ).parquet(base_dir)
    orders.filter(F.col("o_orderkey") % 10 == 9).write.mode(
        "overwrite"
    ).parquet(stage_dir)

    staged = spark.read.parquet(stage_dir)
    audit = staged.agg(
        F.count(F.lit(1)).alias("staged_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey"))
        .cast("long")
        .alias("null_keys"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("bad_price"),
    ).collect()[0]  # the audit verdict is one bounded row — driver-safe
    gate_pass = (
        audit["null_keys"] == 0
        and audit["bad_price"] == 0
        and audit["staged_rows"] >= min_rows
    )
    before = spark.read.parquet(base_dir).count()
    if gate_pass:
        # publish = append the audited files into the visible location
        staged.write.mode("append").parquet(base_dir)
    after = spark.read.parquet(base_dir).count()
    return spark.createDataFrame(
        [(
            audit["staged_rows"],
            audit["null_keys"],
            gate_pass,
            gate_pass,
            before,
            after,
        )],
        "staged_rows long, null_keys long, gate_pass boolean, "
        "published boolean, visible_before long, visible_after long",
    )


@query("q461_write_audit_publish", oracle=_q461_oracle())
def q461_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH, physically exercised: the late batch lands
    in a STAGING location readers never see, quality gates run against
    the staged bytes (null keys, non-positive totals, a freshness
    floor), and only a passing audit appends the files into the
    published location — the Iceberg-WAP / blue-green ingest pattern
    that keeps bad loads out of every consumer. Counts come from
    RE-READING the published directory before and after, so
    hash-green proves visibility semantics on disk, not intent: the
    planted-violation test raises the freshness floor and proves the
    staged rows stay invisible (visible_after == visible_before,
    published=false). The one collect() is the 1-row audit verdict —
    the bounded-collect policy's canonical use.

    Scale shape: audit is one aggregation pass over the staged batch
    (delta-sized, never the table); publish is a file-level append
    (no rewrite of published data); visibility counts are metadata
    scans."""
    return _q461_wap(spark, sf_dir)
