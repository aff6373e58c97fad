r"""Round-12 queries: closing the optimizer loop (joint-grid join-order
costing), the streaming as-of RESTORE drain, the two schema-evolution
variance lanes the r11 verdict asked for, and the physical-design
extensions that compose the table-format family (Z-order pricing,
deletion vectors, materialized-view selection, incremental view
maintenance, runtime-filter pricing, incremental stats, PII scrubbing,
curriculum staging).

No reference counterpart: the reference notebooks (pre_analysis.py /
pre_process.py / transform.py) ship none of this; these lanes extend
the engine the way a lakehouse optimizer/table-format stack grows —
every decision priced from stats, every maintenance path proven
against the from-scratch rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.operators.quantile_bucket import exact_ntile
from databricks_etl_spark.plans.registry import query
from databricks_etl_spark.sources.readers import read_table
from databricks_etl_spark.streaming import sinks

# shared kernels from the round-11b table-format / optimizer families
from databricks_etl_spark.plans.queries_round11b import (  # noqa: F401
    _ACTIONS,
    _Q443_VERSIONS,
    _q434_frac_sql,
    _version_log,
    _version_log_sql,
)

# ---------------------------------------------------------------------------
# q462 — join-order selection WITH the joint grid (the q456→q457 loop closed)
# ---------------------------------------------------------------------------

# q456 pair 1: the correlated band (y = x·(1−discount) ⇒ the y-range is
# nearly implied by the x-range). Independence multiplies the marginals
# and UNDER-estimates the filtered lineitem ~2.5×; that underestimate
# is exactly what flips the join order below.
_Q462_XLO, _Q462_XHI = 70000.0, 105000.0
_Q462_YLO, _Q462_YHI = 60000.0, 105000.0
_Q462_GRID = 10


def _q462_grid_sql() -> str:
    """The q456 joint-grid CTE set (bb/cells/hx/hy) over lineitem."""
    return f"""
        xy AS MATERIALIZED (
            SELECT l_extendedprice AS x,
                   l_extendedprice * (1 - l_discount) AS y,
                   l_orderkey, l_linenumber
            FROM lineitem
        ),
        bb AS MATERIALIZED (
            SELECT x, y,
                   ntile({_Q462_GRID}) OVER (
                       ORDER BY x, l_orderkey, l_linenumber) AS bx,
                   ntile({_Q462_GRID}) OVER (
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
        )"""


def _q462_oracle() -> str:
    fx = _q434_frac_sql(str(_Q462_XLO), str(_Q462_XHI), "c.mnx", "c.mxx")
    fy = _q434_frac_sql(str(_Q462_YLO), str(_Q462_YHI), "c.mny", "c.mxy")
    mx = _q434_frac_sql(str(_Q462_XLO), str(_Q462_XHI), "hx.lo", "hx.hi")
    my = _q434_frac_sql(str(_Q462_YLO), str(_Q462_YHI), "hy.lo", "hy.hi")
    return f"""
        WITH {_q462_grid_sql()},
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM xy),
        st AS (
            SELECT
                (SELECT CAST(COUNT(*) AS DOUBLE) FROM customer) AS n_c,
                (SELECT CAST(COUNT(DISTINCT c_custkey) AS DOUBLE)
                 FROM customer) AS d_c,
                (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders) AS n_o,
                (SELECT CAST(COUNT(DISTINCT o_custkey) AS DOUBLE)
                 FROM orders) AS d_oc,
                (SELECT CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
                 FROM orders) AS d_ok,
                (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE)
                 FROM lineitem) AS d_lk
        ),
        sel AS (
            SELECT 'independence' AS estimator,
                   (SELECT CAST(SUM(CAST(hx.cnt * ({mx})
                                    AS DECIMAL(28,6))) AS DOUBLE) FROM hx)
                   / n.n
                   * (SELECT CAST(SUM(CAST(hy.cnt * ({my})
                                      AS DECIMAL(28,6))) AS DOUBLE) FROM hy)
                   / n.n AS s
            FROM n
            UNION ALL
            SELECT 'joint_grid',
                   (SELECT CAST(SUM(CAST(c.cnt * ({fx}) * ({fy})
                                    AS DECIMAL(28,6))) AS DOUBLE)
                    FROM cells c) / n.n
            FROM n
        ),
        costs AS (
            SELECT sel.estimator, 'co_l' AS join_order,
                   sel.s * n.n AS est_nl,
                   st.n_c * st.n_o / GREATEST(st.d_c, st.d_oc) AS eint,
                   (st.n_c * st.n_o / GREATEST(st.d_c, st.d_oc))
                       * (sel.s * n.n)
                       / GREATEST(LEAST(st.d_ok,
                             st.n_c * st.n_o / GREATEST(st.d_c, st.d_oc)),
                             LEAST(st.d_lk, sel.s * n.n)) AS efin
            FROM sel CROSS JOIN st CROSS JOIN n
            UNION ALL
            SELECT sel.estimator, 'ol_c',
                   sel.s * n.n,
                   st.n_o * (sel.s * n.n)
                       / GREATEST(st.d_ok, LEAST(st.d_lk, sel.s * n.n)),
                   (st.n_o * (sel.s * n.n)
                       / GREATEST(st.d_ok, LEAST(st.d_lk, sel.s * n.n)))
                       * st.n_c
                       / GREATEST(LEAST(st.d_oc,
                             st.n_o * (sel.s * n.n)
                             / GREATEST(st.d_ok,
                                        LEAST(st.d_lk, sel.s * n.n))),
                             st.d_c)
            FROM sel CROSS JOIN st CROSS JOIN n
        ),
        act AS (
            WITH cc AS (
                SELECT c_custkey AS k, COUNT(*) AS c FROM customer
                GROUP BY 1
            ),
            lcf AS (
                SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem
                WHERE l_extendedprice >= {_Q462_XLO}
                  AND l_extendedprice <= {_Q462_XHI}
                  AND l_extendedprice * (1 - l_discount) >= {_Q462_YLO}
                  AND l_extendedprice * (1 - l_discount) <= {_Q462_YHI}
                GROUP BY 1
            )
            SELECT
                (SELECT CAST(SUM(cc.c) AS BIGINT) FROM orders o
                 JOIN cc ON o.o_custkey = cc.k) AS co_int,
                (SELECT CAST(SUM(lcf.c) AS BIGINT) FROM orders o
                 JOIN lcf ON o.o_orderkey = lcf.k) AS ol_int,
                (SELECT CAST(SUM(cc.c * lcf.c) AS BIGINT) FROM orders o
                 JOIN cc ON o.o_custkey = cc.k
                 JOIN lcf ON o.o_orderkey = lcf.k) AS fin
        ),
        raw AS (
            SELECT c.estimator, c.join_order,
                   round(c.est_nl, 4) AS est_filtered_rows,
                   round(c.eint + c.efin, 4) AS est_total_cout,
                   CASE WHEN c.join_order = 'co_l' THEN a.co_int
                        ELSE a.ol_int END AS actual_intermediate,
                   a.fin AS actual_final
            FROM costs c CROSS JOIN act a
        )
        SELECT estimator, join_order, est_filtered_rows, est_total_cout,
               actual_intermediate, actual_final,
               est_total_cout = MIN(est_total_cout)
                   OVER (PARTITION BY estimator) AS best_estimated,
               actual_intermediate = MIN(actual_intermediate)
                   OVER (PARTITION BY estimator) AS best_actual
        FROM raw
    """


@query("q462_joint_grid_join_order", oracle=_q462_oracle())
def q462_joint_grid_join_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimizer loop CLOSED (q456's joint histogram feeding q457's
    join-order selection): cost both left-deep orders of the
    customer–orders–σ(lineitem) chain where the lineitem filter is the
    CORRELATED band (price ∈ [70k, 105k] ∧ revenue ∈ [60k, 105k] —
    q456 pair 1, revenue = price·(1−discount) so the second range is
    nearly implied by the first). The selectivity of that conjunction
    is the only input that differs between the two estimators: the
    independence product of the marginal histograms under-estimates
    the filtered relation ~2.5× and picks the lineitem-first order
    (ol_c, est ~8.2k intermediate); the joint 10×10 grid estimates
    ~20k, correctly placing the filtered fact ABOVE |orders| = 15k, and
    picks the dimension-first order (co_l) — which the measured
    intermediates confirm is the true optimum. The planted flip is the
    business case for multi-column statistics stated at the join-order
    level: ``best_estimated == best_actual`` for joint_grid and NOT
    for independence (pinned by test). Join cost model, ndv-capping
    and per-key product-sum actuals are q457's verbatim; the grid is
    q456's (exact_ntile construction, no SinglePartition).

    Scale shape: grid + marginals are one exact-ntile pass each (the
    two-phase distributed rank); estimates run on ≤100-cell relations;
    actuals are pre-aggregated per-key count joins (no expansion)."""
    li = read_table(spark, sf_dir, "lineitem")
    xy = li.select(
        F.col("l_extendedprice").alias("x"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y"),
        "l_orderkey",
        "l_linenumber",
    ).localCheckpoint(eager=False)
    bb = (
        exact_ntile(
            exact_ntile(
                xy, ["x", "l_orderkey", "l_linenumber"], _Q462_GRID,
                out_col="bx",
            ),
            ["y", "l_orderkey", "l_linenumber"], _Q462_GRID, out_col="by",
        )
        .select("x", "y", "bx", "by")
        .localCheckpoint(eager=False)
    )
    n = float(xy.count())
    cells = bb.groupBy("bx", "by").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("x").alias("mnx"), F.max("x").alias("mxx"),
        F.min("y").alias("mny"), F.max("y").alias("mxy"),
    )
    hx = bb.groupBy("bx").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("x").alias("lo"), F.max("x").alias("hi"),
    )
    hy = bb.groupBy("by").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("y").alias("lo"), F.max("y").alias("hi"),
    )
    fx = F.expr(_q434_frac_sql(str(_Q462_XLO), str(_Q462_XHI), "mnx", "mxx"))
    fy = F.expr(_q434_frac_sql(str(_Q462_YLO), str(_Q462_YHI), "mny", "mxy"))
    mxf = F.expr(_q434_frac_sql(str(_Q462_XLO), str(_Q462_XHI), "lo", "hi"))
    myf = F.expr(_q434_frac_sql(str(_Q462_YLO), str(_Q462_YHI), "lo", "hi"))
    sx = hx.select((F.col("cnt") * mxf).alias("t")).agg(
        F.sum(F.col("t").cast("decimal(28,6)")).alias("s")
    )
    sy = hy.select((F.col("cnt") * myf).alias("t")).agg(
        F.sum(F.col("t").cast("decimal(28,6)")).alias("s")
    )
    sj = cells.select((F.col("cnt") * fx * fy).alias("t")).agg(
        F.sum(F.col("t").cast("decimal(28,6)")).alias("s")
    )
    sel_ind = sx.crossJoin(sy.withColumnRenamed("s", "s2")).select(
        F.lit("independence").alias("estimator"),
        (
            F.col("s").cast("double") / n * F.col("s2").cast("double") / n
        ).alias("s"),
    )
    sel_jnt = sj.select(
        F.lit("joint_grid").alias("estimator"),
        (F.col("s").cast("double") / n).alias("s"),
    )
    sel = sel_ind.unionByName(sel_jnt)

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    st = (
        cust.agg(
            F.count(F.lit(1)).cast("double").alias("n_c"),
            F.countDistinct("c_custkey").cast("double").alias("d_c"),
        )
        .crossJoin(
            orders.agg(
                F.count(F.lit(1)).cast("double").alias("n_o"),
                F.countDistinct("o_custkey").cast("double").alias("d_oc"),
                F.countDistinct("o_orderkey").cast("double").alias("d_ok"),
            )
        )
        .crossJoin(
            li.agg(
                F.countDistinct("l_orderkey").cast("double").alias("d_lk")
            )
        )
        .localCheckpoint(eager=False)
    )
    est_nl = F.col("s") * F.lit(n)
    d_lk_e = F.least(F.col("d_lk"), est_nl)
    co_int = F.col("n_c") * F.col("n_o") / F.greatest("d_c", "d_oc")
    co_fin = co_int * est_nl / F.greatest(
        F.least(F.col("d_ok"), co_int), d_lk_e
    )
    ol_int = F.col("n_o") * est_nl / F.greatest(F.col("d_ok"), d_lk_e)
    ol_fin = ol_int * F.col("n_c") / F.greatest(
        F.least(F.col("d_oc"), ol_int), F.col("d_c")
    )
    base = sel.crossJoin(F.broadcast(st))
    costs = base.select(
        "estimator",
        F.lit("co_l").alias("join_order"),
        est_nl.alias("est_nl"),
        co_int.alias("eint"),
        co_fin.alias("efin"),
    ).unionByName(
        base.select(
            "estimator",
            F.lit("ol_c").alias("join_order"),
            est_nl.alias("est_nl"),
            ol_int.alias("eint"),
            ol_fin.alias("efin"),
        )
    )
    filt = (
        (F.col("l_extendedprice") >= _Q462_XLO)
        & (F.col("l_extendedprice") <= _Q462_XHI)
        & (F.col("l_extendedprice") * (1 - F.col("l_discount")) >= _Q462_YLO)
        & (F.col("l_extendedprice") * (1 - F.col("l_discount")) <= _Q462_YHI)
    )
    cc = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    lcf = (
        li.filter(filt)
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ow = (
        orders.join(cc, orders.o_custkey == cc.k, "left")
        .select("o_orderkey", F.coalesce(F.col("c"), F.lit(0)).alias("cc"))
        .join(lcf, F.col("o_orderkey") == lcf.k, "left")
        .select("cc", F.coalesce(F.col("c"), F.lit(0)).alias("lcn"))
    )
    act = ow.agg(
        F.sum("cc").cast("long").alias("co_int"),
        F.sum("lcn").cast("long").alias("ol_int"),
        F.sum(F.col("cc") * F.col("lcn")).cast("long").alias("fin"),
    )
    raw = costs.crossJoin(F.broadcast(act)).select(
        "estimator",
        "join_order",
        F.round(F.col("est_nl"), 4).alias("est_filtered_rows"),
        F.round(F.col("eint") + F.col("efin"), 4).alias("est_total_cout"),
        F.when(F.col("join_order") == "co_l", F.col("co_int"))
        .otherwise(F.col("ol_int"))
        .alias("actual_intermediate"),
        F.col("fin").alias("actual_final"),
    ).localCheckpoint(eager=False)
    from pyspark.sql import Window

    we = Window.partitionBy("estimator")
    return raw.select(
        "*",
        (F.col("est_total_cout") == F.min("est_total_cout").over(we)).alias(
            "best_estimated"
        ),
        (
            F.col("actual_intermediate")
            == F.min("actual_intermediate").over(we)
        ).alias("best_actual"),
    )

# ---------------------------------------------------------------------------
# q463 — STREAMING as-of restore: snapshot reconstruction at ingest
# ---------------------------------------------------------------------------


def _q463_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    return QUERIES["q443_time_travel_reads"].oracle


def _drain_q463_asof(
    spark: SparkSession, partials_path: str, sf_dir: str
) -> DataFrame:
    """Accumulated action partials → q443's full as-of answer: live
    sets for EVERY version (broadcast version grid + anti-join), then
    the per-version rollup with the delta against the current table."""
    acts = sinks.landed(spark, partials_path, _ACTIONS)
    vg = spark.createDataFrame(
        [(v,) for v in _Q443_VERSIONS], "version_at int"
    )
    adds = acts.filter(F.col("action") == "add")
    rems = acts.filter(F.col("action") == "remove").select(
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
    tot = read_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).cast("long").alias("n")
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


@query("q463_streaming_asof_restore", oracle=_q463_oracle())
def q463_streaming_asof_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL maintained AT INGEST (the r11-verdict builder's
    idea): the q443 action log is STAGED as one parquet file per
    commit and consumed by a REAL Structured Streaming query
    (``readStream`` + ``maxFilesPerTrigger=1`` + availableNow — the
    q421 discipline), each micro-batch landing its actions in the
    epoch-idempotent partials sink (dynamic partition overwrite by
    epoch — a replayed commit overwrites its own partition). The drain
    reconstructs the AS-OF snapshot for every version exactly as the
    batch lane does: adds up to v anti-joined against removes up to v,
    version grid broadcast. Tombstones are data, so the per-version
    fold is associative across epochs by construction — an add and
    its remove meet at drain time no matter which micro-batch
    delivered each, which is why the lane is slicing-invariant (pinned
    alongside commit replay, like q453). Registered with q443's own
    oracle: the streaming path must reproduce the batch time-travel
    answer bit-for-bit.

    Scale shape: per epoch the sink writes one commit's file-grain
    actions; the drain is |versions| broadcast-grid anti-joins over
    MB-scale log metadata — no data re-scan per version."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    log = _version_log(spark, sf_dir)
    root = fresh_scratch_dir("asof_", key=sf_dir)
    stage_path = f"{root}/staged"
    partials_path = f"{root}/partials"
    # one file per commit: the staged stand-in for the commit stream
    (
        log.repartition(1, "version")
        .write.partitionBy("version")
        .parquet(stage_path)
    )
    sinks.seed(spark, partials_path, _ACTIONS)
    stream = (
        spark.readStream.schema(
            "action string, file_id long, rws long, version int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_path)
    )
    sinks.run_available_now(
        stream,
        sinks.epoch_idempotent_sink(partials_path),
        sf_dir,
        ("orders",),
        checkpoint=f"{root}/ckpt",
    )
    return _drain_q463_asof(spark, partials_path, sf_dir)


# ---------------------------------------------------------------------------
# q464 — schema evolution: TYPE WIDENING through really-written files
# ---------------------------------------------------------------------------


def _q464_oracle() -> str:
    return """
        SELECT 1 AS batch,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(CASE WHEN CAST(CAST(o_totalprice AS REAL)
                                  AS DOUBLE) <> o_totalprice
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS rounded_prices,
               CAST(CAST(MIN(o_totalprice) AS REAL) AS DOUBLE)
                   AS min_price,
               CAST(CAST(MAX(o_totalprice) AS REAL) AS DOUBLE)
                   AS max_price
        FROM orders WHERE o_orderkey % 3 <> 0
        UNION ALL
        SELECT 2,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(o_orderkey) AS BIGINT),
               CAST(0 AS BIGINT),
               MIN(o_totalprice),
               MAX(o_totalprice)
        FROM orders WHERE o_orderkey % 3 = 0
    """


@query("q464_schema_widening_read", oracle=_q464_oracle())
def q464_schema_widening_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-WIDENING evolution, physically exercised (q460's
    sink-then-prove discipline, the widening case it deliberately left
    out): batch 1 is REALLY WRITTEN with the narrow physical types
    (o_orderkey INT32, o_totalprice FLOAT) — the pre-evolution files —
    batch 2 with the widened types (INT64, DOUBLE). ``mergeSchema``
    still rejects the conflict (q460 pins that), so the evolution path
    is the DECLARED widened read schema: Spark 4's parquet reader
    up-casts INT32→INT64 and FLOAT→DOUBLE per file at scan time. The
    audit proves the bytes: exact integer key sums per batch, the
    count of batch-1 prices that really lost precision to FLOAT
    (non-zero — the narrowing was real), and min/max prices where
    batch 1's extrema are exactly the float32-rounded doubles the
    oracle states via CAST(CAST(x AS REAL) AS DOUBLE) — monotone
    rounding makes MIN/MAX commute with the cast, so the values are
    cross-engine exact.

    Scale shape: widening costs ZERO rewrite at 100 TB (old files are
    never touched — the scan up-casts); the audit is one grouped pass
    over the merged read plus a key-equi join back to the source for
    the precision count."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    orders = read_table(spark, sf_dir, "orders")
    path = fresh_scratch_dir("schema_widen_", key=sf_dir)
    (
        orders.filter(F.col("o_orderkey") % 3 != 0)
        .select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            F.col("o_totalprice").cast("float").alias("o_totalprice"),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/batch=1")
    )
    (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/batch=2")
    )
    widened = spark.read.schema(
        "o_orderkey long, o_totalprice double, batch int"
    ).parquet(path)
    orig = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("p_orig"),
    )
    return (
        widened.join(orig, widened.o_orderkey == orig.k)
        .groupBy(F.col("batch").cast("int").alias("batch"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(
                F.when(F.col("o_totalprice") != F.col("p_orig"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("rounded_prices"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# q465 — schema evolution: RENAME vs ADD disambiguation
# ---------------------------------------------------------------------------


def _q465_oracle() -> str:
    return """
        WITH olds AS (SELECT DISTINCT o_orderpriority AS v FROM orders
                      WHERE o_orderkey % 3 <> 0),
        news AS (SELECT DISTINCT o_orderpriority AS v FROM orders
                 WHERE o_orderkey % 3 = 0)
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows_total,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderkey % 3 <> 0) AS rows_old_files,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderkey % 3 = 0) AS rows_new_files,
            CAST(0 AS BIGINT) AS co_nonnull_rows,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM (SELECT v FROM olds INTERSECT SELECT v FROM news) t)
                AS shared_distinct_values,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM (SELECT v FROM olds EXCEPT SELECT v FROM news) t)
                AS old_only_values,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM (SELECT v FROM news EXCEPT SELECT v FROM olds) t)
                AS new_only_values,
            TRUE AS rename_evidence
    """


@query("q465_rename_vs_add_audit", oracle=_q465_oracle())
def q465_rename_vs_add_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evolution case parquet CANNOT disambiguate, audited: a
    column RENAME (new files carry ``o_priority`` where old files
    carried ``o_orderpriority``) is physically identical to a
    drop+add — parquet matches columns by NAME, so the mergeSchema
    read surfaces BOTH columns, each NULL on the other side's files.
    The lane runs the rename DETECTOR a catalog would: the two columns
    are never non-NULL together (a true add could co-exist with the
    old column), and their distinct value sets coincide across the
    file generations (a true add would carry a new domain) —
    ``rename_evidence`` is the conjunction, TRUE on this planted
    rename. Real fixes live a layer up (Iceberg field IDs / Delta
    column mapping); the audit states exactly what name-based parquet
    can and cannot know.

    Scale shape: one grouped pass over the merged read + two
    distinct-set comparisons on the (tiny) value domains."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    orders = read_table(spark, sf_dir, "orders")
    path = fresh_scratch_dir("schema_rename_", key=sf_dir)
    (
        orders.filter(F.col("o_orderkey") % 3 != 0)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(f"{path}/batch=1")
    )
    (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey", F.col("o_orderpriority").alias("o_priority")
        )
        .write.mode("overwrite")
        .parquet(f"{path}/batch=2")
    )
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    counts = merged.agg(
        F.count(F.lit(1)).alias("n_rows_total"),
        F.count("o_orderpriority").cast("long").alias("rows_old_files"),
        F.count("o_priority").cast("long").alias("rows_new_files"),
        F.sum(
            F.when(
                F.col("o_orderpriority").isNotNull()
                & F.col("o_priority").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("co_nonnull_rows"),
    )
    olds = merged.select(
        F.col("o_orderpriority").alias("v")
    ).filter(F.col("v").isNotNull()).distinct()
    news = merged.select(F.col("o_priority").alias("v")).filter(
        F.col("v").isNotNull()
    ).distinct()
    shared = olds.intersect(news).agg(
        F.count(F.lit(1)).cast("long").alias("shared_distinct_values")
    )
    old_only = olds.exceptAll(news).agg(
        F.count(F.lit(1)).cast("long").alias("old_only_values")
    )
    new_only = news.exceptAll(olds).agg(
        F.count(F.lit(1)).cast("long").alias("new_only_values")
    )
    return (
        counts.crossJoin(F.broadcast(shared))
        .crossJoin(F.broadcast(old_only))
        .crossJoin(F.broadcast(new_only))
        .select(
            "n_rows_total",
            "rows_old_files",
            "rows_new_files",
            "co_nonnull_rows",
            "shared_distinct_values",
            "old_only_values",
            "new_only_values",
            (
                (F.col("co_nonnull_rows") == 0)
                & (F.col("old_only_values") == 0)
                & (F.col("new_only_values") == 0)
            ).alias("rename_evidence"),
        )
    )

# ---------------------------------------------------------------------------
# q466 — Z-ORDER layout pricing (multi-column data skipping vs linear sorts)
# ---------------------------------------------------------------------------

_Q466_FILES = 20
_Q466_BITS = 8  # per-dimension quantization (8+8 → 16-bit z space)
# workload as FRACTIONS of each dimension's [min, max] — scale-free, so
# the same lane prices identically at every sf: three narrow ship-day
# bands and three part-key bands (the mixed workload where neither
# linear sort can win on both halves)
_Q466_PREDS: list[tuple[int, str, float, float]] = [
    (1, "sd", 0.10, 0.15),
    (2, "sd", 0.40, 0.45),
    (3, "sd", 0.70, 0.75),
    (4, "pk", 0.05, 0.10),
    (5, "pk", 0.45, 0.50),
    (6, "pk", 0.85, 0.90),
]


def _q466_interleave(qx: str, qy: str, div: str) -> str:
    """Bit-interleave two quantized dims into the Morton z-value with
    pure integer arithmetic (bit i of qx lands at z bit 2i, of qy at
    2i+1) — ``div`` is the engine's integer-division spelling (`//`
    for DuckDB, `DIV` for Spark SQL), everything else is shared."""
    return " + ".join(
        f"(({qx} {div} {1 << i}) % 2 + 2 * (({qy} {div} {1 << i}) % 2))"
        f" * {4 ** i}"
        for i in range(_Q466_BITS)
    )


_Q466_LAYOUT_KEYS = {"l_shipday": "sd", "l_partkey": "pk", "zorder": "z"}


def _q466_oracle() -> str:
    n_cells = 1 << _Q466_BITS
    z = _q466_interleave("qx", "qy", "//")
    zones = []
    for layout, key in _Q466_LAYOUT_KEYS.items():
        zones.append(f"""
            SELECT '{layout}' AS layout, f.fid,
                   MIN(f.sd) AS mn_sd, MAX(f.sd) AS mx_sd,
                   MIN(f.pk) AS mn_pk, MAX(f.pk) AS mx_pk
            FROM (
                SELECT qz.*, ntile({_Q466_FILES}) OVER (
                    ORDER BY qz.{key}, qz.l_orderkey, qz.l_linenumber
                ) AS fid
                FROM qz
            ) f GROUP BY f.fid""")
    preds = ", ".join(
        f"({i}, '{c}', {flo}, {fhi})" for i, c, flo, fhi in _Q466_PREDS
    )
    return f"""
        WITH li AS MATERIALIZED (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(l_shipdate AS DATE)) AS DOUBLE) AS sd,
                   CAST(l_partkey AS DOUBLE) AS pk,
                   l_orderkey, l_linenumber
            FROM lineitem
        ),
        st AS (
            SELECT MIN(sd) AS mnsd, MAX(sd) AS mxsd,
                   MIN(pk) AS mnpk, MAX(pk) AS mxpk
            FROM li
        ),
        qz AS MATERIALIZED (
            SELECT sd, pk, l_orderkey, l_linenumber, {z} AS z
            FROM (
                SELECT li.*,
                       LEAST(CAST(FLOOR((sd - st.mnsd)
                           / ((st.mxsd - st.mnsd) / {n_cells}.0))
                           AS BIGINT), {n_cells - 1}) AS qx,
                       LEAST(CAST(FLOOR((pk - st.mnpk)
                           / ((st.mxpk - st.mnpk) / {n_cells}.0))
                           AS BIGINT), {n_cells - 1}) AS qy
                FROM li CROSS JOIN st
            )
        ),
        zones AS MATERIALIZED ({" UNION ALL ".join(zones)}),
        pf(pid, col, flo, fhi) AS (VALUES {preds}),
        preds AS (
            SELECT pid, col,
                   CASE WHEN col = 'sd'
                        THEN st.mnsd + flo * (st.mxsd - st.mnsd)
                        ELSE st.mnpk + flo * (st.mxpk - st.mnpk) END AS lo,
                   CASE WHEN col = 'sd'
                        THEN st.mnsd + fhi * (st.mxsd - st.mnsd)
                        ELSE st.mnpk + fhi * (st.mxpk - st.mnpk) END AS hi
            FROM pf CROSS JOIN st
        ),
        scans AS (
            SELECT z.layout,
                   CAST(SUM(CASE WHEN p.col = 'sd'
                                 THEN (z.mn_sd <= p.hi
                                       AND z.mx_sd >= p.lo)::INT
                                 ELSE (z.mn_pk <= p.hi
                                       AND z.mx_pk >= p.lo)::INT
                            END) AS BIGINT) AS files_scanned,
                   CAST(COUNT(*) AS BIGINT) AS file_pred_pairs
            FROM zones z CROSS JOIN preds p
            GROUP BY z.layout
        )
        SELECT layout, files_scanned,
               CAST({_Q466_FILES} AS BIGINT) AS n_files,
               round(CAST(files_scanned AS DOUBLE) / file_pred_pairs, 6)
                   AS scan_share,
               files_scanned = (SELECT MIN(files_scanned) FROM scans)
                   AS best
        FROM scans
    """


@query("q466_zorder_layout_pricing", oracle=_q466_oracle())
# (bench slot went to q493 instead: q466's three exact layout passes cost
# ~4-6s warm at sf0.1 — intrinsic to the construction, too heavy for the
# 23-query headline budget)
def q466_zorder_layout_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q454's missing layout: Z-ORDER. On a MIXED workload (half the
    predicates on ship day, half on part key) neither linear sort can
    prune both halves — the ship-day layout scans every file for part
    predicates and vice versa. Interleaving the two dimensions' bits
    (8+8-bit Morton code, pure integer arithmetic in both engines)
    bounds every file's zone on BOTH dimensions, so z-order prunes
    both pred families and wins the total (pinned by test — the
    engine-side argument for OPTIMIZE ZORDER BY). Workload bounds are
    stated as FRACTIONS of each dimension's range, so the lane prices
    identically at every scale factor. File assignment is
    :func:`exact_ntile` over the z-value (two-phase rank, no
    SinglePartition); zone maps and pricing are q454's arithmetic.

    Scale shape: one quantize+interleave map pass, one distributed
    rank per layout, then |files| × |workload| broadcast pricing on
    zone-map metadata."""
    n_cells = 1 << _Q466_BITS
    li = read_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("double")
        .alias("sd"),
        F.col("l_partkey").cast("double").alias("pk"),
        "l_orderkey",
        "l_linenumber",
    )
    st = li.agg(
        F.min("sd").alias("mnsd"), F.max("sd").alias("mxsd"),
        F.min("pk").alias("mnpk"), F.max("pk").alias("mxpk"),
    ).localCheckpoint(eager=False)
    quant = li.crossJoin(F.broadcast(st)).select(
        "sd", "pk", "l_orderkey", "l_linenumber",
        F.expr(
            f"LEAST(CAST(FLOOR((sd - mnsd) / ((mxsd - mnsd) / {n_cells}.0))"
            f" AS BIGINT), {n_cells - 1})"
        ).alias("qx"),
        F.expr(
            f"LEAST(CAST(FLOOR((pk - mnpk) / ((mxpk - mnpk) / {n_cells}.0))"
            f" AS BIGINT), {n_cells - 1})"
        ).alias("qy"),
    )
    qz = quant.select(
        "sd", "pk", "l_orderkey", "l_linenumber",
        F.expr(_q466_interleave("qx", "qy", "DIV")).alias("z"),
    ).localCheckpoint(eager=False)
    zones = []
    for layout, key in _Q466_LAYOUT_KEYS.items():
        zones.append(
            exact_ntile(
                qz, [key, "l_orderkey", "l_linenumber"], _Q466_FILES,
                out_col="fid",
            )
            .groupBy("fid")
            .agg(
                F.min("sd").alias("mn_sd"), F.max("sd").alias("mx_sd"),
                F.min("pk").alias("mn_pk"), F.max("pk").alias("mx_pk"),
            )
            .select(F.lit(layout).alias("layout"), "*")
        )
    zdf = zones[0]
    for d in zones[1:]:
        zdf = zdf.unionByName(d)
    pf = spark.createDataFrame(
        _Q466_PREDS, "pid int, col string, flo double, fhi double"
    )
    preds = pf.crossJoin(F.broadcast(st)).select(
        "pid", "col",
        F.when(
            F.col("col") == "sd",
            F.col("mnsd") + F.col("flo") * (F.col("mxsd") - F.col("mnsd")),
        )
        .otherwise(
            F.col("mnpk") + F.col("flo") * (F.col("mxpk") - F.col("mnpk"))
        )
        .alias("lo"),
        F.when(
            F.col("col") == "sd",
            F.col("mnsd") + F.col("fhi") * (F.col("mxsd") - F.col("mnsd")),
        )
        .otherwise(
            F.col("mnpk") + F.col("fhi") * (F.col("mxpk") - F.col("mnpk"))
        )
        .alias("hi"),
    )
    hit = F.when(
        F.col("col") == "sd",
        (F.col("mn_sd") <= F.col("hi")) & (F.col("mx_sd") >= F.col("lo")),
    ).otherwise(
        (F.col("mn_pk") <= F.col("hi")) & (F.col("mx_pk") >= F.col("lo"))
    )
    scans = (
        zdf.crossJoin(F.broadcast(preds))
        .select("layout", hit.cast("int").alias("hit"))
        .groupBy("layout")
        .agg(
            F.sum("hit").cast("long").alias("files_scanned"),
            F.count(F.lit(1)).alias("file_pred_pairs"),
        )
        .localCheckpoint(eager=False)
    )
    best = scans.agg(F.min("files_scanned").alias("mn"))
    return scans.crossJoin(F.broadcast(best)).select(
        "layout",
        "files_scanned",
        F.lit(_Q466_FILES).cast("long").alias("n_files"),
        F.round(
            F.col("files_scanned").cast("double") / F.col("file_pred_pairs"),
            6,
        ).alias("scan_share"),
        (F.col("files_scanned") == F.col("mn")).alias("best"),
    )

# ---------------------------------------------------------------------------
# q467 — deletion vectors vs copy-on-write (row-level delete pricing)
# ---------------------------------------------------------------------------

_Q467_FILES = 20


def _q467_deletes_sql() -> str:
    """Two planted delete shapes over the 20-file ship-date layout:
    'scattered' (a max-quantity business rule — rows everywhere) and
    'clustered' (a retention cut on the oldest 5% of ship days)."""
    return """
        dels AS MATERIALIZED (
            SELECT 'scattered' AS delete_kind, fl.fid
            FROM fl WHERE fl.l_quantity >= 50
            UNION ALL
            SELECT 'clustered', fl.fid
            FROM fl CROSS JOIN st
            WHERE fl.sd <= st.mnsd + 0.05 * (st.mxsd - st.mnsd)
        )"""


def _q467_oracle() -> str:
    return f"""
        WITH li AS MATERIALIZED (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(l_shipdate AS DATE)) AS DOUBLE) AS sd,
                   l_quantity, l_orderkey, l_linenumber
            FROM lineitem
        ),
        st AS (SELECT MIN(sd) AS mnsd, MAX(sd) AS mxsd FROM li),
        fl AS MATERIALIZED (
            SELECT sd, l_quantity,
                   ntile({_Q467_FILES}) OVER (
                       ORDER BY sd, l_orderkey, l_linenumber) AS fid
            FROM li
        ),
        fsize AS (SELECT fid, CAST(COUNT(*) AS BIGINT) AS fr
                  FROM fl GROUP BY fid),
        {_q467_deletes_sql()},
        per_kind AS (
            SELECT d.delete_kind,
                   CAST(COUNT(*) AS BIGINT) AS rows_deleted,
                   CAST(COUNT(DISTINCT d.fid) AS BIGINT) AS files_touched,
                   (SELECT CAST(SUM(fs.fr) AS BIGINT) FROM fsize fs
                    WHERE fs.fid IN (SELECT DISTINCT fid FROM dels x
                                     WHERE x.delete_kind = d.delete_kind))
                       AS touched_file_rows
            FROM dels d GROUP BY d.delete_kind
        )
        SELECT delete_kind,
               CASE WHEN strategy_id = 1 THEN 'copy_on_write'
                    ELSE 'deletion_vectors' END AS strategy,
               rows_deleted, files_touched,
               CASE WHEN strategy_id = 1
                    THEN touched_file_rows - rows_deleted
                    ELSE CAST(0 AS BIGINT) END AS rows_rewritten,
               CASE WHEN strategy_id = 1 THEN CAST(0 AS BIGINT)
                    ELSE rows_deleted END AS dv_entries,
               CASE WHEN strategy_id = 1 THEN CAST(0 AS BIGINT)
                    ELSE rows_deleted END AS read_overhead_rows,
               round(CASE WHEN strategy_id = 1
                          THEN CAST(touched_file_rows AS DOUBLE)
                               / rows_deleted
                          ELSE 0.0 END, 6) AS write_amplification
        FROM per_kind
        CROSS JOIN (SELECT UNNEST([1, 2]) AS strategy_id) s
    """


@query("q467_deletion_vector_pricing", oracle=_q467_oracle())
def q467_deletion_vector_pricing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-level DELETE strategies priced against each other — the
    merge-on-read vs copy-on-write decision every table format makes
    (Delta deletion vectors / Iceberg position deletes): copy-on-write
    rewrites every file containing a deleted row (cost = the SURVIVING
    rows of touched files — write amplification explodes when deletes
    scatter), deletion vectors record one position entry per deleted
    row (cost = the entries, plus a read overhead of still-scanned
    dead rows until compaction). Two planted delete shapes make the
    tradeoff sharp: the 'scattered' business-rule delete (quantity cap
    — rows in every file; CoW rewrites ~the whole table for ~2% of
    rows) and the 'clustered' retention cut (oldest 5% of ship days —
    touches 1-2 files; CoW is cheap and DVs buy little). The test pins
    scattered write-amplification ≥ 10× clustered. One row per
    (delete shape, strategy).

    Scale shape: file layout via :func:`exact_ntile` (two-phase rank);
    everything downstream is file-grain metadata rollups — the actual
    decision inputs a format's DELETE planner reads from its stats."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("double")
        .alias("sd"),
        "l_quantity",
        "l_orderkey",
        "l_linenumber",
    )
    st = li.agg(
        F.min("sd").alias("mnsd"), F.max("sd").alias("mxsd")
    ).localCheckpoint(eager=False)
    fl = (
        exact_ntile(
            li, ["sd", "l_orderkey", "l_linenumber"], _Q467_FILES,
            out_col="fid",
        )
        .select("sd", "l_quantity", "fid")
        .localCheckpoint(eager=False)
    )
    fsize = fl.groupBy("fid").agg(F.count(F.lit(1)).cast("long").alias("fr"))
    cutoff = F.col("mnsd") + 0.05 * (F.col("mxsd") - F.col("mnsd"))
    dels = (
        fl.filter(F.col("l_quantity") >= 50)
        .select(F.lit("scattered").alias("delete_kind"), "fid")
        .unionByName(
            fl.crossJoin(F.broadcast(st))
            .filter(F.col("sd") <= cutoff)
            .select(F.lit("clustered").alias("delete_kind"), "fid")
        )
    )
    touched = dels.groupBy("delete_kind", "fid").agg(
        F.count(F.lit(1)).alias("dn")
    )
    per_kind = (
        touched.join(F.broadcast(fsize), "fid")
        .groupBy("delete_kind")
        .agg(
            F.sum("dn").cast("long").alias("rows_deleted"),
            F.count(F.lit(1)).cast("long").alias("files_touched"),
            F.sum("fr").cast("long").alias("touched_file_rows"),
        )
    )
    strat = spark.createDataFrame([(1,), (2,)], "strategy_id int")
    return per_kind.crossJoin(F.broadcast(strat)).select(
        "delete_kind",
        F.when(F.col("strategy_id") == 1, "copy_on_write")
        .otherwise("deletion_vectors")
        .alias("strategy"),
        "rows_deleted",
        "files_touched",
        F.when(
            F.col("strategy_id") == 1,
            F.col("touched_file_rows") - F.col("rows_deleted"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rows_rewritten"),
        F.when(F.col("strategy_id") == 1, F.lit(0))
        .otherwise(F.col("rows_deleted"))
        .cast("long")
        .alias("dv_entries"),
        F.when(F.col("strategy_id") == 1, F.lit(0))
        .otherwise(F.col("rows_deleted"))
        .cast("long")
        .alias("read_overhead_rows"),
        F.round(
            F.when(
                F.col("strategy_id") == 1,
                F.col("touched_file_rows").cast("double")
                / F.col("rows_deleted"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("write_amplification"),
    )

# ---------------------------------------------------------------------------
# q468 — materialized-view selection (HRU greedy over the lattice)
# ---------------------------------------------------------------------------

_Q468_STEPS = 2
_Q468_MONTH = (
    "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)"
)


def _q468_oracle() -> str:
    return f"""
        WITH views AS MATERIALIZED (
            SELECT 'pm' AS v, 1 AS hp, 1 AS hm,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                        SELECT DISTINCT o_orderpriority, {_Q468_MONTH}
                        FROM orders) t) AS size
            UNION ALL
            SELECT 'p', 1, 0,
                   (SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
                    FROM orders)
            UNION ALL
            SELECT 'm', 0, 1,
                   (SELECT CAST(COUNT(DISTINCT {_Q468_MONTH}) AS BIGINT)
                    FROM orders)
            UNION ALL
            SELECT 'all', 0, 0, CAST(1 AS BIGINT)
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
        qs(q, qp, qm) AS (VALUES ('pm', 1, 1), ('p', 1, 0),
                                 ('m', 0, 1), ('all', 0, 0)),
        b1 AS (
            SELECT v.v,
                   CAST(SUM(CASE WHEN q.qp <= v.hp AND q.qm <= v.hm
                                 THEN GREATEST(0, n.n - v.size)
                                 ELSE 0 END) AS BIGINT) AS benefit
            FROM views v CROSS JOIN qs q CROSS JOIN n
            GROUP BY v.v
        ),
        c1 AS (SELECT v, benefit FROM b1
               ORDER BY benefit DESC, v LIMIT 1),
        cost1 AS (
            SELECT q.q, q.qp, q.qm,
                   LEAST(n.n, CASE WHEN q.qp <= v.hp AND q.qm <= v.hm
                                   THEN v.size ELSE n.n END) AS c
            FROM qs q CROSS JOIN n
            JOIN views v ON v.v = (SELECT v FROM c1)
        ),
        b2 AS (
            SELECT v.v,
                   CAST(SUM(GREATEST(0, c.c -
                       CASE WHEN c.qp <= v.hp AND c.qm <= v.hm
                            THEN LEAST(c.c, v.size) ELSE c.c END))
                       AS BIGINT) AS benefit
            FROM views v CROSS JOIN cost1 c
            WHERE v.v <> (SELECT v FROM c1)
            GROUP BY v.v
        ),
        c2 AS (SELECT v, benefit FROM b2
               ORDER BY benefit DESC, v LIMIT 1)
        SELECT 1 AS step, b1.v AS view_name, b1.benefit,
               b1.v = (SELECT v FROM c1) AS chosen
        FROM b1
        UNION ALL
        SELECT 2, b2.v, b2.benefit, b2.v = (SELECT v FROM c2)
        FROM b2
    """


@query("q468_mv_lattice_selection", oracle=_q468_oracle())
def q468_mv_lattice_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view SELECTION — the Harinarayan–Rajaraman–Ullman
    greedy over the (priority, month) aggregation lattice of orders:
    view sizes measured from the data (distinct group combos), a
    uniform 4-query workload (one per lattice node), linear cost =
    rows of the cheapest materialized ancestor (base table = |orders|
    until something is materialized). Each greedy step scores every
    remaining view's TOTAL benefit (Σ over queries of the cost drop it
    would cause, never negative) and picks the argmax with a
    deterministic name tiebreak — {_Q468_STEPS} steps unrolled as pure
    relational algebra (the q382 bounded-fixed-point discipline: each
    step is a ≤4-row aggregate + 1-row argmax). Step 1 must pick the
    top view 'pm' (it alone answers everything), step 2 the cheaper of
    the 1-D views priced against the NEW baseline — both pinned by
    test, with the greedy's benefit-monotonicity (step-2 max benefit ≤
    step-1 max) asserted.

    Scale shape: view sizes are one grouped-count pass each over the
    fact table (map-combined); the greedy itself runs on a 4-row
    lattice relation — the optimizer-side cost is metadata-grain no
    matter the corpus size."""
    orders = read_table(spark, sf_dir, "orders")
    month = F.expr(_Q468_MONTH)
    sizes = {
        "pm": orders.select("o_orderpriority", month.alias("mth"))
        .distinct()
        .count(),
        "p": orders.select("o_orderpriority").distinct().count(),
        "m": orders.select(month.alias("mth")).distinct().count(),
        "all": 1,
    }
    n = orders.count()
    views = spark.createDataFrame(
        [
            ("pm", 1, 1, sizes["pm"]),
            ("p", 1, 0, sizes["p"]),
            ("m", 0, 1, sizes["m"]),
            ("all", 0, 0, sizes["all"]),
        ],
        "v string, hp int, hm int, size long",
    )
    qs = spark.createDataFrame(
        [("pm", 1, 1), ("p", 1, 0), ("m", 0, 1), ("all", 0, 0)],
        "q string, qp int, qm int",
    )
    answers = (F.col("qp") <= F.col("hp")) & (F.col("qm") <= F.col("hm"))
    b1 = (
        views.crossJoin(F.broadcast(qs))
        .select(
            "v",
            F.when(answers, F.greatest(F.lit(0), F.lit(n) - F.col("size")))
            .otherwise(F.lit(0))
            .alias("ben"),
        )
        .groupBy("v")
        .agg(F.sum("ben").cast("long").alias("benefit"))
        .localCheckpoint(eager=False)
    )
    c1 = b1.orderBy(F.desc("benefit"), F.asc("v")).limit(1).select(
        F.col("v").alias("cv")
    )
    cost1 = (
        qs.crossJoin(F.broadcast(c1))
        .join(views.withColumnRenamed("v", "wv"), F.col("wv") == F.col("cv"))
        .select(
            "q",
            "qp",
            "qm",
            F.least(
                F.lit(n),
                F.when(answers, F.col("size")).otherwise(F.lit(n)),
            ).alias("c"),
        )
    )
    b2 = (
        views.crossJoin(F.broadcast(c1))
        .filter(F.col("v") != F.col("cv"))
        .crossJoin(
            F.broadcast(
                cost1.select(
                    F.col("q"), F.col("qp").alias("cqp"),
                    F.col("qm").alias("cqm"), "c",
                )
            )
        )
        .select(
            "v",
            F.greatest(
                F.lit(0),
                F.col("c")
                - F.when(
                    (F.col("cqp") <= F.col("hp"))
                    & (F.col("cqm") <= F.col("hm")),
                    F.least(F.col("c"), F.col("size")),
                ).otherwise(F.col("c")),
            ).alias("ben"),
        )
        .groupBy("v")
        .agg(F.sum("ben").cast("long").alias("benefit"))
        .localCheckpoint(eager=False)
    )
    c2 = b2.orderBy(F.desc("benefit"), F.asc("v")).limit(1).select(
        F.col("v").alias("cv")
    )
    s1 = b1.crossJoin(F.broadcast(c1)).select(
        F.lit(1).alias("step"),
        F.col("v").alias("view_name"),
        "benefit",
        (F.col("v") == F.col("cv")).alias("chosen"),
    )
    s2 = b2.crossJoin(F.broadcast(c2)).select(
        F.lit(2).alias("step"),
        F.col("v").alias("view_name"),
        "benefit",
        (F.col("v") == F.col("cv")).alias("chosen"),
    )
    return s1.unionByName(s2)


# ---------------------------------------------------------------------------
# q469 — incremental view maintenance: the join delta rule, proven
# ---------------------------------------------------------------------------


def _q469_oracle() -> str:
    return f"""
        SELECT {_Q468_MONTH} AS mth,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1
    """


@query("q469_ivm_join_delta", oracle=_q469_oracle())
def q469_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE for an aggregated join view — the
    delta rule Δ(O ⋈ L) = ΔO⋈L₀ ∪ O₀⋈ΔL ∪ ΔO⋈ΔL applied and PROVEN:
    orders and lineitem are each split into an old generation and a
    cross-cutting delta (orderkey-mod for O, line-number for L — the
    deltas deliberately do NOT align, so all three delta terms are
    non-empty and dropping any one breaks the hash). The maintained
    view (monthly revenue + line counts) is the group-wise merge of
    the old view and the three delta terms, with partial sums kept in
    exact DECIMAL until the final cast so the merged total is
    bit-identical to the oracle — which is the FROM-SCRATCH recompute
    over the complete tables (the q384 recompute-identity discipline:
    the strongest possible proof that the incremental path lost
    nothing).

    Scale shape: the delta terms join a small delta against the big
    old generation (broadcast/shuffle by key, each term pre-aggregated
    before the merge). In production the old-view term is a PERSISTED
    relation (q346's artifact-publish discipline) and only the three
    delta terms run per batch; this lane rebuilds the old term inline
    because it needs something to maintain in one call — the
    maintenance arithmetic, which is what the oracle proves, is
    identical either way."""
    from databricks_etl_spark.functions.scalars import MONEY

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr(_Q468_MONTH).alias("mth")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    d_o = F.col("o_orderkey") % 97 == 13
    d_l = F.col("l_linenumber") >= 5
    o_old, o_new = orders.filter(~d_o), orders.filter(d_o)
    l_old, l_new = li.filter(~d_l), li.filter(d_l)

    def term(o: DataFrame, ln: DataFrame) -> DataFrame:
        return (
            o.join(ln, o.o_orderkey == ln.l_orderkey)
            .groupBy("mth")
            .agg(
                F.sum(F.col("rev").cast(MONEY)).alias("rev_part"),
                F.count(F.lit(1)).alias("cnt"),
            )
        )

    merged = (
        term(o_old, l_old)
        .unionByName(term(o_new, l_old))
        .unionByName(term(o_old, l_new))
        .unionByName(term(o_new, l_new))
    )
    return merged.groupBy("mth").agg(
        F.sum("rev_part").cast("double").alias("revenue"),
        F.sum("cnt").cast("long").alias("n_lines"),
    )

# ---------------------------------------------------------------------------
# q470 — runtime-filter (semi-join reduction) pricing
# ---------------------------------------------------------------------------

_Q470_SEGMENT = "BUILDING"
_Q470_M_GRID = [256, 2048, 16384]


def _q470_oracle() -> str:
    from databricks_etl_spark.plans.queries_round11b import (
        _Q458_K,
        _q458_bit_sql,
    )

    per_m = []
    for m in _Q470_M_GRID:
        dbits = " UNION ALL ".join(
            f"SELECT {_q458_bit_sql(j, 'c_custkey', m)} AS bit FROM dim"
            for j in range(1, _Q458_K + 1)
        )
        kbits = " UNION ALL ".join(
            f"SELECT ck, {_q458_bit_sql(j, 'ck', m)} AS bit FROM ckeys"
            for j in range(1, _Q458_K + 1)
        )
        per_m.append(f"""
            SELECT {m} AS m_bits,
                   (SELECT CAST(SUM(oc.c) AS BIGINT) FROM (
                        SELECT kb.ck
                        FROM (SELECT DISTINCT ck, bit FROM ({kbits}) x) kb
                        LEFT JOIN (SELECT DISTINCT bit
                                   FROM ({dbits}) y) db
                          ON kb.bit = db.bit
                        GROUP BY kb.ck
                        HAVING COUNT(*) = COUNT(db.bit)
                   ) pass JOIN oc ON oc.ck = pass.ck)
                       AS bloom_pass_rows""")
    body = " UNION ALL ".join(per_m)
    return f"""
        WITH dim AS MATERIALIZED (
            SELECT c_custkey FROM customer
            WHERE c_mktsegment = '{_Q470_SEGMENT}'
        ),
        oc AS MATERIALIZED (
            SELECT o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY 1
        ),
        ckeys AS MATERIALIZED (SELECT DISTINCT ck FROM oc),
        base AS (
            SELECT
                (SELECT CAST(COUNT(*) AS BIGINT) FROM dim) AS dim_keys,
                (SELECT CAST(SUM(c) AS BIGINT) FROM oc) AS fact_rows,
                (SELECT CAST(SUM(oc.c) AS BIGINT) FROM oc
                 JOIN dim ON oc.ck = dim.c_custkey) AS true_pass_rows
        )
        SELECT u.m_bits, b.dim_keys, b.fact_rows, b.true_pass_rows,
               u.bloom_pass_rows,
               round(1.0 - CAST(u.bloom_pass_rows AS DOUBLE)
                     / b.fact_rows, 6) AS skipped_share,
               round(CAST(u.bloom_pass_rows - b.true_pass_rows AS DOUBLE)
                     / (b.fact_rows - b.true_pass_rows), 6)
                   AS measured_fpr
        FROM ({body}) u CROSS JOIN base b
    """


@query("q470_runtime_filter_pricing", oracle=_q470_oracle())
def q470_runtime_filter_pricing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RUNTIME FILTER pricing — the semi-join reduction Spark's own
    `spark.sql.optimizer.runtime.bloomFilter` performs: a filtered
    dimension (1/5 market segment of customer) builds a Bloom filter
    on its join keys, the fact scan (orders) drops rows whose key
    fails the filter BEFORE the shuffle. Blooms admit no false
    negatives (every true-pass row passes — pinned), so the price of
    a smaller filter is false positives: the sweep over
    {_Q470_M_GRID} bits measures fact rows passed vs the exact
    semi-join truth and reports the realized skip share and FPR —
    more bits monotonically buy a higher skip share (pinned). Hash
    family is q458's deterministic md5 bit model, so both engines
    compute identical filters.

    Scale shape: the filter is |dim_keys|×k DISTINCT bits (KBs — what
    actually broadcasts at 100 TB); the fact side is touched once,
    pre-aggregated per key (never expanded), and the pass check is a
    broadcast bit join."""
    from databricks_etl_spark.plans.queries_round11b import (
        _Q458_K,
        _q458_bit_col,
    )

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    dim = cust.filter(F.col("c_mktsegment") == _Q470_SEGMENT).select(
        "c_custkey"
    ).localCheckpoint(eager=False)
    oc = (
        orders.groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    base = (
        dim.agg(F.count(F.lit(1)).cast("long").alias("dim_keys"))
        .crossJoin(oc.agg(F.sum("c").cast("long").alias("fact_rows")))
        .crossJoin(
            oc.join(dim, oc.ck == dim.c_custkey).agg(
                F.sum("c").cast("long").alias("true_pass_rows")
            )
        )
        .localCheckpoint(eager=False)
    )
    out = []
    for m in _Q470_M_GRID:
        db = None
        kb = None
        for j in range(1, _Q458_K + 1):
            dj = dim.select(
                _q458_bit_col(j, "c_custkey", m).alias("bit")
            )
            kj = oc.select(
                "ck", _q458_bit_col(j, "ck", m).alias("bit")
            )
            db = dj if db is None else db.unionByName(dj)
            kb = kj if kb is None else kb.unionByName(kj)
        db = db.distinct()
        kb = kb.distinct()
        passing = (
            kb.join(F.broadcast(db), "bit", "left_semi")
            .groupBy("ck")
            .agg(F.count(F.lit(1)).alias("got"))
            .join(
                kb.groupBy("ck").agg(F.count(F.lit(1)).alias("need")),
                "ck",
            )
            .filter(F.col("got") == F.col("need"))
            .select("ck")
        )
        out.append(
            passing.join(oc, "ck")
            .agg(F.sum("c").cast("long").alias("bloom_pass_rows"))
            .select(F.lit(m).cast("int").alias("m_bits"), "*")
        )
    u = out[0]
    for d in out[1:]:
        u = u.unionByName(d)
    return u.crossJoin(F.broadcast(base)).select(
        "m_bits",
        "dim_keys",
        "fact_rows",
        "true_pass_rows",
        "bloom_pass_rows",
        F.round(
            1.0 - F.col("bloom_pass_rows").cast("double")
            / F.col("fact_rows"),
            6,
        ).alias("skipped_share"),
        F.round(
            (F.col("bloom_pass_rows") - F.col("true_pass_rows")).cast(
                "double"
            )
            / (F.col("fact_rows") - F.col("true_pass_rows")),
            6,
        ).alias("measured_fpr"),
    )


# ---------------------------------------------------------------------------
# q471 — incremental statistics maintenance (mergeable stats + ndv bounds)
# ---------------------------------------------------------------------------

_Q471_COLS = ["o_custkey", "o_totalprice"]


def _q471_oracle() -> str:
    parts = []
    for c in _Q471_COLS:
        parts.append(f"""
            SELECT '{c}' AS column_name,
                   o.n + d.n AS n_rows,
                   LEAST(o.mn, d.mn) AS min_v,
                   GREATEST(o.mx, d.mx) AS max_v,
                   CAST(o.s + d.s AS DOUBLE) AS sum_v,
                   f.nd AS ndv_exact,
                   GREATEST(o.nd, d.nd) AS ndv_lower,
                   o.nd + d.nd AS ndv_upper,
                   (GREATEST(o.nd, d.nd) <= f.nd
                    AND f.nd <= o.nd + d.nd) AS bounds_hold
            FROM (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(MIN({c}) AS DOUBLE) AS mn,
                       CAST(MAX({c}) AS DOUBLE) AS mx,
                       SUM(CAST({c} AS DECIMAL(28,6))) AS s,
                       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd
                FROM orders WHERE o_orderkey % 5 <> 2
            ) o CROSS JOIN (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(MIN({c}) AS DOUBLE) AS mn,
                       CAST(MAX({c}) AS DOUBLE) AS mx,
                       SUM(CAST({c} AS DECIMAL(28,6))) AS s,
                       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd
                FROM orders WHERE o_orderkey % 5 = 2
            ) d CROSS JOIN (
                SELECT CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd
                FROM orders
            ) f""")
    return " UNION ALL ".join(parts)


@query("q471_incremental_stats_maintenance", oracle=_q471_oracle())
def q471_incremental_stats_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q433's ANALYZE stats maintained INCREMENTALLY under an append:
    count/min/max/sum are associative, so the merged stats come from
    the old generation's frozen aggregates plus one pass over the
    delta — never a full re-ANALYZE. NDV is NOT associative; the
    honest incremental answer is the bracket [max(d_old, d_delta),
    d_old + d_delta], published alongside the exact full-scan NDV so
    the audit can certify the bracket holds (it must, set-theoretically
    — pinned; the planted split makes both bounds strict for
    o_custkey: shared keys across generations pull the union below
    the sum, and neither part alone covers it). Exact decimal
    accumulation keeps the merged sums bit-identical to a from-scratch
    aggregate.

    Scale shape: the old generation contributes a 1-row frozen
    aggregate (stats metadata); only the delta is scanned for the
    merge. The exact-NDV audit column is the one full pass — the
    thing a production system replaces with a mergeable HLL sketch,
    priced here as the bracket it certifies."""
    orders = read_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 5 != 2)
    delta = orders.filter(F.col("o_orderkey") % 5 == 2)

    def stats(df: DataFrame, c: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(c).cast("double").alias("mn"),
            F.max(c).cast("double").alias("mx"),
            F.sum(F.col(c).cast("decimal(28,6)")).alias("s"),
            F.countDistinct(c).cast("long").alias("nd"),
        )

    out = []
    for c in _Q471_COLS:
        o = stats(old, c)
        d = stats(delta, c).select(
            F.col("n").alias("dn"), F.col("mn").alias("dmn"),
            F.col("mx").alias("dmx"), F.col("s").alias("ds"),
            F.col("nd").alias("dnd"),
        )
        f = orders.agg(F.countDistinct(c).cast("long").alias("fnd"))
        out.append(
            o.crossJoin(d)
            .crossJoin(f)
            .select(
                F.lit(c).alias("column_name"),
                (F.col("n") + F.col("dn")).cast("long").alias("n_rows"),
                F.least("mn", "dmn").alias("min_v"),
                F.greatest("mx", "dmx").alias("max_v"),
                (F.col("s") + F.col("ds")).cast("double").alias("sum_v"),
                F.col("fnd").alias("ndv_exact"),
                F.greatest("nd", "dnd").cast("long").alias("ndv_lower"),
                (F.col("nd") + F.col("dnd")).cast("long").alias("ndv_upper"),
                (
                    (F.greatest("nd", "dnd") <= F.col("fnd"))
                    & (F.col("fnd") <= F.col("nd") + F.col("dnd"))
                ).alias("bounds_hold"),
            )
        )
    res = out[0]
    for d2 in out[1:]:
        res = res.unionByName(d2)
    return res

# ---------------------------------------------------------------------------
# q472 — PII scrub audit (planted emails/phones, redaction accounting)
# ---------------------------------------------------------------------------

_Q472_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_Q472_PHONE = "[0-9]{3}-[0-9]{4}"


def _q472_oracle() -> str:
    return f"""
        WITH planted AS MATERIALIZED (
            SELECT source,
                   text
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                || '@example.com now'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN ' call 555-' || CAST(1000 + doc_id % 89
                                                     AS VARCHAR)
                           ELSE '' END AS txt
            FROM documents
        ),
        scored AS (
            SELECT source,
                   CAST(len(regexp_extract_all(txt, '{_Q472_EMAIL}'))
                        AS BIGINT) AS emails,
                   CAST(len(regexp_extract_all(txt, '{_Q472_PHONE}'))
                        AS BIGINT) AS phones,
                   CAST(length(txt) - length(
                       regexp_replace(
                           regexp_replace(txt, '{_Q472_EMAIL}',
                                          '[EMAIL]', 'g'),
                           '{_Q472_PHONE}', '[PHONE]', 'g')
                   ) AS BIGINT) AS char_delta
            FROM planted
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN emails + phones > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_with_pii,
               CAST(SUM(emails) AS BIGINT) AS total_emails,
               CAST(SUM(phones) AS BIGINT) AS total_phones,
               CAST(SUM(char_delta) AS BIGINT) AS redacted_char_delta
        FROM scored GROUP BY source
    """


@query("q472_pii_scrub_audit", oracle=_q472_oracle())
def q472_pii_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus — the governance pass every
    training-data pipeline runs before release: detect email/phone
    shapes, redact them with typed placeholders, account for exactly
    what changed. The synthetic corpus carries no PII, so the lane
    PLANTS it deterministically (doc_id-mod emails and phone
    fragments, injected identically in both engines — the planted-
    violation discipline: a detector proven on a corpus where the
    ground truth is known). Per source: docs with any PII, total
    matches per class, and the redaction character delta (length
    before − after), which pins that the regex rewrite touched
    exactly the planted spans and nothing else.

    Scale shape: one map-side regex pass per document (JVM-side
    regexp_count/regexp_replace, no UDFs), one grouped rollup —
    embarrassingly parallel at any corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                (F.lit(1000) + F.col("doc_id") % 89).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    scored = docs.select(
        "source",
        F.regexp_count(txt, F.lit(_Q472_EMAIL)).cast("long").alias("emails"),
        F.regexp_count(txt, F.lit(_Q472_PHONE)).cast("long").alias("phones"),
        (
            F.length(txt)
            - F.length(
                F.regexp_replace(
                    F.regexp_replace(txt, _Q472_EMAIL, "[EMAIL]"),
                    _Q472_PHONE,
                    "[PHONE]",
                )
            )
        )
        .cast("long")
        .alias("char_delta"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("emails") + F.col("phones") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_pii"),
        F.sum("emails").cast("long").alias("total_emails"),
        F.sum("phones").cast("long").alias("total_phones"),
        F.sum("char_delta").cast("long").alias("redacted_char_delta"),
    )


# ---------------------------------------------------------------------------
# q473 — curriculum stage assignment (exact quantile staging of the corpus)
# ---------------------------------------------------------------------------

_Q473_STAGES = 5


def _q473_oracle() -> str:
    return f"""
        WITH staged AS (
            SELECT n_chars,
                   ntile({_Q473_STAGES}) OVER (
                       ORDER BY n_chars, doc_id) AS stage
            FROM documents
        )
        SELECT CAST(stage AS INT) AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars,
               CAST(SUM(n_chars) AS BIGINT) AS stage_chars,
               round(CAST(SUM(n_chars) AS DOUBLE)
                     / (SELECT SUM(n_chars) FROM documents), 6)
                   AS char_share
        FROM staged GROUP BY stage
    """


@query("q473_curriculum_stages", oracle=_q473_oracle())
def q473_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum STAGING for training order — shortest-to-longest
    document scheduling (the classic length-based curriculum): split
    the corpus into {_Q473_STAGES} exact equal-depth stages by
    document length (doc_id tiebreak → deterministic), publish each
    stage's size, length envelope and character share. Stages are
    disjoint, cover the corpus, and their length ranges are ordered
    (every later stage reads at-least-as-long documents — the
    curriculum contract). Built on :func:`exact_ntile`, so the stage
    boundaries are EXACT at any corpus size with no SinglePartition
    sort — the same kernel the physical-design lanes use, here doing
    training-data work.

    Scale shape: one two-phase distributed rank over the corpus + one
    grouped rollup."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    total = docs.agg(F.sum("n_chars").alias("tot"))
    staged = exact_ntile(
        docs, ["n_chars", "doc_id"], _Q473_STAGES, out_col="stage"
    )
    return (
        staged.groupBy(F.col("stage").cast("int").alias("stage"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.sum("n_chars").cast("long").alias("stage_chars"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "stage",
            "n_docs",
            "min_chars",
            "max_chars",
            "stage_chars",
            F.round(
                F.col("stage_chars").cast("double") / F.col("tot"), 6
            ).alias("char_share"),
        )
    )

# ---------------------------------------------------------------------------
# q474 — STREAMING incremental stats (q471 maintained at ingest)
# ---------------------------------------------------------------------------


def _q474_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    return QUERIES["q471_incremental_stats_maintenance"].oracle


_Q474_PARTIAL = (
    "column_name string, n long, mn double, mx double,"
    " s decimal(38,6), nd long"
)


def _make_q474_epoch(partials_path: str):
    """Epoch-idempotent per-column stats sink: each epoch lands its
    generation's 1-row aggregate per column (stats metadata, not
    data)."""

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        parts = []
        for c in _Q471_COLS:
            parts.append(
                batch_df.agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.min(c).cast("double").alias("mn"),
                    F.max(c).cast("double").alias("mx"),
                    F.sum(F.col(c).cast("decimal(28,6)"))
                    .cast("decimal(38,6)")
                    .alias("s"),
                    F.countDistinct(c).cast("long").alias("nd"),
                ).select(F.lit(c).alias("column_name"), "*")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        sinks.land(out, epoch_id, partials_path)

    return ingest


def _drain_q474_stats(
    spark: SparkSession, partials_path: str, sf_dir: str
) -> DataFrame:
    parts = sinks.landed(spark, partials_path, _Q474_PARTIAL)
    merged = parts.groupBy("column_name").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.min("mn").alias("min_v"),
        F.max("mx").alias("max_v"),
        F.sum("s").cast("double").alias("sum_v"),
        F.max("nd").cast("long").alias("ndv_lower"),
        F.sum("nd").cast("long").alias("ndv_upper"),
    )
    orders = read_table(spark, sf_dir, "orders")
    ex = None
    for c in _Q471_COLS:
        e = orders.agg(F.countDistinct(c).cast("long").alias("ndv_exact")
                       ).select(F.lit(c).alias("column_name"), "*")
        ex = e if ex is None else ex.unionByName(e)
    return merged.join(F.broadcast(ex), "column_name").select(
        "column_name", "n_rows", "min_v", "max_v", "sum_v",
        "ndv_exact", "ndv_lower", "ndv_upper",
        (
            (F.col("ndv_lower") <= F.col("ndv_exact"))
            & (F.col("ndv_exact") <= F.col("ndv_upper"))
        ).alias("bounds_hold"),
    )


@query("q474_streaming_stats_maintenance", oracle=_q474_oracle())
def q474_streaming_stats_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q471's incremental ANALYZE run AT INGEST: each micro-batch
    delivers one table generation (epoch 0 the old generation, epoch 1
    the append — q471's exact split), the epoch-idempotent sink lands
    that generation's per-column 1-row aggregates (stats metadata —
    bytes per epoch, never data), and the drain merges them exactly as
    the batch lane does: associative count/min/max/sum in exact
    decimal, NDV as the [max, sum] bracket certified against the
    exact full-scan value. Registered with q471's own oracle — the
    streaming stats fold must reproduce the batch merge bit-for-bit;
    slicing/replay pinned like q447/q453/q463.

    Scale shape: per-epoch cost is ONE aggregate over the arriving
    batch; the drain folds |epochs| 1-row frames."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    orders = read_table(spark, sf_dir, "orders")
    partials_path = fresh_scratch_dir("stats_partials_", key=sf_dir)
    sinks.seed(spark, partials_path, _Q474_PARTIAL)
    ingest = _make_q474_epoch(partials_path)
    ingest(orders.filter(F.col("o_orderkey") % 5 != 2), 0)
    ingest(orders.filter(F.col("o_orderkey") % 5 == 2), 1)
    return _drain_q474_stats(spark, partials_path, sf_dir)


# ---------------------------------------------------------------------------
# q475 — clustering-depth metric (zone overlap per layout)
# ---------------------------------------------------------------------------

_Q475_FILES = 20
_Q475_LAYOUT_KEYS = {
    "l_shipday": "sd",
    "zorder": "z",
    "l_orderkey": "l_orderkey",  # the unclustered control
}


def _q475_oracle() -> str:
    n_cells = 1 << _Q466_BITS
    z = _q466_interleave("qx", "qy", "//")
    zones = []
    for layout, key in _Q475_LAYOUT_KEYS.items():
        zones.append(f"""
            SELECT '{layout}' AS layout, f.fid,
                   MIN(f.sd) AS mn_sd, MAX(f.sd) AS mx_sd
            FROM (
                SELECT qz.*, ntile({_Q475_FILES}) OVER (
                    ORDER BY qz.{key}, qz.l_orderkey, qz.l_linenumber
                ) AS fid
                FROM qz
            ) f GROUP BY f.fid""")
    return f"""
        WITH li AS MATERIALIZED (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(l_shipdate AS DATE)) AS DOUBLE) AS sd,
                   CAST(l_partkey AS DOUBLE) AS pk,
                   l_orderkey, l_linenumber
            FROM lineitem
        ),
        st AS (
            SELECT MIN(sd) AS mnsd, MAX(sd) AS mxsd,
                   MIN(pk) AS mnpk, MAX(pk) AS mxpk
            FROM li
        ),
        qz AS MATERIALIZED (
            SELECT sd, pk, l_orderkey, l_linenumber, {z} AS z
            FROM (
                SELECT li.*,
                       LEAST(CAST(FLOOR((sd - st.mnsd)
                           / ((st.mxsd - st.mnsd) / {n_cells}.0))
                           AS BIGINT), {n_cells - 1}) AS qx,
                       LEAST(CAST(FLOOR((pk - st.mnpk)
                           / ((st.mxpk - st.mnpk) / {n_cells}.0))
                           AS BIGINT), {n_cells - 1}) AS qy
                FROM li CROSS JOIN st
            )
        ),
        zones AS MATERIALIZED ({" UNION ALL ".join(zones)}),
        depth AS (
            SELECT a.layout, a.fid,
                   CAST(COUNT(*) AS BIGINT) AS d
            FROM zones a JOIN zones b
              ON a.layout = b.layout
             AND a.mn_sd <= b.mx_sd AND a.mx_sd >= b.mn_sd
            GROUP BY a.layout, a.fid
        )
        SELECT layout,
               CAST({_Q475_FILES} AS BIGINT) AS n_files,
               round(AVG(CAST(d AS DOUBLE)), 6) AS avg_overlap_depth,
               CAST(MAX(d) AS BIGINT) AS max_overlap_depth
        FROM depth GROUP BY layout
    """


@query("q475_clustering_depth_metric", oracle=_q475_oracle())
def q475_clustering_depth_metric(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CLUSTERING-DEPTH metric a real OPTIMIZE reports (how many
    files' zones overlap each file's zone on the query dimension —
    depth 1 = perfectly clustered, depth = |files| = no clustering at
    all): measured on the ship-day dimension for three layouts — the
    ship-day sort (near-ideal, only boundary-day ties overlap), the
    z-order layout (bounded widening: each file's day zone spans its
    Morton region), and the orderkey layout (the unclustered control
    where every file covers the whole day range — depth pinned at
    {_Q475_FILES}). This is the maintenance trigger metric: recluster
    when depth drifts up. Strict ordering ship-day < zorder <
    orderkey pinned by test.

    Scale shape: depth is a |files|² zone self-join per layout —
    metadata-grain (the table format's stats), independent of data
    size; layouts via :func:`exact_ntile`."""
    n_cells = 1 << _Q466_BITS
    li = read_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("double")
        .alias("sd"),
        F.col("l_partkey").cast("double").alias("pk"),
        "l_orderkey",
        "l_linenumber",
    )
    st = li.agg(
        F.min("sd").alias("mnsd"), F.max("sd").alias("mxsd"),
        F.min("pk").alias("mnpk"), F.max("pk").alias("mxpk"),
    ).localCheckpoint(eager=False)
    quant = li.crossJoin(F.broadcast(st)).select(
        "sd", "pk", "l_orderkey", "l_linenumber",
        F.expr(
            f"LEAST(CAST(FLOOR((sd - mnsd) / ((mxsd - mnsd) / {n_cells}.0))"
            f" AS BIGINT), {n_cells - 1})"
        ).alias("qx"),
        F.expr(
            f"LEAST(CAST(FLOOR((pk - mnpk) / ((mxpk - mnpk) / {n_cells}.0))"
            f" AS BIGINT), {n_cells - 1})"
        ).alias("qy"),
    )
    qz = quant.select(
        "sd", "pk", "l_orderkey", "l_linenumber",
        F.expr(_q466_interleave("qx", "qy", "DIV")).alias("z"),
    ).localCheckpoint(eager=False)
    zones = []
    for layout, key in _Q475_LAYOUT_KEYS.items():
        zones.append(
            exact_ntile(
                qz, [key, "l_orderkey", "l_linenumber"], _Q475_FILES,
                out_col="fid",
            )
            .groupBy("fid")
            .agg(
                F.min("sd").alias("mn_sd"), F.max("sd").alias("mx_sd")
            )
            .select(F.lit(layout).alias("layout"), "*")
        )
    zdf = zones[0]
    for d in zones[1:]:
        zdf = zdf.unionByName(d)
    zdf = zdf.localCheckpoint(eager=False)
    b = zdf.select(
        F.col("layout").alias("b_layout"),
        F.col("mn_sd").alias("b_mn"),
        F.col("mx_sd").alias("b_mx"),
    )
    depth = (
        zdf.join(
            F.broadcast(b),
            (F.col("layout") == F.col("b_layout"))
            & (F.col("mn_sd") <= F.col("b_mx"))
            & (F.col("mx_sd") >= F.col("b_mn")),
        )
        .groupBy("layout", "fid")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    return depth.groupBy("layout").agg(
        F.lit(_Q475_FILES).cast("long").alias("n_files"),
        F.round(F.avg(F.col("d").cast("double")), 6).alias(
            "avg_overlap_depth"
        ),
        F.max("d").cast("long").alias("max_overlap_depth"),
    )

# ---------------------------------------------------------------------------
# q476 — cache admission (hit-ranked prefix under a row budget)
# ---------------------------------------------------------------------------

_Q476_CAPACITY_SHARE = 0.25  # cache holds 25% of table rows


def _q476_oracle() -> str:
    preds = ", ".join(
        f"({i}, '{c}', {flo}, {fhi})" for i, c, flo, fhi in _Q466_PREDS
        if c == "sd"
    )
    return f"""
        WITH li AS MATERIALIZED (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(l_shipdate AS DATE)) AS DOUBLE) AS sd,
                   l_orderkey, l_linenumber
            FROM lineitem
        ),
        st AS (SELECT MIN(sd) AS mnsd, MAX(sd) AS mxsd,
                      CAST(COUNT(*) AS BIGINT) AS n FROM li),
        fl AS MATERIALIZED (
            SELECT sd, ntile({_Q466_FILES}) OVER (
                       ORDER BY sd, l_orderkey, l_linenumber) AS fid
            FROM li
        ),
        zones AS (
            SELECT fid, MIN(sd) AS mn_sd, MAX(sd) AS mx_sd,
                   CAST(COUNT(*) AS BIGINT) AS rws
            FROM fl GROUP BY fid
        ),
        pf(pid, col, flo, fhi) AS (VALUES {preds}),
        hits AS (
            SELECT z.fid, z.rws,
                   CAST(SUM(CASE WHEN z.mn_sd <= st.mnsd
                                      + p.fhi * (st.mxsd - st.mnsd)
                                  AND z.mx_sd >= st.mnsd
                                      + p.flo * (st.mxsd - st.mnsd)
                             THEN 1 ELSE 0 END) AS BIGINT) AS h
            FROM zones z CROSS JOIN pf p CROSS JOIN st
            GROUP BY z.fid, z.rws
        ),
        ranked AS (
            SELECT fid, rws, h,
                   COALESCE(SUM(rws) OVER (
                       ORDER BY h DESC, fid
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_before
            FROM hits
        )
        SELECT fid, rws AS file_rows, h AS workload_hits,
               (cum_before + rws
                <= CAST({_Q476_CAPACITY_SHARE} * st.n AS BIGINT))
                   AS cached,
               CAST(cum_before AS BIGINT) AS cum_rows_before
        FROM ranked CROSS JOIN st
    """


@query("q476_cache_admission_plan", oracle=_q476_oracle())
def q476_cache_admission_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHE ADMISSION for the scan layer (the disk-cache / buffer-pool
    decision a lakehouse runtime makes): rank files by how many
    workload predicates their zone serves (q466's ship-day pricing),
    admit the hit-ranked prefix that fits a {_Q476_CAPACITY_SHARE:.0%}
    row budget — frequency-greedy admission with a deterministic fid
    tiebreak, the static Belady stand-in. Output is the per-file plan:
    hits, rows, admitted or not, and the running total that justified
    the cut (the prefix sum runs over the |files| metadata relation,
    never the data).

    Scale shape: one exact-ntile layout pass, one |files| × |preds|
    broadcast pricing, one ≤|files|-row ordered prefix — the data is
    scanned exactly once at any scale."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("double")
        .alias("sd"),
        "l_orderkey",
        "l_linenumber",
    )
    st = li.agg(
        F.min("sd").alias("mnsd"), F.max("sd").alias("mxsd"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).localCheckpoint(eager=False)
    zones = (
        exact_ntile(li, ["sd", "l_orderkey", "l_linenumber"], _Q466_FILES,
                    out_col="fid")
        .groupBy("fid")
        .agg(
            F.min("sd").alias("mn_sd"), F.max("sd").alias("mx_sd"),
            F.count(F.lit(1)).cast("long").alias("rws"),
        )
    )
    pf = spark.createDataFrame(
        [p for p in _Q466_PREDS if p[1] == "sd"],
        "pid int, col string, flo double, fhi double",
    )
    hit = (
        F.col("mn_sd")
        <= F.col("mnsd") + F.col("fhi") * (F.col("mxsd") - F.col("mnsd"))
    ) & (
        F.col("mx_sd")
        >= F.col("mnsd") + F.col("flo") * (F.col("mxsd") - F.col("mnsd"))
    )
    hits = (
        zones.crossJoin(F.broadcast(pf))
        .crossJoin(F.broadcast(st))
        .select("fid", "rws", F.when(hit, 1).otherwise(0).alias("hh"))
        .groupBy("fid", "rws")
        .agg(F.sum("hh").cast("long").alias("h"))
    )
    from pyspark.sql import Window

    # ≤|files| rows: the ordered prefix runs over file metadata only
    w = Window.orderBy(F.desc("h"), F.asc("fid")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = hits.select(
        "fid", "rws", "h",
        F.coalesce(F.sum("rws").over(w), F.lit(0)).alias("cum_before"),
    )
    return ranked.crossJoin(F.broadcast(st)).select(
        "fid",
        F.col("rws").alias("file_rows"),
        F.col("h").alias("workload_hits"),
        (
            F.col("cum_before") + F.col("rws")
            <= (F.lit(_Q476_CAPACITY_SHARE) * F.col("n")).cast("long")
        ).alias("cached"),
        F.col("cum_before").cast("long").alias("cum_rows_before"),
    )


# ---------------------------------------------------------------------------
# q477 — int8 embedding quantization audit
# ---------------------------------------------------------------------------

_Q477_DIM = 64


def _q477_dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {_Q477_DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _q477_oracle() -> str:
    dot_qq = _q477_dot_sql("rq", "rq")
    dot_ee = _q477_dot_sql("fe", "fe")
    dot_qe = _q477_dot_sql("rq", "fe")
    return f"""
        WITH fl AS MATERIALIZED (
            SELECT vec_id, label,
                   list_transform(embedding,
                                  x -> CAST(x AS DOUBLE)) AS fe
            FROM embeddings
        ),
        sc AS MATERIALIZED (
            SELECT vec_id, label, fe,
                   list_max(list_transform(fe, x -> abs(x))) / 127.0
                       AS scale
            FROM fl
        ),
        rq AS MATERIALIZED (
            SELECT vec_id, label, fe, scale,
                   list_transform(fe, x ->
                       GREATEST(-127.0, LEAST(127.0,
                           FLOOR(x / scale + 0.5))) * scale) AS rq
            FROM sc WHERE scale > 0
        ),
        per_vec AS (
            SELECT vec_id, label,
                   round(({dot_qe}) / (sqrt({dot_qq}) * sqrt({dot_ee})),
                         6) AS fidelity
            FROM rq
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(MIN(fidelity) AS DOUBLE) AS min_fidelity,
               round(CAST(SUM(CAST(fidelity AS DECIMAL(28,6)))
                          AS DOUBLE) / COUNT(*), 6) AS avg_fidelity
        FROM per_vec GROUP BY label
    """


@query("q477_int8_quantization_audit", oracle=_q477_oracle())
def q477_int8_quantization_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INT8 symmetric quantization of the embedding corpus, audited —
    the 4× storage/bandwidth cut every large-scale vector store takes
    (per-vector absmax scale, values rounded to [-127, 127], stored as
    one byte + one scale): reconstruct, measure per-vector cosine
    fidelity against the original, and publish the per-label fidelity
    envelope (min + exact-decimal mean). Rounding is spelled
    FLOOR(x/scale + 0.5) in BOTH engines — identical double
    arithmetic, no round-half-even ambiguity — and the dot products
    are the established sequential folds, so the audit is
    hash-exact cross-engine. High fidelity (>0.99 here) is what
    licenses serving ANN from int8 — the q412 JL rung's storage
    sibling.

    Scale shape: one map pass per vector (JVM-side higher-order array
    functions, no UDFs), one grouped rollup."""
    e = read_table(spark, sf_dir, "embeddings")
    fe = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sc = e.select(
        "vec_id",
        "label",
        fe.alias("fe"),
    ).withColumn(
        "scale",
        F.array_max(F.transform(F.col("fe"), F.abs)) / F.lit(127.0),
    ).filter(F.col("scale") > 0)
    rq = sc.withColumn(
        "rq",
        F.transform(
            F.col("fe"),
            lambda x: F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.floor(x / F.col("scale") + 0.5)),
            )
            * F.col("scale"),
        ),
    )

    def dot(a: str, b: str):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    per_vec = rq.select(
        "label",
        F.round(
            dot("rq", "fe") / (F.sqrt(dot("rq", "rq")) * F.sqrt(dot("fe", "fe"))),
            6,
        ).alias("fidelity"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("fidelity").cast("double").alias("min_fidelity"),
        F.round(
            F.sum(F.col("fidelity").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_fidelity"),
    )

# ---------------------------------------------------------------------------
# q478 — the physical-design gate (q466 ∧ q467 ∧ q470 ∧ q475, fail-closed)
# ---------------------------------------------------------------------------

_Q478_AMP_MIN = 2.0   # scattered CoW write-amp above this ⇒ DVs advised
_Q478_SKIP_MIN = 0.5  # the largest runtime filter must skip ≥ half


def _q478_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    o466 = QUERIES["q466_zorder_layout_pricing"].oracle
    o467 = QUERIES["q467_deletion_vector_pricing"].oracle
    o470 = QUERIES["q470_runtime_filter_pricing"].oracle
    o475 = QUERIES["q475_clustering_depth_metric"].oracle
    m_max = max(_Q470_M_GRID)
    return f"""
        SELECT *,
               (layout_gate AND delete_gate AND filter_gate
                AND depth_gate) AS physical_design_go
        FROM (
            SELECT
                (SELECT best FROM ({o466}) z
                 WHERE z.layout = 'zorder') AS layout_gate,
                (SELECT write_amplification FROM ({o467}) d
                 WHERE d.delete_kind = 'scattered'
                   AND d.strategy = 'copy_on_write')
                    AS scattered_cow_amplification,
                (SELECT write_amplification > {_Q478_AMP_MIN}
                 FROM ({o467}) d
                 WHERE d.delete_kind = 'scattered'
                   AND d.strategy = 'copy_on_write') AS delete_gate,
                (SELECT skipped_share FROM ({o470}) r
                 WHERE r.m_bits = {m_max}) AS runtime_filter_skip_share,
                (SELECT skipped_share >= {_Q478_SKIP_MIN}
                 FROM ({o470}) r
                 WHERE r.m_bits = {m_max}) AS filter_gate,
                (SELECT a.avg_overlap_depth FROM ({o475}) a
                 WHERE a.layout = 'zorder') AS depth_zorder,
                (SELECT a.avg_overlap_depth FROM ({o475}) a
                 WHERE a.layout = 'l_orderkey') AS depth_control,
                (SELECT (SELECT a.avg_overlap_depth FROM ({o475}) a
                         WHERE a.layout = 'zorder')
                        < (SELECT a.avg_overlap_depth FROM ({o475}) a
                           WHERE a.layout = 'l_orderkey')) AS depth_gate
        ) g
    """


@query("q478_physical_design_gate", oracle=_q478_oracle())
def q478_physical_design_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-12 physical-design family composed into ONE fail-closed
    ship gate (the q430 discipline): the table's layout may ship iff
    (1) z-order is the measured-best layout for the mixed workload
    (q466), (2) scattered deletes really exhibit the write
    amplification (> {_Q478_AMP_MIN}×) that justifies deletion vectors
    (q467), (3) the largest runtime filter delivers at least a
    {_Q478_SKIP_MIN:.0%} fact-scan skip (q470), and (4) the z-order
    layout's clustering depth beats the unclustered control (q475).
    Components' oracles are embedded verbatim so the gate cannot
    drift from what it audits; any planted regression in any
    component flips the verdict to NO-GO (fail-closed, pinned by
    test with a tightened threshold).

    Scale shape: four 1-row component verdicts combined by 1-row
    crossJoins — the components carry all the data cost."""
    z = q466_zorder_layout_pricing(spark, sf_dir).filter(
        F.col("layout") == "zorder"
    ).select(F.col("best").alias("layout_gate"))
    d = q467_deletion_vector_pricing(spark, sf_dir).filter(
        (F.col("delete_kind") == "scattered")
        & (F.col("strategy") == "copy_on_write")
    ).select(
        F.col("write_amplification").alias("scattered_cow_amplification"),
        (F.col("write_amplification") > _Q478_AMP_MIN).alias("delete_gate"),
    )
    r = q470_runtime_filter_pricing(spark, sf_dir).filter(
        F.col("m_bits") == max(_Q470_M_GRID)
    ).select(
        F.col("skipped_share").alias("runtime_filter_skip_share"),
        (F.col("skipped_share") >= _Q478_SKIP_MIN).alias("filter_gate"),
    )
    depths = q475_clustering_depth_metric(spark, sf_dir).localCheckpoint(eager=False)
    dz = depths.filter(F.col("layout") == "zorder").select(
        F.col("avg_overlap_depth").alias("depth_zorder")
    )
    dc = depths.filter(F.col("layout") == "l_orderkey").select(
        F.col("avg_overlap_depth").alias("depth_control")
    )
    g = (
        z.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(r))
        .crossJoin(F.broadcast(dz))
        .crossJoin(F.broadcast(dc))
        .withColumn(
            "depth_gate", F.col("depth_zorder") < F.col("depth_control")
        )
    )
    return g.select(
        "layout_gate",
        "scattered_cow_amplification",
        "delete_gate",
        "runtime_filter_skip_share",
        "filter_gate",
        "depth_zorder",
        "depth_control",
        "depth_gate",
        (
            F.col("layout_gate")
            & F.col("delete_gate")
            & F.col("filter_gate")
            & F.col("depth_gate")
        ).alias("physical_design_go"),
    )


# ---------------------------------------------------------------------------
# q479 — erasure-compliance audit (the right-to-be-forgotten pipeline)
# ---------------------------------------------------------------------------


def _q479_oracle() -> str:
    return """
        WITH req AS MATERIALIZED (
            SELECT c_custkey FROM customer WHERE c_custkey % 53 = 7
        ),
        del_o AS (
            SELECT o_orderkey FROM orders
            JOIN req ON o_custkey = c_custkey
        )
        SELECT 'orders' AS table_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS rows_before,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM del_o)
                   AS rows_to_delete,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                WHERE o.o_custkey IN (SELECT c_custkey FROM req)
                  AND o.o_orderkey NOT IN
                      (SELECT o_orderkey FROM del_o))
                   AS rows_after_matching,
               TRUE AS erasure_complete
        UNION ALL
        SELECT 'lineitem',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)),
               CAST(0 AS BIGINT),
               TRUE
    """


@query("q479_erasure_compliance_audit", oracle=_q479_oracle())
def q479_erasure_compliance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The RIGHT-TO-BE-FORGOTTEN pipeline, audited end-to-end: a
    planted erasure-request set (every 53rd customer), the cascade
    delete it implies (the customers' orders, those orders' line
    items — referential erasure, not just the keyed rows), and the
    compliance re-scan: after applying the anti-join deletes, NO row
    matching any request may remain in either table
    (rows_after_matching computed from the actually-deleted remainder
    — zero by measurement, not by assumption). One row per table with
    before/deleted/after counts; the J4 left-anti delete doing
    governance work.

    Scale shape: the request set broadcasts (tiny); deletes are
    left-anti equi-joins; the compliance re-scan is a semi-join count
    over the remainder — each fact table touched twice."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    req = cust.filter(F.col("c_custkey") % 53 == 7).select("c_custkey")
    del_o = orders.join(
        F.broadcast(req), orders.o_custkey == req.c_custkey
    ).select("o_orderkey").localCheckpoint(eager=False)
    remaining_o = orders.join(F.broadcast(del_o), "o_orderkey", "left_anti")
    remaining_l = li.join(
        F.broadcast(del_o), li.l_orderkey == del_o.o_orderkey, "left_anti"
    )
    o_row = (
        orders.agg(F.count(F.lit(1)).cast("long").alias("rows_before"))
        .crossJoin(
            del_o.agg(F.count(F.lit(1)).cast("long").alias("rows_to_delete"))
        )
        .crossJoin(
            remaining_o.join(
                F.broadcast(req),
                remaining_o.o_custkey == req.c_custkey,
                "left_semi",
            ).agg(F.count(F.lit(1)).cast("long").alias("rows_after_matching"))
        )
        .select(
            F.lit("orders").alias("table_name"),
            "rows_before",
            "rows_to_delete",
            "rows_after_matching",
            (F.col("rows_after_matching") == 0).alias("erasure_complete"),
        )
    )
    l_row = (
        li.agg(F.count(F.lit(1)).cast("long").alias("rows_before"))
        .crossJoin(
            li.join(
                F.broadcast(del_o),
                li.l_orderkey == del_o.o_orderkey,
                "left_semi",
            ).agg(F.count(F.lit(1)).cast("long").alias("rows_to_delete"))
        )
        .crossJoin(
            remaining_l.join(
                F.broadcast(del_o),
                remaining_l.l_orderkey == del_o.o_orderkey,
                "left_semi",
            ).agg(F.count(F.lit(1)).cast("long").alias("rows_after_matching"))
        )
        .select(
            F.lit("lineitem").alias("table_name"),
            "rows_before",
            "rows_to_delete",
            "rows_after_matching",
            (F.col("rows_after_matching") == 0).alias("erasure_complete"),
        )
    )
    return o_row.unionByName(l_row)

# ---------------------------------------------------------------------------
# Round-12b lanes (defer flags cleared at r13 start): landed after the round-12 window filled —
# queued for the round-13 driver window, locally parity-proven meanwhile.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# q480 — join-strategy cost matrix (broadcast / shuffle-hash / sort-merge)
# ---------------------------------------------------------------------------

_Q480_EXECUTORS = 32      # broadcast replicates the build side E times
_Q480_SHUFFLE_OH = 20000  # per-shuffle stage overhead, row-equivalents
_Q480_EDGES = [
    ("nation_customer", "nation", "customer"),
    ("customer_orders", "customer", "orders"),
    ("orders_lineitem", "orders", "lineitem"),
]


def _q480_oracle() -> str:
    edges = []
    for name, build, probe in _Q480_EDGES:
        edges.append(f"""
            SELECT '{name}' AS edge,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM {build})
                       AS n_build,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM {probe})
                       AS n_probe""")
    return f"""
        WITH e AS MATERIALIZED ({" UNION ALL ".join(edges)}),
        costs AS (
            SELECT e.edge, e.n_build, e.n_probe,
                   s.strategy,
                   CASE s.strategy
                        WHEN 'broadcast'
                            THEN CAST(e.n_build * {_Q480_EXECUTORS}
                                      AS BIGINT)
                        WHEN 'shuffle_hash'
                            THEN e.n_build + e.n_probe
                                 + {_Q480_SHUFFLE_OH}
                        ELSE e.n_build
                             * CAST(CEIL(log2(GREATEST(e.n_build, 2)))
                                    AS BIGINT)
                             + e.n_probe
                             * CAST(CEIL(log2(GREATEST(e.n_probe, 2)))
                                    AS BIGINT)
                             + {_Q480_SHUFFLE_OH}
                   END AS est_cost
            FROM e CROSS JOIN (
                SELECT UNNEST(['broadcast', 'shuffle_hash', 'sort_merge'])
                    AS strategy) s
        )
        SELECT edge, strategy, n_build, n_probe, est_cost,
               est_cost = MIN(est_cost) OVER (PARTITION BY edge)
                   AS chosen
        FROM costs
    """


@query("q480_join_strategy_matrix", oracle=_q480_oracle())
def q480_join_strategy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The physical-JOIN decision q436's broadcast threshold is one
    axis of, priced as a full matrix: for every edge of the TPC-H
    chain, cost broadcast (build side replicated to every executor,
    NO shuffle stage — wins while E·|build| is under the stage
    overhead a shuffle pays), shuffle-hash (both sides moved once +
    the stage overhead), and sort-merge (shuffle + the log₂ sort
    factor — the robustness fallback, never the cost minimum here and
    the matrix shows why). The minimum flips exactly where it should:
    the fixed-size dimension edge→broadcast, the fact-fact
    edge→shuffle-hash (pinned by test). The log₂ is computed as
    CEIL(log2(n)) on exact counts in both engines.

    Scale shape: three 1-row count aggregates and a 9-row literal
    matrix — the decision runs on stats, as it must."""
    stats = []
    for name, build, probe in _Q480_EDGES:
        b = read_table(spark, sf_dir, build).count()
        p = read_table(spark, sf_dir, probe).count()
        stats.append((name, b, p))
    e = spark.createDataFrame(stats, "edge string, n_build long, n_probe long")
    s = spark.createDataFrame(
        [("broadcast",), ("shuffle_hash",), ("sort_merge",)],
        "strategy string",
    )
    lg = lambda c: F.ceil(F.log2(F.greatest(F.col(c), F.lit(2)))).cast("long")  # noqa: E731
    cost = (
        F.when(
            F.col("strategy") == "broadcast",
            F.col("n_build") * _Q480_EXECUTORS,
        )
        .when(
            F.col("strategy") == "shuffle_hash",
            F.col("n_build") + F.col("n_probe") + _Q480_SHUFFLE_OH,
        )
        .otherwise(
            F.col("n_build") * lg("n_build")
            + F.col("n_probe") * lg("n_probe")
            + _Q480_SHUFFLE_OH
        )
        .cast("long")
    )
    costs = e.crossJoin(F.broadcast(s)).select(
        "edge", "strategy", "n_build", "n_probe", cost.alias("est_cost")
    ).localCheckpoint(eager=False)
    from pyspark.sql import Window

    w = Window.partitionBy("edge")
    return costs.select(
        "*",
        (F.col("est_cost") == F.min("est_cost").over(w)).alias("chosen"),
    )


# ---------------------------------------------------------------------------
# q481 — partition-granularity advisor (day / month / year / none)
# ---------------------------------------------------------------------------

_Q481_OPEN = 50    # per-partition open/list overhead, row-equivalents
_Q481_LIST = 2     # per-existing-partition metadata listing cost
# workload: date ranges as fractions of the orderdate span
_Q481_PREDS = [(1, 0.10, 0.12), (2, 0.50, 0.55), (3, 0.80, 0.81)]


def _q481_grain_sql(g: str) -> str:
    if g == "day":
        return "CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)"
    if g == "month":
        return "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)"
    if g == "year":
        return "CAST(year(o_orderdate) AS BIGINT)"
    return "CAST(0 AS BIGINT)"


def _q481_oracle() -> str:
    preds = ", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _Q481_PREDS)
    grains = []
    for g in ("day", "month", "year", "none"):
        grains.append(f"""
            SELECT '{g}' AS granularity, {_q481_grain_sql(g)} AS pt,
                   CAST(datediff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE)) AS DOUBLE) AS d
            FROM orders""")
    return f"""
        WITH rows_g AS MATERIALIZED (
            {" UNION ALL ".join(grains)}
        ),
        st AS (SELECT MIN(d) AS mnd, MAX(d) AS mxd FROM rows_g
               WHERE granularity = 'none'),
        parts AS MATERIALIZED (
            SELECT granularity, pt,
                   CAST(COUNT(*) AS BIGINT) AS rws,
                   MIN(d) AS mn_d, MAX(d) AS mx_d
            FROM rows_g GROUP BY granularity, pt
        ),
        pf(pid, flo, fhi) AS (VALUES {preds}),
        scan AS (
            SELECT p.granularity,
                   CAST(SUM(CASE WHEN p.mn_d <= st.mnd
                                      + f.fhi * (st.mxd - st.mnd)
                                  AND p.mx_d >= st.mnd
                                      + f.flo * (st.mxd - st.mnd)
                             THEN 1 ELSE 0 END) AS BIGINT) AS parts_scanned,
                   CAST(SUM(CASE WHEN p.mn_d <= st.mnd
                                      + f.fhi * (st.mxd - st.mnd)
                                  AND p.mx_d >= st.mnd
                                      + f.flo * (st.mxd - st.mnd)
                             THEN p.rws ELSE 0 END) AS BIGINT)
                       AS rows_scanned
            FROM parts p CROSS JOIN pf f CROSS JOIN st
            GROUP BY p.granularity
        ),
        card AS (
            SELECT granularity, CAST(COUNT(*) AS BIGINT) AS n_partitions
            FROM parts GROUP BY granularity
        ),
        cost AS (
            SELECT s.granularity, c.n_partitions, s.parts_scanned,
                   s.rows_scanned,
                   s.rows_scanned + {_Q481_OPEN} * s.parts_scanned
                       + {_Q481_LIST} * c.n_partitions AS est_cost
            FROM scan s JOIN card c ON s.granularity = c.granularity
        )
        SELECT granularity, n_partitions, parts_scanned, rows_scanned,
               est_cost,
               est_cost = (SELECT MIN(est_cost) FROM cost) AS best
        FROM cost
    """


@query("q481_partition_granularity_advisor", oracle=_q481_oracle())
def q481_partition_granularity_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Directory-partitioning GRANULARITY, priced end to end — the
    decision behind `PARTITIONED BY (date_trunc(...))`: finer grains
    prune harder (day scans only the predicate's days) but multiply
    partition count (listing cost, small files); coarser grains list
    cheaply but over-scan. The cost model charges rows scanned +
    per-scanned-partition open overhead + per-existing-partition
    listing — the three terms every lakehouse capacity doc warns
    about. Predicates are range-fractions of the date span
    (scale-free); the advisor must pick a middle grain — 'none' loses
    on scan volume, 'day' loses on partition count (ordering pinned
    by test).

    Scale shape: one grouped pass per grain builds partition stats
    (metadata); pricing is |partitions| × |preds| on those stats."""
    orders = read_table(spark, sf_dir, "orders")
    d = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("double")
    grain_exprs = {
        "day": d.cast("long"),
        "month": (
            F.year("o_orderdate") * 12 + F.month("o_orderdate")
        ).cast("long"),
        "year": F.year("o_orderdate").cast("long"),
        "none": F.lit(0).cast("long"),
    }
    rows_g = None
    for g, pt in grain_exprs.items():
        part = orders.select(
            F.lit(g).alias("granularity"), pt.alias("pt"), d.alias("d")
        )
        rows_g = part if rows_g is None else rows_g.unionByName(part)
    st = orders.agg(
        F.min(d).alias("mnd"), F.max(d).alias("mxd")
    ).localCheckpoint(eager=False)
    parts = rows_g.groupBy("granularity", "pt").agg(
        F.count(F.lit(1)).cast("long").alias("rws"),
        F.min("d").alias("mn_d"),
        F.max("d").alias("mx_d"),
    ).localCheckpoint(eager=False)
    pf = spark.createDataFrame(
        _Q481_PREDS, "pid int, flo double, fhi double"
    )
    hit = (
        F.col("mn_d")
        <= F.col("mnd") + F.col("fhi") * (F.col("mxd") - F.col("mnd"))
    ) & (
        F.col("mx_d")
        >= F.col("mnd") + F.col("flo") * (F.col("mxd") - F.col("mnd"))
    )
    scan = (
        parts.crossJoin(F.broadcast(pf))
        .crossJoin(F.broadcast(st))
        .select(
            "granularity",
            F.when(hit, 1).otherwise(0).alias("ph"),
            F.when(hit, F.col("rws")).otherwise(F.lit(0)).alias("rh"),
        )
        .groupBy("granularity")
        .agg(
            F.sum("ph").cast("long").alias("parts_scanned"),
            F.sum("rh").cast("long").alias("rows_scanned"),
        )
    )
    card = parts.groupBy("granularity").agg(
        F.count(F.lit(1)).cast("long").alias("n_partitions")
    )
    cost = scan.join(card, "granularity").select(
        "granularity",
        "n_partitions",
        "parts_scanned",
        "rows_scanned",
        (
            F.col("rows_scanned")
            + _Q481_OPEN * F.col("parts_scanned")
            + _Q481_LIST * F.col("n_partitions")
        )
        .cast("long")
        .alias("est_cost"),
    ).localCheckpoint(eager=False)
    best = cost.agg(F.min("est_cost").alias("mn"))
    return cost.crossJoin(F.broadcast(best)).select(
        "granularity",
        "n_partitions",
        "parts_scanned",
        "rows_scanned",
        "est_cost",
        (F.col("est_cost") == F.col("mn")).alias("best"),
    )

# ---------------------------------------------------------------------------
# q482 — target file-count sweep (pruning vs open-cost tradeoff)
# ---------------------------------------------------------------------------

_Q482_GRID = [5, 20, 80]
_Q482_OPEN = 300  # per-file open/footer overhead in row-equivalents


def _q482_oracle() -> str:
    preds = ", ".join(
        f"({i}, {flo}, {fhi})" for i, c, flo, fhi in _Q466_PREDS
        if c == "sd"
    )
    per_k = []
    for k in _Q482_GRID:
        per_k.append(f"""
            SELECT {k} AS n_files, z.fid, z.rws, z.mn_sd, z.mx_sd
            FROM (
                SELECT fid, CAST(COUNT(*) AS BIGINT) AS rws,
                       MIN(sd) AS mn_sd, MAX(sd) AS mx_sd
                FROM (
                    SELECT sd, ntile({k}) OVER (
                        ORDER BY sd, l_orderkey, l_linenumber) AS fid
                    FROM li
                ) GROUP BY fid
            ) z""")
    return f"""
        WITH li AS MATERIALIZED (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(l_shipdate AS DATE)) AS DOUBLE) AS sd,
                   l_orderkey, l_linenumber
            FROM lineitem
        ),
        st AS (SELECT MIN(sd) AS mnsd, MAX(sd) AS mxsd FROM li),
        zones AS MATERIALIZED ({" UNION ALL ".join(per_k)}),
        pf(pid, flo, fhi) AS (VALUES {preds}),
        scan AS (
            SELECT z.n_files,
                   CAST(SUM(CASE WHEN z.mn_sd <= st.mnsd
                                      + f.fhi * (st.mxsd - st.mnsd)
                                  AND z.mx_sd >= st.mnsd
                                      + f.flo * (st.mxsd - st.mnsd)
                             THEN 1 ELSE 0 END) AS BIGINT)
                       AS files_scanned,
                   CAST(SUM(CASE WHEN z.mn_sd <= st.mnsd
                                      + f.fhi * (st.mxsd - st.mnsd)
                                  AND z.mx_sd >= st.mnsd
                                      + f.flo * (st.mxsd - st.mnsd)
                             THEN z.rws ELSE 0 END) AS BIGINT)
                       AS rows_scanned
            FROM zones z CROSS JOIN pf f CROSS JOIN st
            GROUP BY z.n_files
        ),
        cost AS (
            SELECT n_files, files_scanned, rows_scanned,
                   rows_scanned + {_Q482_OPEN} * files_scanned AS est_cost
            FROM scan
        )
        SELECT CAST(n_files AS INT) AS n_files, files_scanned,
               rows_scanned, est_cost,
               est_cost = (SELECT MIN(est_cost) FROM cost) AS best
        FROM cost
    """


@query("q482_file_count_sweep", oracle=_q482_oracle())
def q482_file_count_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TARGET FILE SIZE decision (q417 picks a row target; this
    lane prices WHY): sweep the layout over {_Q482_GRID} equal-row
    files and charge the ship-day workload rows-scanned plus a
    per-file open/footer overhead. Finer files prune harder
    (rows_scanned falls monotonically — pinned) but multiply opens;
    the advisor picks the interior knee, which is exactly the
    OPTIMIZE target-size dial. Layouts via :func:`exact_ntile`.

    Scale shape: one distributed rank per grid point over the same
    projected relation; pricing on |files| × |preds| metadata."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("double")
        .alias("sd"),
        "l_orderkey",
        "l_linenumber",
    )
    st = li.agg(
        F.min("sd").alias("mnsd"), F.max("sd").alias("mxsd")
    ).localCheckpoint(eager=False)
    zones = None
    for k in _Q482_GRID:
        z = (
            exact_ntile(li, ["sd", "l_orderkey", "l_linenumber"], k,
                        out_col="fid")
            .groupBy("fid")
            .agg(
                F.count(F.lit(1)).cast("long").alias("rws"),
                F.min("sd").alias("mn_sd"),
                F.max("sd").alias("mx_sd"),
            )
            .select(F.lit(k).alias("n_files"), "*")
        )
        zones = z if zones is None else zones.unionByName(z)
    pf = spark.createDataFrame(
        [(i, flo, fhi) for i, c, flo, fhi in _Q466_PREDS if c == "sd"],
        "pid int, flo double, fhi double",
    )
    hit = (
        F.col("mn_sd")
        <= F.col("mnsd") + F.col("fhi") * (F.col("mxsd") - F.col("mnsd"))
    ) & (
        F.col("mx_sd")
        >= F.col("mnsd") + F.col("flo") * (F.col("mxsd") - F.col("mnsd"))
    )
    cost = (
        zones.crossJoin(F.broadcast(pf))
        .crossJoin(F.broadcast(st))
        .select(
            "n_files",
            F.when(hit, 1).otherwise(0).alias("fh"),
            F.when(hit, F.col("rws")).otherwise(F.lit(0)).alias("rh"),
        )
        .groupBy("n_files")
        .agg(
            F.sum("fh").cast("long").alias("files_scanned"),
            F.sum("rh").cast("long").alias("rows_scanned"),
        )
        .select(
            "*",
            (F.col("rows_scanned") + _Q482_OPEN * F.col("files_scanned"))
            .cast("long")
            .alias("est_cost"),
        )
        .localCheckpoint(eager=False)
    )
    best = cost.agg(F.min("est_cost").alias("mn"))
    return cost.crossJoin(F.broadcast(best)).select(
        F.col("n_files").cast("int").alias("n_files"),
        "files_scanned",
        "rows_scanned",
        "est_cost",
        (F.col("est_cost") == F.col("mn")).alias("best"),
    )


# ---------------------------------------------------------------------------
# q483 — STREAMING erasure (q479's compliance maintained at ingest)
# ---------------------------------------------------------------------------


def _q483_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    return QUERIES["q479_erasure_compliance_audit"].oracle


def _drain_q483_audit(
    spark: SparkSession, partials_path: str, sf_dir: str
) -> DataFrame:
    req = (
        sinks.landed(spark, partials_path, "c_custkey long")
        .select("c_custkey")
        .distinct()
    )
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    del_o = orders.join(
        F.broadcast(req), orders.o_custkey == req.c_custkey
    ).select("o_orderkey").localCheckpoint(eager=False)
    remaining_o = orders.join(F.broadcast(del_o), "o_orderkey", "left_anti")
    remaining_l = li.join(
        F.broadcast(del_o), li.l_orderkey == del_o.o_orderkey, "left_anti"
    )
    o_row = (
        orders.agg(F.count(F.lit(1)).cast("long").alias("rows_before"))
        .crossJoin(
            del_o.agg(F.count(F.lit(1)).cast("long").alias("rows_to_delete"))
        )
        .crossJoin(
            remaining_o.join(
                F.broadcast(req),
                F.col("o_custkey") == req.c_custkey,
                "left_semi",
            ).agg(F.count(F.lit(1)).cast("long").alias("rows_after_matching"))
        )
        .select(
            F.lit("orders").alias("table_name"),
            "rows_before", "rows_to_delete", "rows_after_matching",
            (F.col("rows_after_matching") == 0).alias("erasure_complete"),
        )
    )
    l_row = (
        li.agg(F.count(F.lit(1)).cast("long").alias("rows_before"))
        .crossJoin(
            li.join(
                F.broadcast(del_o),
                li.l_orderkey == del_o.o_orderkey,
                "left_semi",
            ).agg(F.count(F.lit(1)).cast("long").alias("rows_to_delete"))
        )
        .crossJoin(
            remaining_l.join(
                F.broadcast(del_o),
                remaining_l.l_orderkey == del_o.o_orderkey,
                "left_semi",
            ).agg(F.count(F.lit(1)).cast("long").alias("rows_after_matching"))
        )
        .select(
            F.lit("lineitem").alias("table_name"),
            "rows_before", "rows_to_delete", "rows_after_matching",
            (F.col("rows_after_matching") == 0).alias("erasure_complete"),
        )
    )
    return o_row.unionByName(l_row)


@query("q483_streaming_erasure", oracle=_q483_oracle())
def q483_streaming_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q479's right-to-be-forgotten pipeline with erasure REQUESTS
    arriving as a stream: each epoch delivers a slice of the request
    set into the epoch-idempotent sink (requests are tombstones —
    accumulating them is associative and replay-safe by construction),
    and the drain applies the UNION of all accumulated requests
    exactly as the batch lane does, then re-audits compliance.
    Registered with q479's own oracle: the streaming request path must
    produce the identical compliance card. Request dedup at drain
    (DISTINCT) makes duplicate submissions — the common real-world
    case — harmless.

    Scale shape: per epoch the sink writes that batch's request keys
    (tiny); the drain is q479's broadcast anti-join cascade."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    cust = read_table(spark, sf_dir, "customer")
    req = cust.filter(F.col("c_custkey") % 53 == 7).select("c_custkey")
    root = fresh_scratch_dir("erasure_", key=sf_dir)
    stage_path = f"{root}/staged"
    partials_path = f"{root}/partials"
    # two request batches split by key parity, plus an overlapping
    # duplicate re-submission staged with batch 1 — dedup must absorb
    # it; staged one file per batch and consumed by a REAL stream
    # (readStream + maxFilesPerTrigger=1 + availableNow)
    batches = req.withColumn(
        "b",
        F.when(F.col("c_custkey") % 2 == 0, 0).otherwise(1),
    ).unionByName(
        req.filter(F.col("c_custkey") % 4 == 0).withColumn("b", F.lit(1))
    )
    batches.repartition(1, "b").write.partitionBy("b").parquet(stage_path)
    sinks.seed(spark, partials_path, "c_custkey long")
    stream = (
        spark.readStream.schema("c_custkey long, b int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_path)
    )
    sinks.run_available_now(
        stream.select("c_custkey"),
        sinks.epoch_idempotent_sink(partials_path),
        sf_dir,
        ("customer",),
        checkpoint=f"{root}/ckpt",
    )
    return _drain_q483_audit(spark, partials_path, sf_dir)

# ---------------------------------------------------------------------------
# q484 — contrastive hard-negative mining
# ---------------------------------------------------------------------------

_Q484_QUERIES = 5
_Q484_K = 3


def _q484_oracle() -> str:
    dot_qc = _q477_dot_sql("qe", "ce")
    dot_qq = _q477_dot_sql("qe", "qe")
    dot_cc = _q477_dot_sql("ce", "ce")
    return f"""
        WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                          embedding AS qe
                   FROM embeddings WHERE vec_id < {_Q484_QUERIES}),
        c AS (SELECT vec_id AS nid, label AS nlabel, embedding AS ce
              FROM embeddings),
        s AS (
            SELECT qid, qlabel, nid, nlabel,
                   round({dot_qc}
                         / (sqrt({dot_qq}) * sqrt({dot_cc})), 6)
                       AS cosine_sim
            FROM q, c
            WHERE qid <> nid AND qlabel <> nlabel
        ),
        r AS (
            SELECT qid AS query_id, qlabel AS query_label,
                   nid AS negative_id, nlabel AS negative_label,
                   cosine_sim,
                   row_number() OVER (
                       PARTITION BY qid
                       ORDER BY cosine_sim DESC, nid) AS rank
            FROM s
        )
        SELECT query_id, query_label, negative_id, negative_label,
               CAST(rank AS BIGINT) AS rank, cosine_sim
        FROM r WHERE rank <= {_Q484_K}
    """


@query("q484_hard_negative_mining", oracle=_q484_oracle())
def q484_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training — per query
    vector, the top-{_Q484_K} most-similar vectors with a DIFFERENT
    label (the negatives that actually teach the margin; random
    negatives are too easy). The label-disagreement filter cuts the
    candidate set BEFORE scoring, queries broadcast, and the per-query
    window runs over already-scored candidates — q47's exact-cosine
    discipline with the contrastive twist. Every mined negative's
    label provably differs from its query's (pinned).

    Scale shape: |queries| is small and broadcast; the corpus is
    scanned once; at real scale the candidate set comes from the ANN
    index (q384's cells) instead of the full scan — this exact form
    is the oracle for that path."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "embeddings")
    fe = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = e.filter(F.col("vec_id") < _Q484_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        fe.alias("qe"),
    )
    c = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        fe.alias("ce"),
    )

    def dot(a: str, b: str):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    s = (
        c.join(F.broadcast(q),
               (F.col("qid") != F.col("nid"))
               & (F.col("qlabel") != F.col("nlabel")))
        .select(
            "qid", "qlabel", "nid", "nlabel",
            F.round(
                dot("qe", "ce")
                / (F.sqrt(dot("qe", "qe")) * F.sqrt(dot("ce", "ce"))),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine_sim"), F.asc("nid")
    )
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _Q484_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlabel").alias("query_label"),
            F.col("nid").alias("negative_id"),
            F.col("nlabel").alias("negative_label"),
            F.col("rank").cast("long").alias("rank"),
            "cosine_sim",
        )
    )


# ---------------------------------------------------------------------------
# q485 — two-level metadata pruning (manifest list → manifests → files)
# ---------------------------------------------------------------------------

_Q485_PREDS = [(1, 0.10, 0.12), (2, 0.50, 0.52), (3, 0.87, 0.88)]


def _q485_oracle() -> str:
    preds = ", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _Q485_PREDS)
    return f"""
        WITH days AS MATERIALIZED (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
                   CAST(year(o_orderdate) * 12 + month(o_orderdate)
                        AS BIGINT) AS mf
            FROM orders
        ),
        st AS (SELECT CAST(MIN(d) AS DOUBLE) AS mnd,
                      CAST(MAX(d) AS DOUBLE) AS mxd FROM days),
        files AS MATERIALIZED (
            SELECT mf, d, CAST(COUNT(*) AS BIGINT) AS rws
            FROM days GROUP BY mf, d
        ),
        manifests AS MATERIALIZED (
            SELECT mf, MIN(d) AS mn_d, MAX(d) AS mx_d,
                   CAST(COUNT(*) AS BIGINT) AS n_files
            FROM files GROUP BY mf
        ),
        pf(pid, flo, fhi) AS (VALUES {preds}),
        pr AS (
            SELECT pid, st.mnd + flo * (st.mxd - st.mnd) AS lo,
                   st.mnd + fhi * (st.mxd - st.mnd) AS hi
            FROM pf CROSS JOIN st
        ),
        mhit AS (
            SELECT p.pid,
                   CAST(COUNT(*) AS BIGINT) AS manifests_checked,
                   CAST(SUM(CASE WHEN m.mn_d <= p.hi AND m.mx_d >= p.lo
                             THEN 1 ELSE 0 END) AS BIGINT)
                       AS manifests_hit,
                   CAST(SUM(CASE WHEN m.mn_d <= p.hi AND m.mx_d >= p.lo
                             THEN m.n_files ELSE 0 END) AS BIGINT)
                       AS files_checked_two_level
            FROM pr p CROSS JOIN manifests m
            GROUP BY p.pid
        ),
        fhit AS (
            SELECT p.pid,
                   CAST(COUNT(*) AS BIGINT) AS files_checked_flat,
                   CAST(SUM(CASE WHEN f.d <= p.hi AND f.d >= p.lo
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_hit
            FROM pr p CROSS JOIN files f
            GROUP BY p.pid
        )
        SELECT m.pid AS pred_id, m.manifests_checked, m.manifests_hit,
               f.files_checked_flat, m.files_checked_two_level,
               f.files_hit,
               round(1.0 - CAST(m.manifests_checked
                                + m.files_checked_two_level AS DOUBLE)
                     / f.files_checked_flat, 6) AS metadata_read_saving
        FROM mhit m JOIN fhit f ON m.pid = f.pid
    """


@query("q485_two_level_metadata_pruning", oracle=_q485_oracle())
def q485_two_level_metadata_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO-LEVEL metadata pruning — the Iceberg manifest-list →
    manifest → file hierarchy, priced against a flat file listing: one
    file per (month, day) with day-grain zones, one manifest per month
    carrying the covering day range. A narrow date predicate checks
    every manifest (~80 metadata rows) but opens only the surviving
    manifests' file entries — vs the flat layout's every-file check
    (~2,400). The per-predicate card reports both costs and the
    metadata-read saving (>90% on narrow predicates — pinned), plus
    the true file hit count two-level pruning must not lose (superset
    containment pinned by test).

    Scale shape: pure metadata arithmetic at every scale — at 100 TB
    this hierarchy is exactly why planning stays sub-second while the
    flat listing would be a GB-scale scan."""
    orders = read_table(spark, sf_dir, "orders")
    days = orders.select(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mf"),
    )
    st = days.agg(
        F.min("d").cast("double").alias("mnd"),
        F.max("d").cast("double").alias("mxd"),
    ).localCheckpoint(eager=False)
    files = days.groupBy("mf", "d").agg(
        F.count(F.lit(1)).cast("long").alias("rws")
    ).localCheckpoint(eager=False)
    manifests = files.groupBy("mf").agg(
        F.min("d").alias("mn_d"),
        F.max("d").alias("mx_d"),
        F.count(F.lit(1)).cast("long").alias("n_files"),
    )
    pf = spark.createDataFrame(
        _Q485_PREDS, "pid int, flo double, fhi double"
    )
    pr = pf.crossJoin(F.broadcast(st)).select(
        "pid",
        (F.col("mnd") + F.col("flo") * (F.col("mxd") - F.col("mnd"))).alias(
            "lo"
        ),
        (F.col("mnd") + F.col("fhi") * (F.col("mxd") - F.col("mnd"))).alias(
            "hi"
        ),
    ).localCheckpoint(eager=False)
    mh = (F.col("mn_d") <= F.col("hi")) & (F.col("mx_d") >= F.col("lo"))
    mhit = (
        manifests.crossJoin(F.broadcast(pr))
        .select(
            "pid",
            F.when(mh, 1).otherwise(0).alias("h"),
            F.when(mh, F.col("n_files")).otherwise(F.lit(0)).alias("fc"),
        )
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("manifests_checked"),
            F.sum("h").cast("long").alias("manifests_hit"),
            F.sum("fc").cast("long").alias("files_checked_two_level"),
        )
    )
    fh = (F.col("d") <= F.col("hi")) & (F.col("d") >= F.col("lo"))
    fhit = (
        files.crossJoin(F.broadcast(pr))
        .select("pid", F.when(fh, 1).otherwise(0).alias("h"))
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("files_checked_flat"),
            F.sum("h").cast("long").alias("files_hit"),
        )
    )
    return mhit.join(fhit, "pid").select(
        F.col("pid").alias("pred_id"),
        "manifests_checked",
        "manifests_hit",
        "files_checked_flat",
        "files_checked_two_level",
        "files_hit",
        F.round(
            1.0
            - (
                F.col("manifests_checked") + F.col("files_checked_two_level")
            ).cast("double")
            / F.col("files_checked_flat"),
            6,
        ).alias("metadata_read_saving"),
    )

# ---------------------------------------------------------------------------
# q486 — referential-integrity audit (every TPC-H FK edge)
# ---------------------------------------------------------------------------

_Q486_EDGES = [
    ("orders.o_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders",
     "o_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey", "supplier",
     "s_suppkey"),
    ("customer.c_nationkey", "customer", "c_nationkey", "nation",
     "n_nationkey"),
    ("supplier.s_nationkey", "supplier", "s_nationkey", "nation",
     "n_nationkey"),
    ("nation.n_regionkey", "nation", "n_regionkey", "region",
     "r_regionkey"),
]


def _q486_oracle() -> str:
    rows = []
    for edge, child, ck, parent, pk in _Q486_EDGES:
        rows.append(f"""
            SELECT '{edge}' AS fk_edge,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM {child})
                       AS child_rows,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
                    WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                      WHERE p.{pk} = c.{ck}))
                       AS orphan_rows,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM {parent})
                       = (SELECT CAST(COUNT(DISTINCT {pk}) AS BIGINT)
                          FROM {parent}) AS parent_key_unique""")
    return f"""
        SELECT fk_edge, child_rows, orphan_rows, parent_key_unique,
               (orphan_rows = 0 AND parent_key_unique)
                   AS integrity_holds
        FROM ({" UNION ALL ".join(rows)}) t
    """


@query("q486_referential_integrity_audit", oracle=_q486_oracle())
def q486_referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Referential integrity across EVERY foreign-key edge of the
    schema — the schema-level completion of the q33 row-level
    integrity family, and the precondition ledger for optimizer
    rewrites (q488's join elimination is licensed exactly by these
    rows): per edge, the child row count, the orphan count (children
    whose key misses the parent — left-anti), and the parent-key
    uniqueness flag; ``integrity_holds`` is their conjunction. All
    seven edges hold on the generated data — the point is the audit
    machinery, which is what a catalog would run before trusting a
    declared-but-unenforced constraint.

    Scale shape: one anti-join per edge (the dimension sides
    broadcast; the two lineitem edges shuffle on their key once) and
    one distinct-count per parent."""
    out = None
    for edge, child, ck, parent, pk in _Q486_EDGES:
        c = read_table(spark, sf_dir, child)
        p = read_table(spark, sf_dir, parent)
        orphans = c.join(p, c[ck] == p[pk], "left_anti").agg(
            F.count(F.lit(1)).cast("long").alias("orphan_rows")
        )
        stats = (
            c.agg(F.count(F.lit(1)).cast("long").alias("child_rows"))
            .crossJoin(F.broadcast(orphans))
            .crossJoin(
                F.broadcast(
                    p.agg(
                        (
                            F.count(F.lit(1)) == F.countDistinct(pk)
                        ).alias("parent_key_unique")
                    )
                )
            )
            .select(
                F.lit(edge).alias("fk_edge"),
                "child_rows",
                "orphan_rows",
                "parent_key_unique",
                (
                    (F.col("orphan_rows") == 0) & F.col("parent_key_unique")
                ).alias("integrity_holds"),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out


# ---------------------------------------------------------------------------
# q487 — functional-dependency discovery
# ---------------------------------------------------------------------------

_Q487_PAIRS = [
    # (determinant, dependent) candidates over orders — the first two
    # hold by construction (key determines everything), the rest fail
    ("o_orderkey", "o_custkey"),
    ("o_orderkey", "o_orderpriority"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"),
]


def _q487_oracle() -> str:
    rows = []
    for a, b in _Q487_PAIRS:
        rows.append(f"""
            SELECT '{a}' AS determinant, '{b}' AS dependent,
                   (SELECT CAST(COUNT(DISTINCT {a}) AS BIGINT)
                    FROM orders) AS n_groups,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                        SELECT {a} FROM orders
                        GROUP BY {a}
                        HAVING COUNT(DISTINCT {b}) > 1) v)
                       AS violating_groups""")
    return f"""
        SELECT determinant, dependent, n_groups, violating_groups,
               violating_groups = 0 AS fd_holds
        FROM ({" UNION ALL ".join(rows)}) t
    """


@query("q487_functional_dependency_discovery", oracle=_q487_oracle())
def q487_functional_dependency_discovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Functional-dependency DISCOVERY over candidate column pairs —
    the profiling pass behind normalization advice, key inference and
    optimizer decorrelation: A→B holds iff no A-group carries more
    than one distinct B. The candidate list plants both outcomes: the
    key determines everything (holds), while customer→priority and
    priority→status fail on real data (a customer places orders of
    many priorities; a priority class spans every status). Violations
    are counted at
    group grain (how many determinant values break the FD), which is
    the actionable number — a near-FD with 3 violating groups is a
    data-quality lead, not a modeling fact.

    Scale shape: one grouped countDistinct per pair (map-combined);
    pairs share the single orders scan per group-by key."""
    orders = read_table(spark, sf_dir, "orders")
    out = None
    for a, b in _Q487_PAIRS:
        viol = (
            orders.groupBy(a)
            .agg(F.countDistinct(b).alias("nb"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(F.when(F.col("nb") > 1, 1).otherwise(0))
                .cast("long")
                .alias("violating_groups"),
            )
            .select(
                F.lit(a).alias("determinant"),
                F.lit(b).alias("dependent"),
                "n_groups",
                "violating_groups",
                (F.col("violating_groups") == 0).alias("fd_holds"),
            )
        )
        out = viol if out is None else out.unionByName(viol)
    return out


# ---------------------------------------------------------------------------
# q488 — join-elimination advisor (the rewrite q486 licenses)
# ---------------------------------------------------------------------------


def _q488_oracle() -> str:
    return """
        WITH with_join AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
        ),
        without_join AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
        ),
        pre AS (
            SELECT
                (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) = 0
                    AS fk_integrity,
                (SELECT COUNT(*) = COUNT(DISTINCT c_custkey)
                 FROM customer) AS pk_unique
        )
        SELECT w.n AS rows_with_join, wo.n AS rows_without_join,
               p.fk_integrity, p.pk_unique,
               (p.fk_integrity AND p.pk_unique) AS eliminable,
               (w.n = wo.n) AS rewrite_verified
        FROM with_join w CROSS JOIN without_join wo CROSS JOIN pre p
    """


@query("q488_join_elimination_advisor", oracle=_q488_oracle())
def q488_join_elimination_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOIN ELIMINATION, proven before it's advised — the optimizer
    rewrite real engines ship behind RELY constraints: a query that
    joins orders→customer but reads only orders columns can DROP the
    join iff every order has exactly one matching customer, i.e. FK
    integrity (no orphans) ∧ parent-key uniqueness — precisely
    q486's ledger entries, recomputed here as the rewrite's
    preconditions. The lane then VERIFIES the rewrite the expensive
    way (row count with the join == row count without — the check the
    advisor makes unnecessary) so ``eliminable`` and
    ``rewrite_verified`` must agree, and a planted orphan breaks both
    (tested).

    Scale shape: the preconditions are one anti-join + one
    distinct-count (metadata-cheap vs the join they retire); the
    verification join exists only to prove the advisor right."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    with_join = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).agg(F.count(F.lit(1)).cast("long").alias("rows_with_join"))
    without_join = orders.agg(
        F.count(F.lit(1)).cast("long").alias("rows_without_join")
    )
    fk = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    ).agg((F.count(F.lit(1)) == 0).alias("fk_integrity"))
    pk = cust.agg(
        (F.count(F.lit(1)) == F.countDistinct("c_custkey")).alias(
            "pk_unique"
        )
    )
    return (
        with_join.crossJoin(F.broadcast(without_join))
        .crossJoin(F.broadcast(fk))
        .crossJoin(F.broadcast(pk))
        .select(
            "rows_with_join",
            "rows_without_join",
            "fk_integrity",
            "pk_unique",
            (F.col("fk_integrity") & F.col("pk_unique")).alias("eliminable"),
            (F.col("rows_with_join") == F.col("rows_without_join")).alias(
                "rewrite_verified"
            ),
        )
    )

# ---------------------------------------------------------------------------
# q489 — optimizer datasheet (the round-12 decision surfaces on one card)
# ---------------------------------------------------------------------------


def _q489_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    o462 = QUERIES["q462_joint_grid_join_order"].oracle
    o468 = QUERIES["q468_mv_lattice_selection"].oracle
    o480 = QUERIES["q480_join_strategy_matrix"].oracle
    o488 = QUERIES["q488_join_elimination_advisor"].oracle
    return f"""
        SELECT
            (SELECT join_order FROM ({o462}) j
             WHERE j.estimator = 'joint_grid' AND j.best_estimated)
                AS chosen_join_order,
            (SELECT best_actual FROM ({o462}) j
             WHERE j.estimator = 'joint_grid' AND j.best_estimated)
                AS join_order_verified,
            (SELECT view_name FROM ({o468}) m
             WHERE m.step = 1 AND m.chosen) AS mv_first_pick,
            (SELECT view_name FROM ({o468}) m
             WHERE m.step = 2 AND m.chosen) AS mv_second_pick,
            (SELECT strategy FROM ({o480}) s
             WHERE s.edge = 'nation_customer' AND s.chosen)
                AS dim_edge_strategy,
            (SELECT strategy FROM ({o480}) s
             WHERE s.edge = 'orders_lineitem' AND s.chosen)
                AS fact_edge_strategy,
            (SELECT eliminable FROM ({o488}) e) AS join_eliminable,
            (SELECT rewrite_verified FROM ({o488}) e)
                AS elimination_verified
    """


@query("q489_optimizer_datasheet", oracle=_q489_oracle())
def q489_optimizer_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-12 OPTIMIZER surfaces on one card (the q459/q426
    datasheet discipline): the join order the joint-grid estimator
    picks (and whether the measurement agrees), the two greedy MV
    picks, the physical strategy chosen for the dimension and fact
    edges, and the join-elimination verdict with its expensive-path
    verification. Component oracles embedded verbatim so the card
    cannot drift from what it summarizes; every column pinned to its
    component by test.

    Scale shape: a 1-row combine of component verdicts — the
    components carry all the data cost."""
    j = q462_joint_grid_join_order(spark, sf_dir).filter(
        (F.col("estimator") == "joint_grid") & F.col("best_estimated")
    ).select(
        F.col("join_order").alias("chosen_join_order"),
        F.col("best_actual").alias("join_order_verified"),
    )
    m = q468_mv_lattice_selection(spark, sf_dir).localCheckpoint(eager=False)
    m1 = m.filter((F.col("step") == 1) & F.col("chosen")).select(
        F.col("view_name").alias("mv_first_pick")
    )
    m2 = m.filter((F.col("step") == 2) & F.col("chosen")).select(
        F.col("view_name").alias("mv_second_pick")
    )
    s = q480_join_strategy_matrix(spark, sf_dir).localCheckpoint(eager=False)
    s1 = s.filter(
        (F.col("edge") == "nation_customer") & F.col("chosen")
    ).select(F.col("strategy").alias("dim_edge_strategy"))
    s2 = s.filter(
        (F.col("edge") == "orders_lineitem") & F.col("chosen")
    ).select(F.col("strategy").alias("fact_edge_strategy"))
    e = q488_join_elimination_advisor(spark, sf_dir).select(
        F.col("eliminable").alias("join_eliminable"),
        F.col("rewrite_verified").alias("elimination_verified"),
    )
    return (
        j.crossJoin(F.broadcast(m1))
        .crossJoin(F.broadcast(m2))
        .crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(e))
    )


# ---------------------------------------------------------------------------
# q490 — IVM under RETRACTIONS (the delete half of the delta rule)
# ---------------------------------------------------------------------------


def _q490_oracle() -> str:
    return f"""
        SELECT {_Q468_MONTH} AS mth,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_linenumber <> 6
        GROUP BY 1
        HAVING COUNT(*) > 0
    """


@query("q490_ivm_retraction_delta", oracle=_q490_oracle())
def q490_ivm_retraction_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q469's insert-only delta rule extended to DELETES — the
    retraction half every CDC-fed materialized view needs: a batch of
    line-item deletions (every 6th line, scattered across months)
    arrives, and the view is maintained by SUBTRACTING the retracted
    rows' aggregate contribution group-wise (counts decrement; sums
    subtract in exact DECIMAL, so no float drift can accumulate over
    retraction batches). Groups whose count reaches zero drop out of
    the view — the multiplicity bookkeeping that distinguishes IVM
    from blind re-aggregation. The oracle is the from-scratch
    recompute over the surviving rows (recompute identity, q469's
    discipline), and the test pins that the retracted term is
    non-empty in every month (the delete really was scattered).

    Scale shape: the retraction term joins only the DELETED rows
    against orders (delta-sized); the standing view is adjusted, never
    rebuilt — as in q469, production reads the standing term from a
    persisted relation, and this lane rebuilds it inline only to have
    a view to maintain in one call."""
    from databricks_etl_spark.functions.scalars import MONEY

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr(_Q468_MONTH).alias("mth")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    retracted = li.filter(F.col("l_linenumber") == 6)

    def view_terms(ln: DataFrame, sign: int) -> DataFrame:
        return (
            orders.join(ln, orders.o_orderkey == ln.l_orderkey)
            .groupBy("mth")
            .agg(
                (F.lit(sign) * F.sum(F.col("rev").cast(MONEY))).alias(
                    "rev_part"
                ),
                (F.lit(sign) * F.count(F.lit(1))).alias("cnt"),
            )
        )

    standing = view_terms(li, 1)          # the view as built (all rows)
    retraction = view_terms(retracted, -1)  # the delete batch, negated
    return (
        standing.unionByName(retraction)
        .groupBy("mth")
        .agg(
            F.sum("rev_part").cast("double").alias("revenue"),
            F.sum("cnt").cast("long").alias("n_lines"),
        )
        .filter(F.col("n_lines") > 0)
    )

# ---------------------------------------------------------------------------
# q491 — corrupt-record quarantine (PERMISSIVE jsonl ingest)
# ---------------------------------------------------------------------------


def _q491_oracle() -> str:
    return """
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderkey % 100 <> 13) AS parsed_rows,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderkey % 100 = 13) AS quarantined_rows,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS total_rows,
            (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders
             WHERE o_orderkey % 100 <> 13) AS parsed_key_sum,
            TRUE AS quarantine_complete
    """


@query("q491_corrupt_record_quarantine", oracle=_q491_oracle())
def q491_corrupt_record_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Malformed-record QUARANTINE on the jsonl ingest path, physically
    exercised (the q460 sink-then-prove discipline applied to
    robustness): every 100th order is REALLY WRITTEN as a broken JSON
    line (truncated mid-object — the classic crashed-writer artifact),
    the file set is re-read in PERMISSIVE mode with
    ``columnNameOfCorruptRecord``, and the audit proves the contract
    S2 generalizes to JSON: parsed rows carry values (exact key sum),
    broken lines land in the corrupt-record column (never silently
    dropped, never poisoning the typed columns), and parsed +
    quarantined = written. The total-count oracle column states the
    conservation law.

    Scale shape: one line-grain map pass at read (the parser itself);
    the audit is one fused aggregate."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    path = fresh_scratch_dir("quarantine_", key=sf_dir)
    lines = orders.select(
        F.when(
            F.col("o_orderkey") % 100 == 13,
            # truncated mid-object: a real crashed-writer line
            F.concat(
                F.lit('{"o_orderkey": '),
                F.col("o_orderkey").cast("string"),
                F.lit(', "o_cust'),
            ),
        )
        .otherwise(F.to_json(F.struct("o_orderkey", "o_custkey",
                                      "o_orderpriority")))
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    parsed = spark.read.schema(
        "o_orderkey long, o_custkey long, o_orderpriority string,"
        " _corrupt string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).json(path)
    return parsed.agg(
        F.count(
            F.when(F.col("_corrupt").isNull(), 1)
        ).cast("long").alias("parsed_rows"),
        F.count("_corrupt").cast("long").alias("quarantined_rows"),
        F.count(F.lit(1)).cast("long").alias("total_rows"),
        F.sum(
            F.when(F.col("_corrupt").isNull(), F.col("o_orderkey"))
        ).cast("long").alias("parsed_key_sum"),
        (
            F.count(
                F.when(
                    F.col("_corrupt").isNotNull()
                    & F.col("o_custkey").isNotNull(),
                    1,
                )
            )
            == 0
        ).alias("quarantine_complete"),
    )


# ---------------------------------------------------------------------------
# q492 — table content fingerprint (order-independent fixity)
# ---------------------------------------------------------------------------

_Q492_NIB = 12  # 48-bit per-row hash → DECIMAL(38,0) sum never overflows


def _q492_row_sql() -> str:
    # every column passes through an explicit NULL sentinel so the
    # canonical string NEVER goes NULL (DuckDB '||' propagates NULL;
    # Spark concat_ws skips them — both paths are defused)
    cols = [
        "CAST(o_orderkey AS VARCHAR)",
        "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus",
        "o_orderpriority",
        "CAST(datediff('day', DATE '1970-01-01',"
        " CAST(o_orderdate AS DATE)) AS VARCHAR)",
    ]
    return " || '|' || ".join(f"coalesce({c}, '<NULL>')" for c in cols)


def _q492_hash_sql(row: str) -> str:
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5({row}), {k}, 1)) - 1)"
        f" * {16 ** (_Q492_NIB - k)}::BIGINT"
        for k in range(1, _Q492_NIB + 1)
    )
    return f"({terms})"


def _q492_oracle() -> str:
    h = _q492_hash_sql(f"({_q492_row_sql()})")
    return f"""
        SELECT 'orders' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST({h} AS DECIMAL(38,0))) AS VARCHAR)
                   AS content_fingerprint
        FROM orders
    """


def _q492_row_col() -> F.Column:
    # mirror of _q492_row_sql: explicit NULL sentinel per column, so
    # concat_ws's skip-NULL behavior can never diverge from the
    # oracle's NULL-propagating '||' (a NULL column would otherwise
    # silently drop its separator here but zero the row hash there)
    cols = [
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).cast("string"),
    ]
    return F.concat_ws(
        "|", *[F.coalesce(c, F.lit("<NULL>")) for c in cols]
    )


def _q492_hash_col(row: F.Column) -> F.Column:
    from functools import reduce

    h = F.md5(row)
    return reduce(
        lambda a, b: a + b,
        [
            (
                F.instr(F.lit("0123456789abcdef"), F.substring(h, k, 1)) - 1
            ).cast("long")
            * F.lit(16 ** (_Q492_NIB - k)).cast("long")
            for k in range(1, _Q492_NIB + 1)
        ],
    )


@query("q492_table_fingerprint", oracle=_q492_oracle())
def q492_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content FINGERPRINT of a table — the fixity check replication
    and backup systems run to prove two copies are the same table
    without moving either: each row renders to a canonical string
    (integer/date/string columns only — float rendering is not
    portable across engines and has no place in a fingerprint), hashes
    to 48 bits of its md5, and the fingerprint is the exact DECIMAL
    sum — ORDER-INDEPENDENT and partitioning-independent by
    construction, so any two faithful replicas agree byte-for-byte
    and a single flipped row moves the sum (q493 localizes it). The
    fingerprint is returned as a string: it is an identity, not a
    number to do arithmetic on.

    Scale shape: one map pass + one exact decimal sum (map-combined);
    cross-replica comparison then exchanges ONE row per table."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(_q492_hash_col(_q492_row_col()).cast("decimal(38,0)"))
        .cast("string")
        .alias("content_fingerprint"),
    ).select(F.lit("orders").alias("table_name"), "*")


# ---------------------------------------------------------------------------
# q493 — anti-entropy drift localization (Merkle-style bucket compare)
# ---------------------------------------------------------------------------

_Q493_BUCKETS = 64
_Q493_MUTATED_KEY_MOD = 977  # replica B flips priority where key%977==1


def _q493_oracle() -> str:
    h = _q492_hash_sql(f"({_q492_row_sql()})")
    mut_row = _q492_row_sql().replace(
        "o_orderpriority",
        f"(CASE WHEN o_orderkey % {_Q493_MUTATED_KEY_MOD} = 1"
        " THEN 'CORRUPTED' ELSE o_orderpriority END)",
    )
    hb = _q492_hash_sql(f"({mut_row})")
    return f"""
        WITH a AS (
            SELECT o_orderkey % {_Q493_BUCKETS} AS bucket,
                   CAST(SUM(CAST({h} AS DECIMAL(38,0))) AS VARCHAR) AS fp,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        ),
        b AS (
            SELECT o_orderkey % {_Q493_BUCKETS} AS bucket,
                   CAST(SUM(CAST({hb} AS DECIMAL(38,0))) AS VARCHAR) AS fp,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        ),
        cmp AS (
            SELECT a.bucket, a.fp AS fp_a, b.fp AS fp_b,
                   a.n AS rows_a, b.n AS rows_b,
                   a.fp <> b.fp AS differs
            FROM a JOIN b ON a.bucket = b.bucket
        )
        SELECT
            CAST({_Q493_BUCKETS} AS BIGINT) AS buckets_compared,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cmp WHERE differs)
                AS buckets_differing,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderkey % {_Q493_MUTATED_KEY_MOD} = 1)
                AS mutated_rows,
            (SELECT CAST(COUNT(DISTINCT o_orderkey % {_Q493_BUCKETS})
                         AS BIGINT)
             FROM orders
             WHERE o_orderkey % {_Q493_MUTATED_KEY_MOD} = 1)
                AS buckets_with_mutations,
            (SELECT COUNT(*) FROM cmp WHERE differs)
                = (SELECT COUNT(DISTINCT o_orderkey % {_Q493_BUCKETS})
                   FROM orders
                   WHERE o_orderkey % {_Q493_MUTATED_KEY_MOD} = 1)
                AS localization_exact
    """


@query("q493_anti_entropy_localization", oracle=_q493_oracle(),
       bench=True)  # rotated in r13: fixity-family regression tracking
def q493_anti_entropy_localization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANTI-ENTROPY repair, localized — the Merkle-tree comparison a
    replicated store runs to find WHICH key ranges drifted without
    shipping data: both replicas fingerprint each of {_Q493_BUCKETS}
    key buckets (q492's order-independent decimal hash sums), exchange
    only the bucket digests, and the differing buckets are exactly the
    ones holding mutated rows. Replica B carries a planted corruption
    (every {_Q493_MUTATED_KEY_MOD}th key's priority flipped); the
    audit proves localization is EXACT — differing buckets ==
    buckets-with-mutations, no false alarms, no missed buckets (the
    48-bit sums make an accidental collision vanishingly unlikely and
    the oracle would catch one as a hash mismatch).

    Scale shape: each replica does one local map + grouped decimal
    sum; the cross-replica exchange is {_Q493_BUCKETS} digest rows —
    the entire point of Merkle repair at 100 TB."""
    orders = read_table(spark, sf_dir, "orders")
    row_a = _q492_row_col()
    mut = F.when(
        F.col("o_orderkey") % _Q493_MUTATED_KEY_MOD == 1, F.lit("CORRUPTED")
    ).otherwise(F.col("o_orderpriority"))
    row_b_cols = [
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        mut,
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).cast("string"),
    ]
    row_b = F.concat_ws(
        "|", *[F.coalesce(c, F.lit("<NULL>")) for c in row_b_cols]
    )

    def digests(row: F.Column, side: str) -> DataFrame:
        return orders.groupBy(
            (F.col("o_orderkey") % _Q493_BUCKETS).alias("bucket")
        ).agg(
            F.sum(_q492_hash_col(row).cast("decimal(38,0)"))
            .cast("string")
            .alias(f"fp_{side}")
        )

    cmp = digests(row_a, "a").join(digests(row_b, "b"), "bucket")
    diff = cmp.agg(
        F.sum(F.when(F.col("fp_a") != F.col("fp_b"), 1).otherwise(0))
        .cast("long")
        .alias("buckets_differing")
    )
    mut_stats = orders.filter(
        F.col("o_orderkey") % _Q493_MUTATED_KEY_MOD == 1
    ).agg(
        F.count(F.lit(1)).cast("long").alias("mutated_rows"),
        F.countDistinct(F.col("o_orderkey") % _Q493_BUCKETS)
        .cast("long")
        .alias("buckets_with_mutations"),
    )
    return (
        diff.crossJoin(F.broadcast(mut_stats))
        .select(
            F.lit(_Q493_BUCKETS).cast("long").alias("buckets_compared"),
            "buckets_differing",
            "mutated_rows",
            "buckets_with_mutations",
            (
                F.col("buckets_differing") == F.col("buckets_with_mutations")
            ).alias("localization_exact"),
        )
    )


# ---------------------------------------------------------------------------
# q494 — STREAMING fingerprint maintenance (q492 at ingest)
# ---------------------------------------------------------------------------


def _q494_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    return QUERIES["q492_table_fingerprint"].oracle


@query("q494_streaming_fingerprint", oracle=_q494_oracle())
def q494_streaming_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q492's fixity fingerprint maintained AT INGEST: the hash sum is
    fully associative, so each micro-batch lands its partial (count +
    decimal hash sum) in the epoch-idempotent sink and the drain adds
    partials — no row is ever re-hashed. Registered with q492's own
    oracle: the streamed fingerprint must equal the batch one exactly,
    which is the production property (a replica ingesting the same
    rows in any batching arrives at the same digest — fixity without
    coordination). Real readStream over the staged generations,
    availableNow.

    Scale shape: per-epoch cost is one map + 1-row aggregate over the
    arriving batch; the drain folds |epochs| 1-row partials."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    orders = read_table(spark, sf_dir, "orders")
    root = fresh_scratch_dir("fingerprint_", key=sf_dir)
    stage_path, partials_path = f"{root}/staged", f"{root}/partials"
    # staging is the test harness's stream stand-in; the fold is
    # slicing-invariant, so the write stays PARALLEL (any file count
    # per generation yields the same digest) and carries only the
    # fingerprint columns
    (
        orders.select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority", "o_orderdate",
            (F.col("o_orderkey") % 3).cast("int").alias("g"),
        )
        .write.partitionBy("g")
        .parquet(stage_path)
    )
    sinks.seed(spark, partials_path, "n long, s decimal(38,0)")

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        sinks.land(
            batch_df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(
                    _q492_hash_col(_q492_row_col()).cast("decimal(38,0)")
                ).alias("s"),
            ),
            epoch_id,
            partials_path,
        )

    stream = (
        spark.readStream.schema(
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_orderpriority string, o_orderdate timestamp, g int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_path)
    )
    sinks.run_available_now(
        stream, ingest, sf_dir, ("orders",), checkpoint=f"{root}/ckpt"
    )
    parts = sinks.landed(spark, partials_path, "n long, s decimal(38,0)")
    return parts.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum("s").cast("string").alias("content_fingerprint"),
    ).select(F.lit("orders").alias("table_name"), "*")

# ---------------------------------------------------------------------------
# q495 — table-maintenance scheduler (compact / recluster / vacuum triggers)
# ---------------------------------------------------------------------------

_Q495_SMALL_SHARE = 0.5   # trigger compaction if > half the files are small
_Q495_SMALL_ROWS = 128    # "small file" threshold (rows as byte stand-in)
_Q495_DEPTH_MAX = 3.0     # trigger recluster when avg overlap depth exceeds
_Q495_TOMBSTONES = 1      # trigger vacuum when this many files are expired
_Q495_RETENTION = 1       # vacuum retention window (versions)


def _q495_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    o475 = QUERIES["q475_clustering_depth_metric"].oracle
    o444 = QUERIES["q444_vacuum_retention_audit"].oracle
    return f"""
        WITH f AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS rws
            FROM events GROUP BY 1, 2
        ),
        small AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(CASE WHEN rws < {_Q495_SMALL_ROWS}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_small
            FROM f
        )
        SELECT
            round(CAST(s.n_small AS DOUBLE) / s.n_files, 6)
                AS small_file_share,
            CAST(s.n_small AS DOUBLE) / s.n_files > {_Q495_SMALL_SHARE}
                AS compact_now,
            (SELECT a.avg_overlap_depth FROM ({o475}) a
             WHERE a.layout = 'l_orderkey') AS worst_layout_depth,
            (SELECT a.avg_overlap_depth FROM ({o475}) a
             WHERE a.layout = 'l_orderkey') > {_Q495_DEPTH_MAX}
                AS recluster_now,
            (SELECT v.reclaimable_files FROM ({o444}) v
             WHERE v.retention_versions = {_Q495_RETENTION})
                AS reclaimable_files,
            (SELECT v.reclaimable_files FROM ({o444}) v
             WHERE v.retention_versions = {_Q495_RETENTION})
                >= {_Q495_TOMBSTONES} AS vacuum_now
        FROM small s
    """


@query("q495_maintenance_scheduler", oracle=_q495_oracle())
def q495_maintenance_scheduler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TABLE-MAINTENANCE scheduler — the card an auto-OPTIMIZE
    service reads each cycle to decide which jobs to enqueue: COMPACT
    when the small-file share of the ingest layout crosses its
    threshold (q417's file model), RECLUSTER when the worst layout's
    clustering depth (q475's metric on the unclustered control)
    exceeds its budget, VACUUM when the tombstone log holds
    reclaimable files under the retention window (q444's sweep). Each
    trigger carries its measured evidence next to its verdict, and
    component oracles are embedded verbatim — the scheduler cannot
    drift from the metrics it schedules on. All three triggers fire on
    this corpus (pinned), which is the realistic steady state of a
    streaming-ingested table.

    Scale shape: three metadata-grain component rollups combined in
    1-row broadcasts."""
    from databricks_etl_spark.plans.queries_round11 import _daily_files
    from databricks_etl_spark.plans.queries_round11b import (
        q444_vacuum_retention_audit,
    )

    files = _daily_files(spark, sf_dir)
    small = files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(F.col("rws") < _Q495_SMALL_ROWS, 1).otherwise(0)).alias(
            "n_small"
        ),
    ).select(
        F.round(
            F.col("n_small").cast("double") / F.col("n_files"), 6
        ).alias("small_file_share"),
        (
            F.col("n_small").cast("double") / F.col("n_files")
            > _Q495_SMALL_SHARE
        ).alias("compact_now"),
    )
    depth = q475_clustering_depth_metric(spark, sf_dir).filter(
        F.col("layout") == "l_orderkey"
    ).select(
        F.col("avg_overlap_depth").alias("worst_layout_depth"),
        (F.col("avg_overlap_depth") > _Q495_DEPTH_MAX).alias(
            "recluster_now"
        ),
    )
    vac = q444_vacuum_retention_audit(spark, sf_dir).filter(
        F.col("retention_versions") == _Q495_RETENTION
    ).select(
        "reclaimable_files",
        (F.col("reclaimable_files") >= _Q495_TOMBSTONES).alias(
            "vacuum_now"
        ),
    )
    return small.crossJoin(F.broadcast(depth)).crossJoin(F.broadcast(vac))

# ---------------------------------------------------------------------------
# q496 — data-contract card (the dbt-test suite as one relation)
# ---------------------------------------------------------------------------

_Q496_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]
_Q496_AS_OF = "2002-01-01"  # F6 rule: freshness vs a FIXED as-of date
_Q496_FRESH_DAYS = 365


def _q496_oracle() -> str:
    accepted = ", ".join(f"'{p}'" for p in _Q496_PRIORITIES)
    return f"""
        SELECT 'orders' AS table_name, 'not_null' AS check_type,
               'o_orderkey' AS subject,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                WHERE o_orderkey IS NULL) AS failures
        UNION ALL
        SELECT 'orders', 'unique', 'o_orderkey',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                    SELECT o_orderkey FROM orders
                    GROUP BY o_orderkey HAVING COUNT(*) > 1) d)
        UNION ALL
        SELECT 'customer', 'unique', 'c_custkey',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                    SELECT c_custkey FROM customer
                    GROUP BY c_custkey HAVING COUNT(*) > 1) d)
        UNION ALL
        SELECT 'orders', 'accepted_values', 'o_orderpriority',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                WHERE o_orderpriority NOT IN ({accepted}))
        UNION ALL
        SELECT 'orders', 'relationship', 'o_custkey->customer',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'orders', 'freshness', 'o_orderdate',
               (SELECT CAST(CASE WHEN datediff('day',
                        MAX(CAST(o_orderdate AS DATE)),
                        DATE '{_Q496_AS_OF}') > {_Q496_FRESH_DAYS}
                    THEN 1 ELSE 0 END AS BIGINT) FROM orders)
    """


@query("q496_data_contract_card", oracle=f"""
        SELECT table_name, check_type, subject, failures,
               failures = 0 AS passed
        FROM ({_q496_oracle()}) t
    """)
def q496_data_contract_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATA CONTRACT as one relation — the five canonical test
    types a dbt-style suite declares (not_null, unique,
    accepted_values, relationship, freshness), each evaluated to a
    failure COUNT (the actionable number) plus the pass verdict, one
    row per declared check. The freshness check measures against the
    F6 fixed as-of date, never current_date. This is the consumer-
    facing face of the DQ family: q31–q33 profile, q486 audits edges,
    this card states the promises and whether they hold today.

    Scale shape: each check is one aggregate or one anti-join; the
    whole card is a union of 1-row verdicts."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")

    def card(table: str, ctype: str, subject: str, fails: DataFrame):
        return fails.select(
            F.lit(table).alias("table_name"),
            F.lit(ctype).alias("check_type"),
            F.lit(subject).alias("subject"),
            F.col("failures").cast("long").alias("failures"),
        )

    rows = [
        card("orders", "not_null", "o_orderkey",
             orders.agg(F.count(F.when(F.col("o_orderkey").isNull(), 1))
                        .alias("failures"))),
        card("orders", "unique", "o_orderkey",
             orders.groupBy("o_orderkey")
             .agg(F.count(F.lit(1)).alias("n"))
             .agg(F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
                  .alias("failures"))),
        card("customer", "unique", "c_custkey",
             cust.groupBy("c_custkey")
             .agg(F.count(F.lit(1)).alias("n"))
             .agg(F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
                  .alias("failures"))),
        card("orders", "accepted_values", "o_orderpriority",
             orders.agg(F.sum(
                 F.when(~F.col("o_orderpriority").isin(_Q496_PRIORITIES), 1)
                 .otherwise(0)).alias("failures"))),
        card("orders", "relationship", "o_custkey->customer",
             orders.join(cust, orders.o_custkey == cust.c_custkey,
                         "left_anti")
             .agg(F.count(F.lit(1)).alias("failures"))),
        card("orders", "freshness", "o_orderdate",
             orders.agg(
                 F.when(
                     F.datediff(
                         F.lit(_Q496_AS_OF).cast("date"),
                         F.max(F.col("o_orderdate").cast("date")),
                     ) > _Q496_FRESH_DAYS,
                     1,
                 ).otherwise(0).alias("failures"))),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    # coalesce the sum-based failure counts (empty-violation sums are
    # NULL) and attach the verdict
    return out.select(
        "table_name",
        "check_type",
        "subject",
        F.coalesce(F.col("failures"), F.lit(0)).alias("failures"),
        (F.coalesce(F.col("failures"), F.lit(0)) == 0).alias("passed"),
    )

# ---------------------------------------------------------------------------
# q497 — bounded BFS over the supplier–part bipartite graph
# ---------------------------------------------------------------------------

_Q497_SEED = 1  # BFS source supplier


def _q497_oracle() -> str:
    return f"""
        WITH e AS MATERIALIZED (
            SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
        ),
        p1 AS MATERIALIZED (
            SELECT DISTINCT p FROM e WHERE s = {_Q497_SEED}
        ),
        s2 AS MATERIALIZED (
            SELECT DISTINCT e.s FROM e JOIN p1 ON e.p = p1.p
            WHERE e.s <> {_Q497_SEED}
        ),
        p3 AS MATERIALIZED (
            SELECT DISTINCT e.p FROM e JOIN s2 ON e.s = s2.s
            WHERE e.p NOT IN (SELECT p FROM p1)
        )
        SELECT 1 AS hop, 'part' AS node_type,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM p1) AS n_reached
        UNION ALL
        SELECT 2, 'supplier', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
        UNION ALL
        SELECT 3, 'part', (SELECT CAST(COUNT(*) AS BIGINT) FROM p3)
    """


@query("q497_bipartite_bfs", oracle=_q497_oracle())
def q497_bipartite_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the supplier–part bipartite graph (edges =
    distinct (suppkey, partkey) pairs of lineitem) from one seed
    supplier — graph traversal as SQL, finally ORACLED (the graph
    family's q169/q213 lanes are rows-only by seeding; BFS frontiers
    are deterministic sets): hop 1 = the seed's parts, hop 2 = rival
    suppliers sharing any of them, hop 3 = the NEW parts those rivals
    add. Each frontier subtracts the visited set (anti-join), the
    bounded-fixed-point discipline (q213/q382) applied to reachability
    — each hop is one equi-join + one dedup, never a cross product.

    Scale shape: frontier joins are equi-joins on the edge relation
    (shuffle by part then by supplier); visited-set subtraction is a
    broadcast anti-join while frontiers are small — the exact shape of
    one Pregel superstep without the framework."""
    li = read_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct().localCheckpoint(eager=False)
    p1 = e.filter(F.col("s") == _Q497_SEED).select("p").distinct()
    s2 = (
        e.join(F.broadcast(p1), "p")
        .filter(F.col("s") != _Q497_SEED)
        .select("s")
        .distinct()
    )
    p3 = (
        e.join(F.broadcast(s2), "s")
        .select("p")
        .distinct()
        .join(F.broadcast(p1), "p", "left_anti")
    )

    def cnt(df: DataFrame, hop: int, node_type: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_reached")).select(
            F.lit(hop).alias("hop"),
            F.lit(node_type).alias("node_type"),
            "n_reached",
        )

    return (
        cnt(p1, 1, "part")
        .unionByName(cnt(s2, 2, "supplier"))
        .unionByName(cnt(p3, 3, "part"))
    )


# ---------------------------------------------------------------------------
# q498 — SCD2 point-in-time join (facts attributed to dimension versions)
# ---------------------------------------------------------------------------


def _q498_oracle() -> str:
    return """
        WITH versions AS MATERIALIZED (
            SELECT user_id, ts AS valid_from, value AS acct_value,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS valid_to
            FROM events WHERE event_type = 'purchase'
        ),
        clicks AS (
            SELECT user_id, ts FROM events WHERE event_type = 'click'
        ),
        attributed AS (
            SELECT c.user_id, v.valid_from, v.acct_value
            FROM clicks c JOIN versions v
              ON c.user_id = v.user_id
             AND c.ts >= v.valid_from
             AND (v.valid_to IS NULL OR c.ts < v.valid_to)
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_clicks_attributed,
               CAST(COUNT(DISTINCT valid_from) AS BIGINT)
                   AS n_versions_touched,
               CAST(SUM(CAST(acct_value AS DECIMAL(28,6))) AS DOUBLE)
                   AS attributed_value
        FROM attributed GROUP BY user_id
    """


@query("q498_scd2_point_in_time_join", oracle=_q498_oracle())
def q498_scd2_point_in_time_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The POINT-IN-TIME join — q76's SCD2 validity intervals put to
    their purpose: every click is attributed to the purchase-version
    of its user that was VALID AT the click's timestamp (interval
    containment, half-open [from, to) with NULL to = current), the
    temporal-correctness join every warehouse needs to avoid
    leaking future dimension values into historical facts. Clicks
    before a user's first version attribute to nothing (inner join —
    stated, not accidental). Per user: attributed clicks, distinct
    versions touched, decimal-exact attributed value.

    Scale shape: versions and facts co-shuffle once on user_id; the
    interval predicate evaluates within co-partitions (at most
    |versions per user| comparisons per fact — versions per key are
    bounded, so this never degenerates to a cross product)."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.col("value").alias("acct_value"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    attributed = clicks.join(
        versions,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("c_ts") < F.col("valid_to"))),
    )
    return attributed.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks_attributed"),
        F.countDistinct("valid_from").cast("long").alias(
            "n_versions_touched"
        ),
        F.sum(F.col("acct_value").cast("decimal(28,6)"))
        .cast("double")
        .alias("attributed_value"),
    )

# ---------------------------------------------------------------------------
# q499 — stratified k-fold assignment (leakage-free CV splits)
# ---------------------------------------------------------------------------

_Q499_FOLDS = 5


def _q499_oracle() -> str:
    return f"""
        WITH folds AS (
            SELECT lang,
                   1 + (row_number() OVER (
                       PARTITION BY lang ORDER BY doc_id) - 1)
                       % {_Q499_FOLDS} AS fold,
                   n_chars
            FROM documents
        )
        SELECT lang, CAST(fold AS INT) AS fold,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS fold_chars
        FROM folds GROUP BY lang, fold
    """


@query("q499_stratified_kfold", oracle=_q499_oracle())
def q499_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED k-fold assignment for cross-validation — every
    stratum (language) is dealt round-robin into {_Q499_FOLDS} folds
    in deterministic doc_id order, so each fold carries the stratum
    mix of the corpus (per-stratum fold sizes differ by ≤1, pinned)
    and the assignment is reproducible run-to-run without a seed. The
    round-robin deal is a PARTITIONED window (one shuffle on the
    stratum key, parallel across strata) — never a global order. Per
    (stratum, fold): document and character counts, the numbers a CV
    harness feeds its fold budgets.

    Scale shape: one partitioned window + one grouped rollup; strata
    are independent so skew salts apply per stratum if one language
    dominates."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    folds = docs.select(
        "lang",
        (1 + (F.row_number().over(w) - 1) % _Q499_FOLDS)
        .cast("int")
        .alias("fold"),
        "n_chars",
    )
    return folds.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("fold_chars"),
    )


# ---------------------------------------------------------------------------
# q500 — bootstrap confidence interval with deterministic resampling
# ---------------------------------------------------------------------------

_Q500_B = 32  # bootstrap replicates
# deterministic Poisson(1) draw from one md5 nibble (q452's inverse-CDF
# discipline): nibble 0..15 → weight via the CDF table below
# P(0)=.3679 P(1)=.7358 P(2)=.9197 P(3)=.9810 → thresholds on 16ths
_Q500_POIS = [0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 2, 2, 2, 3]


def _q500_weight_sql(b: int) -> str:
    tbl = ", ".join(str(v) for v in _Q500_POIS)
    return (
        f"([{tbl}])[1 + instr('0123456789abcdef',"
        f" substr(md5('bs:{b}:' || CAST(o_orderkey AS VARCHAR)), 1, 1))"
        f" - 1]"
    )


def _q500_oracle() -> str:
    reps = " UNION ALL ".join(
        f"""SELECT {b} AS b,
                CAST(SUM(CAST({_q500_weight_sql(b)} * o_totalprice
                              AS DECIMAL(28,6)))
                     / SUM({_q500_weight_sql(b)}) AS DOUBLE) AS m
            FROM orders"""
        for b in range(1, _Q500_B + 1)
    )
    return f"""
        WITH reps AS MATERIALIZED ({reps}),
        ranked AS (
            SELECT m, row_number() OVER (ORDER BY m, b) AS rk
            FROM reps
        )
        SELECT
            round((SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                         / COUNT(*) AS DOUBLE) FROM orders), 6)
                AS point_mean,
            CAST({_Q500_B} AS BIGINT) AS n_replicates,
            round((SELECT m FROM ranked WHERE rk = 2), 6) AS boot_lo,
            round((SELECT m FROM ranked WHERE rk = {_Q500_B - 1}), 6)
                AS boot_hi,
            (SELECT m FROM ranked WHERE rk = 2)
                <= (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                                / COUNT(*) AS DOUBLE) FROM orders)
            AND (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                             / COUNT(*) AS DOUBLE) FROM orders)
                <= (SELECT m FROM ranked WHERE rk = {_Q500_B - 1})
                AS ci_covers_point
    """


@query("q500_bootstrap_ci", oracle=_q500_oracle())
def q500_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOTSTRAP confidence interval for a data metric (mean order
    value) with fully DETERMINISTIC resampling — the uncertainty
    quantification a metrics platform attaches to every dashboard
    number: {_Q500_B} Poisson-bootstrap replicates whose per-row
    weights come from one md5 nibble through a literal inverse-CDF
    table (the q452 DP-noise discipline — swap a seeded CSPRNG in
    production, the plumbing is identical), each replicate mean in
    exact decimal, and the interval as order statistics (2nd and
    31st of 32 — no percentile interpolation, so both engines agree
    bit-for-bit). The CI covers the point estimate (pinned) and its
    width is the metric's sampling noise at this corpus size.

    Scale shape: all {_Q500_B} replicate sums fuse into ONE scan of
    orders (conditional aggregates per replicate); the order
    statistics run over {_Q500_B} rows."""
    orders = read_table(spark, sf_dir, "orders")
    pois = F.array(*[F.lit(v) for v in _Q500_POIS])

    def weight(b: int) -> F.Column:
        nib = F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"bs:{b}:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                1,
            ),
        )
        return F.element_at(pois, nib)

    # one fused pass: every replicate's weighted sum + weight total
    aggs = []
    for b in range(1, _Q500_B + 1):
        w = weight(b)
        aggs.append(
            F.sum((w * F.col("o_totalprice")).cast("decimal(28,6)")).alias(
                f"s{b}"
            )
        )
        aggs.append(F.sum(w).alias(f"w{b}"))
    aggs.append(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("tot")
    )
    aggs.append(F.count(F.lit(1)).alias("n"))
    one = orders.agg(*aggs).localCheckpoint(eager=False)
    reps = None
    for b in range(1, _Q500_B + 1):
        r = one.select(
            F.lit(b).alias("b"),
            (F.col(f"s{b}") / F.col(f"w{b}")).cast("double").alias("m"),
        )
        reps = r if reps is None else reps.unionByName(r)
    from pyspark.sql import Window

    rk = F.row_number().over(Window.orderBy("m", "b"))  # 32 rows
    ranked = reps.withColumn("rk", rk)
    lo = ranked.filter(F.col("rk") == 2).select(F.col("m").alias("m_lo"))
    hi = ranked.filter(F.col("rk") == _Q500_B - 1).select(
        F.col("m").alias("m_hi")
    )
    point = one.select(
        (F.col("tot") / F.col("n")).cast("double").alias("pm")
    )
    # coverage flag from the UNROUNDED values (matching the oracle,
    # which compares raw replicate means); rounding is display-only
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.round("pm", 6).alias("point_mean"),
            F.lit(_Q500_B).cast("long").alias("n_replicates"),
            F.round("m_lo", 6).alias("boot_lo"),
            F.round("m_hi", 6).alias("boot_hi"),
            (
                (F.col("m_lo") <= F.col("pm"))
                & (F.col("pm") <= F.col("m_hi"))
            ).alias("ci_covers_point"),
        )
    )

# ---------------------------------------------------------------------------
# q501 — STREAMING PIT attribution with RETRACTIONS (late versions)
# ---------------------------------------------------------------------------


def _q501_oracle() -> str:
    from databricks_etl_spark.plans.registry import QUERIES

    return QUERIES["q498_scd2_point_in_time_join"].oracle


def _q501_attrib(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """q498's attribution at (user, version) grain over an arbitrary
    purchase subset: intervals rebuilt from the subset, clicks
    attributed by containment."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = purchases.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.col("value").alias("acct_value"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return (
        clicks.join(
            versions,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") >= F.col("valid_from"))
            & (
                F.col("valid_to").isNull()
                | (F.col("c_ts") < F.col("valid_to"))
            ),
        )
        .groupBy("user_id", "valid_from", "acct_value")
        .agg(F.count(F.lit(1)).cast("long").alias("clicks"))
    )


def _q501_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )


_Q501_PURCHASES = "user_id long, ts timestamp_ntz, value double, event_id long"
_Q501_DELTA = (
    "user_id long, valid_from timestamp_ntz, acct_value double,"
    " clicks long, mult int"
)
_Q501_DELTA_SCHEMA = sinks.epoch_schema(_Q501_DELTA)


def _make_q501_epoch(
    spark: SparkSession, partials_path: str, clicks: DataFrame
):
    """CDC attribution sink: epoch e reads the purchases delivered by
    EARLIER epochs (partitions < e — so replaying e is idempotent),
    attributes against prior∪batch and prior, and lands only the
    DELTA: +1 rows for new/changed attributions, −1 RETRACTIONS for
    attributions the late version invalidated."""

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        prior = (
            sinks.landed(spark, f"{partials_path}/purchases", _Q501_PURCHASES)
            .filter(F.col("__epoch") < e)
            .drop("__epoch")
        )
        batch = batch_df.select("user_id", "ts", "value", "event_id")
        old = _q501_attrib(prior, clicks)
        new = _q501_attrib(prior.unionByName(batch), clicks)
        key = ["user_id", "valid_from", "acct_value", "clicks"]
        delta = (
            new.exceptAll(old).select(*key, F.lit(1).alias("mult"))
            .unionByName(
                old.exceptAll(new).select(*key, F.lit(-1).alias("mult"))
            )
        )
        sinks.land(delta, e, f"{partials_path}/attrib")
        sinks.land(batch, e, f"{partials_path}/purchases")

    return ingest


def _drain_q501(spark: SparkSession, partials_path: str) -> DataFrame:
    deltas = sinks.landed(spark, f"{partials_path}/attrib", _Q501_DELTA)
    net = (
        deltas.groupBy("user_id", "valid_from", "acct_value")
        .agg(F.sum(F.col("mult") * F.col("clicks")).alias("net_clicks"))
        .filter(F.col("net_clicks") > 0)
    )
    return net.groupBy("user_id").agg(
        F.sum("net_clicks").cast("long").alias("n_clicks_attributed"),
        F.countDistinct("valid_from").cast("long").alias(
            "n_versions_touched"
        ),
        F.sum(
            (F.col("acct_value") * F.col("net_clicks")).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("attributed_value"),
    )


@query("q501_streaming_pit_attribution", oracle=_q501_oracle())
def q501_streaming_pit_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q498's point-in-time attribution maintained under LATE-ARRIVING
    dimension versions — the hardest streaming case this engine
    handles: when a purchase version lands whose validity interval
    SPLITS an interval clicks were already attributed to, the sink
    emits RETRACTIONS (−1 multiplicities) for the invalidated
    attributions alongside the corrected +1 rows (the q490
    negative-multiplicity discipline riding q453's CDC sink). Epoch e
    derives its delta against exactly the partitions earlier epochs
    landed, so replaying an epoch reproduces its own delta
    (idempotent); the accumulated deltas TELESCOPE, so any slicing of
    the purchase stream drains to the same attribution — proven by
    registering q498's batch oracle. The purchase stream is split
    by event-id parity, which makes late interval-splitting versions
    pervasive (retractions non-empty, pinned by test).

    Scale shape: per epoch the recompute touches only users present
    in the batch in production (here the full prior set for
    simplicity of proof — the delta emission, which is the hard part,
    is identical); the drain is one grouped multiplicity fold."""
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    e = read_table(spark, sf_dir, "events")
    clicks = _q501_clicks(spark, sf_dir).localCheckpoint(eager=False)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    root = fresh_scratch_dir("pit_attrib_", key=sf_dir)
    partials_path = f"{root}/partials"
    sinks.seed(spark, f"{partials_path}/purchases", _Q501_PURCHASES)
    sinks.seed(spark, f"{partials_path}/attrib", _Q501_DELTA)
    ingest = _make_q501_epoch(spark, partials_path, clicks)
    # event-id parity slices: epoch 1 delivers versions that land
    # BETWEEN epoch-0 versions — interval splits everywhere
    ingest(purchases.filter(F.col("event_id") % 2 == 0), 0)
    ingest(purchases.filter(F.col("event_id") % 2 == 1), 1)
    return _drain_q501(spark, partials_path)

# ---------------------------------------------------------------------------
# q502 — quantile normalization across sources (batch-effect correction)
# ---------------------------------------------------------------------------


def _q502_oracle() -> str:
    return """
        WITH g AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS grank,
                   n_chars AS gval,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n
            FROM documents
        ),
        s AS (
            SELECT source,
                   row_number() OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id
                   ) AS r,
                   CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
                       AS m
            FROM documents
        ),
        mapped AS (
            SELECT s.source,
                   g.gval AS norm_chars
            FROM s JOIN g
              ON g.grank = (s.r * g.n + s.m - 1) // s.m
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(norm_chars) AS BIGINT) AS sum_norm_chars,
               CAST(MIN(norm_chars) AS BIGINT) AS min_norm_chars,
               CAST(MAX(norm_chars) AS BIGINT) AS max_norm_chars
        FROM mapped GROUP BY source
    """


@query("q502_quantile_normalization", oracle=_q502_oracle())
def q502_quantile_normalization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUANTILE NORMALIZATION across sources — the batch-effect
    correction genomics made canonical, here equalizing document-
    length distributions across crawl sources before length-sensitive
    downstream steps: each document's within-source rank r (of m) maps
    to the GLOBAL order statistic at rank ⌈r·n/m⌉, so every source's
    normalized distribution is the same set of global values (sources
    of equal size land on IDENTICAL sums — pinned). Exact everywhere:
    the global rank→value relation comes from :func:`exact_ntile`
    with k = n (ntile(n) ≡ row_number — the kernel doubling as an
    exact distributed rank extractor, no SinglePartition), the
    within-source ranks are a partitioned window, and the target-rank
    arithmetic is integer ceiling division.

    Scale shape: one distributed rank over the corpus, one partitioned
    window, one equi-join on the target rank (both sides shuffle once
    on the rank key)."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    n = docs.count()  # bounded scalar: sizes the rank extractor
    g = exact_ntile(
        docs.select("n_chars", "doc_id"),
        ["n_chars", "doc_id"],
        n,
        out_col="grank",
    ).select(
        F.col("grank").cast("long").alias("grank"),
        F.col("n_chars").alias("gval"),
    )
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    s = docs.select(
        "source",
        F.row_number().over(ws).cast("long").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).cast(
            "long"
        ).alias("m"),
    )
    mapped = s.join(
        g,
        g.grank == F.expr(f"(r * {n} + m - 1) DIV m"),
    )
    return mapped.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("gval").cast("long").alias("sum_norm_chars"),
        F.min("gval").cast("long").alias("min_norm_chars"),
        F.max("gval").cast("long").alias("max_norm_chars"),
    )

# ---------------------------------------------------------------------------
# q503 — incremental recluster planning (local OPTIMIZE after appends)
# ---------------------------------------------------------------------------

_Q503_BASE_FILES = 20
_Q503_APPEND_FILES = 2


def _q503_oracle() -> str:
    return f"""
        WITH li AS MATERIALIZED (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(l_shipdate AS DATE)) AS DOUBLE) AS sd,
                   l_orderkey, l_linenumber
            FROM lineitem
        ),
        base AS MATERIALIZED (
            SELECT fid, CAST(COUNT(*) AS BIGINT) AS rws,
                   MIN(sd) AS mn_sd, MAX(sd) AS mx_sd
            FROM (
                SELECT sd, ntile({_Q503_BASE_FILES}) OVER (
                    ORDER BY sd, l_orderkey, l_linenumber) AS fid
                FROM li WHERE l_orderkey % 10 <> 0
            ) GROUP BY fid
        ),
        appended AS MATERIALIZED (
            SELECT 1000 + fid AS fid, CAST(COUNT(*) AS BIGINT) AS rws,
                   MIN(sd) AS mn_sd, MAX(sd) AS mx_sd
            FROM (
                SELECT sd, ntile({_Q503_APPEND_FILES}) OVER (
                    ORDER BY l_orderkey, l_linenumber) AS fid
                FROM li WHERE l_orderkey % 10 = 0
            ) GROUP BY fid
        ),
        overlap AS (
            SELECT DISTINCT b.fid, b.rws
            FROM base b JOIN appended a
              ON b.mn_sd <= a.mx_sd AND b.mx_sd >= a.mn_sd
        ),
        tot AS (
            SELECT (SELECT CAST(SUM(rws) AS BIGINT) FROM base)
                       + (SELECT CAST(SUM(rws) AS BIGINT) FROM appended)
                       AS total_rows
        )
        SELECT
            CAST({_Q503_BASE_FILES} AS BIGINT) AS n_base_files,
            CAST({_Q503_APPEND_FILES} AS BIGINT) AS n_appended_files,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM overlap)
                AS base_files_overlapping,
            (SELECT CAST(SUM(rws) AS BIGINT) FROM overlap)
                + (SELECT CAST(SUM(rws) AS BIGINT) FROM appended)
                AS rows_to_rewrite,
            round((CAST((SELECT SUM(rws) FROM overlap)
                        + (SELECT SUM(rws) FROM appended) AS DOUBLE))
                  / tot.total_rows, 6) AS rewrite_share,
            (SELECT COUNT(*) FROM overlap) < {_Q503_BASE_FILES}
                AS rewrite_is_local
        FROM tot
    """


@query("q503_incremental_recluster_plan", oracle=_q503_oracle())
def q503_incremental_recluster_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL recluster planning — what a clustering service does
    after appends instead of rewriting the table: the base layout is
    {_Q503_BASE_FILES} ship-day-clustered files, ingest lands
    {_Q503_APPEND_FILES} UNCLUSTERED files (arrival order — their day
    zones span everything), and the plan rewrites only the appended
    files plus the base files whose zones overlap them (q420's
    incremental-compaction discipline applied to clustering, with
    q475's zone-overlap as the trigger arithmetic). The honest
    verdict column: on ship-day data an arrival-ordered append
    overlaps EVERYTHING-ish, so ``rewrite_share`` quantifies exactly
    how un-local the rewrite is — the number that tells the service
    to cluster AT INGEST (q417) rather than re-sort after the fact
    (pinned: the appended zones force a majority rewrite here, which
    IS the lesson).

    Scale shape: layouts via :func:`exact_ntile`; the plan itself is
    file-grain zone arithmetic."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("double")
        .alias("sd"),
        "l_orderkey",
        "l_linenumber",
    )
    base = (
        exact_ntile(
            li.filter(F.col("l_orderkey") % 10 != 0),
            ["sd", "l_orderkey", "l_linenumber"],
            _Q503_BASE_FILES,
            out_col="fid",
        )
        .groupBy("fid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rws"),
            F.min("sd").alias("mn_sd"),
            F.max("sd").alias("mx_sd"),
        )
        .localCheckpoint(eager=False)
    )
    appended = (
        exact_ntile(
            li.filter(F.col("l_orderkey") % 10 == 0),
            ["l_orderkey", "l_linenumber"],
            _Q503_APPEND_FILES,
            out_col="fid",
        )
        .groupBy("fid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rws"),
            F.min("sd").alias("mn_sd"),
            F.max("sd").alias("mx_sd"),
        )
        .localCheckpoint(eager=False)
    )
    a = appended.select(
        F.col("mn_sd").alias("a_mn"), F.col("mx_sd").alias("a_mx")
    )
    overlap = (
        base.join(
            F.broadcast(a),
            (F.col("mn_sd") <= F.col("a_mx"))
            & (F.col("mx_sd") >= F.col("a_mn")),
        )
        .select("fid", "rws")
        .distinct()
    )
    ov = overlap.agg(
        F.count(F.lit(1)).cast("long").alias("base_files_overlapping"),
        F.sum("rws").cast("long").alias("ov_rows"),
    )
    ap = appended.agg(F.sum("rws").cast("long").alias("ap_rows"))
    tot = (
        base.agg(F.sum("rws").alias("b"))
        .crossJoin(ap.select(F.col("ap_rows").alias("a2")))
        .select((F.col("b") + F.col("a2")).cast("long").alias("total_rows"))
    )
    return (
        ov.crossJoin(F.broadcast(ap))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(_Q503_BASE_FILES).cast("long").alias("n_base_files"),
            F.lit(_Q503_APPEND_FILES).cast("long").alias(
                "n_appended_files"
            ),
            "base_files_overlapping",
            (F.col("ov_rows") + F.col("ap_rows"))
            .cast("long")
            .alias("rows_to_rewrite"),
            F.round(
                (F.col("ov_rows") + F.col("ap_rows")).cast("double")
                / F.col("total_rows"),
                6,
            ).alias("rewrite_share"),
            (F.col("base_files_overlapping") < _Q503_BASE_FILES).alias(
                "rewrite_is_local"
            ),
        )
    )

# ---------------------------------------------------------------------------
# q504 — market-basket pairs (support / confidence / lift)
# ---------------------------------------------------------------------------

_Q504_MIN_PAIR_ORDERS = 2  # support floor (orders containing the pair)
_Q504_TOP = 50


def _q504_oracle() -> str:
    return f"""
        WITH items AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem
        ),
        n AS (SELECT CAST(COUNT(DISTINCT ok) AS DOUBLE) AS n FROM items),
        isup AS MATERIALIZED (
            SELECT pk, CAST(COUNT(*) AS BIGINT) AS s FROM items GROUP BY pk
        ),
        pairs AS (
            SELECT a.pk AS pk_a, b.pk AS pk_b,
                   CAST(COUNT(*) AS BIGINT) AS pair_orders
            FROM items a JOIN items b
              ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk
            HAVING COUNT(*) >= {_Q504_MIN_PAIR_ORDERS}
        ),
        scored AS (
            SELECT p.pk_a, p.pk_b, p.pair_orders,
                   round(p.pair_orders / n.n, 6) AS support,
                   round(CAST(p.pair_orders AS DOUBLE) / sa.s, 6)
                       AS confidence_a_to_b,
                   round(p.pair_orders * n.n / (sa.s * sb.s), 6) AS lift
            FROM pairs p
            JOIN isup sa ON sa.pk = p.pk_a
            JOIN isup sb ON sb.pk = p.pk_b
            CROSS JOIN n
        )
        SELECT pk_a, pk_b, pair_orders, support, confidence_a_to_b, lift
        FROM scored
        ORDER BY pair_orders DESC, lift DESC, pk_a, pk_b
        LIMIT {_Q504_TOP}
    """


@query("q504_market_basket_pairs", oracle=_q504_oracle())
def q504_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET analysis — the association-rule trio
    (support, confidence, lift) for co-ordered part pairs: the pair
    relation comes from a SELF-JOIN ON THE ORDER KEY with pk_a < pk_b,
    which is bounded by construction (an order has ≤7 lines, so ≤21
    pairs per order — never a cross product over parts), item and pair
    supports count DISTINCT orders, and lift > 1 marks genuinely
    associated parts. Top-{_Q504_TOP} by pair support with full
    deterministic tiebreak. This is the apriori first pass as pure
    relational algebra — higher-order itemsets iterate the same join
    against the surviving pairs (the bounded-fixed-point discipline).

    Scale shape: one distinct projection, one key-local self-join
    (shuffle on orderkey — pairs generated inside co-partitions), one
    grouped count. The per-part support relation's cardinality is
    |distinct parts| — it SCALES with the data, so the join back onto
    pairs is deliberately unhinted: AQE broadcasts it at small scale
    and falls back to a shuffle join at 100× (a forced F.broadcast
    here would OOM; plan-audit tripwire pins the absence)."""
    li = read_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct().localCheckpoint(eager=False)
    n = float(items.select("ok").distinct().count())
    isup = items.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("s"))
    a = items.select("ok", F.col("pk").alias("pk_a"))
    b = items.select(F.col("ok").alias("ok_b"), F.col("pk").alias("pk_b"))
    pairs = (
        a.join(b, (a.ok == b.ok_b) & (F.col("pk_a") < F.col("pk_b")))
        .groupBy("pk_a", "pk_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_orders"))
        .filter(F.col("pair_orders") >= _Q504_MIN_PAIR_ORDERS)
    )
    sa = isup.select(F.col("pk").alias("pk_a"), F.col("s").alias("sa"))
    sb = isup.select(F.col("pk").alias("pk_b"), F.col("s").alias("sb"))
    scored = (
        pairs.join(sa, "pk_a")
        .join(sb, "pk_b")
        .select(
            "pk_a",
            "pk_b",
            "pair_orders",
            F.round(F.col("pair_orders") / F.lit(n), 6).alias("support"),
            F.round(
                F.col("pair_orders").cast("double") / F.col("sa"), 6
            ).alias("confidence_a_to_b"),
            F.round(
                F.col("pair_orders") * F.lit(n)
                / (F.col("sa") * F.col("sb")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("pair_orders"), F.desc("lift"), F.asc("pk_a"), F.asc("pk_b")
    ).limit(_Q504_TOP)


# ---------------------------------------------------------------------------
# q505 — multi-touch attribution (linear split over the lookback window)
# ---------------------------------------------------------------------------

_Q505_LOOKBACK_S = 7 * 86400  # clicks within 7 days before the purchase


def _q505_oracle() -> str:
    return f"""
        WITH purchases AS MATERIALIZED (
            SELECT user_id, event_id AS purchase_id, ts AS p_ts, value
            FROM events WHERE event_type = 'purchase'
        ),
        clicks AS MATERIALIZED (
            SELECT user_id, event_id AS click_id, ts AS c_ts
            FROM events WHERE event_type = 'click'
        ),
        touched AS (
            SELECT p.user_id, p.purchase_id, p.value, c.click_id,
                   CAST(COUNT(*) OVER (
                       PARTITION BY p.purchase_id) AS BIGINT) AS n_touches
            FROM purchases p JOIN clicks c
              ON p.user_id = c.user_id
             AND c.c_ts <= p.p_ts
             AND floor(epoch(p.p_ts)) - floor(epoch(c.c_ts))
                 <= {_Q505_LOOKBACK_S}
        )
        SELECT user_id,
               CAST(COUNT(DISTINCT purchase_id) AS BIGINT)
                   AS attributed_purchases,
               CAST(COUNT(*) AS BIGINT) AS touch_rows,
               CAST(SUM(CAST(round(value / n_touches, 6)
                             AS DECIMAL(28,6))) AS DOUBLE)
                   AS credited_value
        FROM touched GROUP BY user_id
    """


@query("q505_multi_touch_attribution", oracle=_q505_oracle())
def q505_multi_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-TOUCH attribution, linear model — the marketing-analytics
    complement of q67's last-touch as-of join: every purchase's value
    splits EQUALLY across the user's clicks in the 7-day lookback
    window (each share rounded to 6dp BEFORE the decimal sum, so the
    credited total is cross-engine exact — the per-touch rounding a
    real billing pipeline does anyway). The lookback comparison uses
    interval-free epoch arithmetic on the NTZ timestamps
    (``unix_timestamp``-class flooring on both engines via
    second-grain epochs). Per user: purchases attributed, touch rows,
    and the credited value — which is ≤ the purchase total exactly
    when some purchases have no in-window clicks (inner-join
    semantics, stated and tested).

    Scale shape: purchases and clicks co-shuffle once on user_id; the
    window counting touches per purchase is partitioned by purchase
    (bounded by clicks-per-user-week)."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    touched = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
            <= _Q505_LOOKBACK_S
        ),
    ).withColumn(
        "n_touches",
        F.count(F.lit(1)).over(Window.partitionBy("purchase_id")).cast(
            "long"
        ),
    )
    return touched.groupBy(F.col("p_user").alias("user_id")).agg(
        F.countDistinct("purchase_id").cast("long").alias(
            "attributed_purchases"
        ),
        F.count(F.lit(1)).cast("long").alias("touch_rows"),
        F.sum(
            F.round(F.col("value") / F.col("n_touches"), 6).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("credited_value"),
    )
